import itertools

import pytest

from sonic_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns ``(result, ids of the Spark jobs it launched)``."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def crash_after():
    """``crash_after(n)`` is a replay ``stop_requested`` hook that lets n
    batches run, then raises ``RuntimeError("injected crash")`` before the
    next one, as a process dying between batches would."""

    def make(n: int):
        calls = itertools.count(1)

        def stop() -> bool:
            if next(calls) > n:
                raise RuntimeError("injected crash")
            return False

        return stop

    return make


@pytest.fixture
def opened_paths(monkeypatch):
    """Paths the driver-side point read hands to ``pyarrow.dataset``, in
    call order (the fast path's equivalent of ``inputFiles()``)."""
    import pyarrow.dataset as ds

    seen: list[str] = []
    real = ds.dataset

    def spy(source, *a, **kw):
        seen.append(str(source))
        return real(source, *a, **kw)

    monkeypatch.setattr(ds, "dataset", spy)
    return seen

"""Spans around calls into the engine's public functions, recorded from
the benchmark's side: the engine's source stays untouched.

``Tracer.wrap`` replaces a function or method at runtime with one that
records a span (name, start, end, parent, run id) and runs the call under
its own Spark job group, so ``statusTracker`` attributes every Spark job,
task and failed task to the innermost span that caused it. Spans stay in
memory; :meth:`Tracer.dump` writes them once, at exit.

The lazy layers (scan, decode, reduce) return DataFrames and do their work
inside the merge that consumes them, so their times come from
:func:`layer_cuts`, a post-pass that re-runs each batch's manifest through
cumulative noop-sink cuts.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _group(self, sid: int | None) -> str:
        return f"{self.run_id}:{'root' if sid is None else sid}"

    def open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(sid)
        self.sc.setJobGroup(self._group(sid), name)
        return sid

    def close(self, sid: int) -> None:
        if self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} closed out of order")
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.pop()
        self.sc.setJobGroup(self._group(self._stack[-1] if self._stack else None), "")

    @contextmanager
    def span(self, name: str):
        sid = self.open(name)
        try:
            yield self.spans[sid]
        finally:
            self.close(sid)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Route calls of ``owner.attr`` (module function or class method)
        through a span named ``name``; :meth:`unwrap_all` restores it."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if isinstance(result, dict) and "status" in result:
                    rec["status"] = result["status"]
                return result

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------------------ analysis
    def count_jobs(self) -> None:
        """Attach self-attributed Spark jobs, completed tasks and failed
        tasks to every span (the jobs ran under the span's own group).
        Only succeeded jobs count as jobs; the others are recorded apart as
        ``self_unsucceeded_jobs``."""
        st = self.sc.statusTracker()
        for s in self.spans:
            jobs = tasks = failed = other = 0
            for jid in st.getJobIdsForGroup(self._group(s["id"])):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                if info.status != "SUCCEEDED":
                    other += 1
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    stage = st.getStageInfo(stage_id)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
            s.update(self_jobs=jobs, self_tasks=tasks, self_failed_tasks=failed,
                     self_unsucceeded_jobs=other)
        children: dict[int | None, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in reversed(self.spans):  # children have larger ids
            kids = children.get(s["id"], [])
            for key in ("jobs", "tasks", "failed_tasks"):
                s[key] = s[f"self_{key}"] + sum(k[key] for k in kids)
            s["dur"] = s["end"] - s["start"]
            s["self_s"] = s["dur"] - _covered(s, kids)

    def named(self, name: str, under: str | None = None) -> list[dict]:
        """Spans called ``name``, optionally only those below a span called
        ``under``."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while under is not None and p is not None and self.spans[p]["name"] != under:
                p = self.spans[p]["parent"]
            if under is None or p is not None:
                out.append(s)
        return out

    def total(self, name: str, under: str | None = None) -> float:
        """Summed duration of the spans :meth:`named` returns."""
        return sum(s["dur"] for s in self.named(name, under))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered(span: dict, kids: list[dict]) -> float:
    """Length of the union of the children's intervals inside ``span``."""
    covered, reach = 0.0, span["start"]
    for k in sorted(kids, key=lambda k: k["start"]):
        lo, hi = max(k["start"], reach), min(k["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            reach = hi
    return covered


class BatchClock:
    """Marks micro-batch boundaries through the replay loops'
    ``stop_requested`` hook, which runs once at the top of every batch.
    A batch's wall time therefore covers decode through commit AND the
    inline compaction/expiry that follows it. With a tracer, each batch is
    also a span called ``batch_span``."""

    def __init__(self, tracer: Tracer | None, batch_span: str):
        self.tracer = tracer
        self.batch_span = batch_span
        self.marks: list[float] = []
        self.batch_s: list[float] = []
        self._sid: int | None = None

    def _end_batch(self) -> None:
        if self._sid is not None:
            self.tracer.close(self._sid)
            self._sid = None

    def __call__(self) -> bool:
        self._end_batch()
        self.marks.append(time.perf_counter())
        if self.tracer is not None:
            self._sid = self.tracer.open(self.batch_span)
        return False

    @contextmanager
    def loop(self, name: str):
        """Time a whole loop; on exit, close its last batch and fill
        ``batch_s`` with every batch's wall time."""
        sid = self.tracer.open(name) if self.tracer is not None else None
        try:
            yield self
        finally:
            self._end_batch()
            ends = self.marks[1:] + [time.perf_counter()]
            self.batch_s = [e - s for s, e in zip(self.marks, ends)]
            if sid is not None:
                self.tracer.close(sid)


NO_CUTS = {"to_scan": 0.0, "to_decode": 0.0, "to_reduce": 0.0,
           "events": 0, "decode_errors": 0, "keys": 0}


def noop_write_s(df) -> float:
    """Seconds to run ``df`` in full into Spark's noop sink."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def layer_cuts(change_log, manifests, quarantine: bool) -> dict:
    """Time each manifest through cumulative noop-sink cuts: scan, + decode,
    + salted reduce. ``quarantine`` reduces only the clean rows, as
    ``replay_fanout(on_error="quarantine")`` does. Returns summed seconds
    per cut (each cut includes the stages before it) and the rows counted
    on the way."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from sonic_etl_spark.functions.codec import decode_change_events
    from sonic_etl_spark.operators.merge import reduce_batch
    from sonic_etl_spark.plans.planner import filter_to_manifests

    out = dict(NO_CUTS)
    for m in manifests:
        manifest = [tuple(e) for e in m]
        raw = filter_to_manifests(change_log, manifest)
        out["to_scan"] += noop_write_s(raw)
        dec_obs = Observation()
        typed = decode_change_events(raw).observe(
            dec_obs, F.count(F.lit(1)).alias("n"), F.count("decode_error").alias("bad"))
        out["to_decode"] += noop_write_s(typed)
        out["events"] += dec_obs.get["n"]
        out["decode_errors"] += dec_obs.get["bad"]
        typed = decode_change_events(raw)
        if quarantine:
            typed = typed.filter(F.col("decode_error").isNull())
        red_obs = Observation()
        reduced = reduce_batch(typed).observe(red_obs, F.count(F.lit(1)).alias("n"))
        out["to_reduce"] += noop_write_s(reduced)
        out["keys"] += red_obs.get["n"]
    return out

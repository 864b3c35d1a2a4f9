"""End-to-end convergence tests (SURVEY.md §5 test plan, item 2): replay with
duplicates, out-of-order application, overlapping ranges and crash/restart
must all converge to the same byte-identical table state."""

import pyspark.sql.functions as F
import pytest

from sonic_etl_spark.functions import decode_change_events
from sonic_etl_spark.log import synthesize_change_events
from sonic_etl_spark.operators import reduce_batch
from sonic_etl_spark.sources import TransactionalParquetTable
from sonic_etl_spark.sources.multitable import TransactionalTableSet
from sonic_etl_spark.streaming import replay
from sonic_etl_spark.streaming.fanout import replay_fanout

N = 4000


def _state_hash(df):
    cols = sorted(df.columns)
    return (
        df.select(
            F.sha2(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]), 256).alias("h")
        )
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10)).alias("s"))
        .first()["s"]
    )


@pytest.fixture(scope="module")
def log_df(spark):
    df = synthesize_change_events(spark, N).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def oracle_hash(log_df):
    """One-shot LWW over the whole log — no batching, no table, no manifests."""
    direct = reduce_batch(decode_change_events(log_df)).filter("op != 'delete'")
    return _state_hash(direct)


def test_replay_converges_to_oracle(spark, tmp_path, log_df, oracle_hash):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=8)
    res = replay(log_df, tab, chunk_size=200)
    assert res.batches_applied > 1 and res.rows_seen == N
    assert _state_hash(tab.read()) == oracle_hash


def test_batch_size_invariance(spark, tmp_path, log_df, oracle_hash):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t2"), n_buckets=8)
    replay(log_df, tab, chunk_size=137)  # awkward batching
    assert _state_hash(tab.read()) == oracle_hash


def test_crash_restart_resumes_exactly_once(spark, tmp_path, log_df, oracle_hash,
                                           crash_after):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t3"), n_buckets=8)
    with pytest.raises(RuntimeError, match="injected crash"):
        replay(log_df, tab, chunk_size=200, stop_requested=crash_after(2))
    committed_mid = len(tab.committed_ranges())
    assert committed_mid > 0
    res = replay(log_df, tab, chunk_size=200)  # resume
    assert res.batches_applied > 0
    assert _state_hash(tab.read()) == oracle_hash


def test_replay_is_idempotent(spark, tmp_path, log_df, oracle_hash):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t4"), n_buckets=8)
    replay(log_df, tab, chunk_size=500)
    sid = tab.latest()["snapshot_id"]
    res = replay(log_df, tab, chunk_size=500)
    assert res.batches_applied == 0
    assert tab.latest()["snapshot_id"] == sid
    assert _state_hash(tab.read()) == oracle_hash


def test_checkpoint_carries_lineage_and_throughput(spark, tmp_path, log_df):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t5"), n_buckets=8)
    replay(log_df, tab, chunk_size=2000)
    snaps = tab.history()
    merges = [s for s in snaps if s["metrics"].get("rows")]
    assert merges, "merge snapshots must carry metrics"
    for s in merges:
        assert s["metrics"]["events_per_sec"] > 0
        assert s["metrics"]["manifest"]
        assert s["parent_id"] is not None


# each replay driver with its target and the read of its converged state
DRIVERS = {
    "replay": (TransactionalParquetTable, replay, lambda t: t.read()),
    "replay_fanout": (TransactionalTableSet, replay_fanout, lambda t: t.read("source_code")),
}


@pytest.mark.parametrize("driver", sorted(DRIVERS))
def test_graceful_stop_between_batches(spark, tmp_path, log_df, oracle_hash, driver):
    make, drive, read = DRIVERS[driver]
    tab = make(spark, str(tmp_path / "t6"), n_buckets=8)
    calls = iter([False, False, True, True, True, True, True, True, True, True])
    res = drive(log_df, tab, chunk_size=200, stop_requested=lambda: next(calls))
    assert res.batches_applied == 2  # stopped cleanly after 2 batches
    drive(log_df, tab, chunk_size=200)
    assert _state_hash(read(tab)) == oracle_hash


def test_inline_validation_fails_batch_without_committing(spark, tmp_path):
    """Replay always validates: the check rides the merge write job
    (Observation, no second decode pass) and still aborts BEFORE the
    snapshot commit, so a poison log raises fail-the-batch and the table
    advances nothing. Asking for no validation is refused."""
    poisoned = synthesize_change_events(spark, 500, poison_fraction=0.1)
    tab = TransactionalParquetTable(spark, str(tmp_path / "tv"), n_buckets=4)
    with pytest.raises(ValueError, match="always validates"):
        replay(poisoned, tab, validate=False)
    with pytest.raises(ValueError, match="decode failed"):
        replay(poisoned, tab, chunk_size=1000)
    assert tab.committed_ranges() == set()
    assert tab.read().count() == 0


def test_replay_with_inline_retention_converges_and_resumes(
    spark, tmp_path, log_df, oracle_hash, crash_after
):
    """expire_keep bounds snapshot-log growth during long replays without
    touching convergence or crash-resume exactly-once (the latest snapshot
    carries the full manifest set)."""
    import os

    tab = TransactionalParquetTable(spark, str(tmp_path / "t7"), n_buckets=8)
    with pytest.raises(RuntimeError, match="injected crash"):
        replay(log_df, tab, chunk_size=200, stop_requested=crash_after(2),
               expire_keep=2, compact_threshold=4)
    replay(log_df, tab, chunk_size=200, expire_keep=2, compact_threshold=4)
    assert _state_hash(tab.read()) == oracle_hash
    # retention actually bit: the snapshot dir holds ~expire_keep entries,
    # not one per commit (3 allows the final compaction snapshot)
    snaps = os.listdir(str(tmp_path / "t7" / "_snapshots"))
    assert len(snaps) <= 3, snaps
    # and a fresh re-replay still no-ops
    res = replay(log_df, tab, chunk_size=200, expire_keep=2)
    assert res.batches_applied == 0


def test_replay_job_cli(spark, tmp_path, monkeypatch, log_df, oracle_hash):
    """jobs/replay_job.py: an existing --stop-file applies no batch; a
    single-table run with --expire-keep 2 and a --fanout run both converge
    to the one-shot LWW, and retention leaves at most 2 snapshot files."""
    import os

    from jobs.replay_job import main

    # the job's get_spark would otherwise reset the shared session's setting
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                       spark.conf.get("spark.sql.shuffle.partitions"))
    log = str(tmp_path / "log")
    log_df.write.parquet(log)
    stop = tmp_path / "stop"
    stop.touch()
    base = ["--log", log, "--chunk-size", "200", "--n-buckets", "8"]
    single = str(tmp_path / "single")
    assert main([*base, "--table", single, "--stop-file", str(stop)])["batches_applied"] == 0
    res = main([*base, "--table", single, "--expire-keep", "2"])
    assert res["batches_applied"] > 1 and res["rows_seen"] == N
    assert _state_hash(TransactionalParquetTable(spark, single).read()) == oracle_hash
    assert len(os.listdir(os.path.join(single, "_snapshots"))) <= 2
    fan = str(tmp_path / "fan")
    assert main([*base, "--table", fan, "--fanout"])["rows_seen"] == N
    assert _state_hash(TransactionalTableSet(spark, fan).read("source_code")) == oracle_hash


def test_long_chain_compaction_bounds_files_per_bucket(
    spark, tmp_path, log_df, oracle_hash
):
    """A replay long enough for compact_threshold to fire repeatedly
    mid-replay (13 batches at threshold 3) keeps every bucket's delta chain
    at or under the threshold and still converges to the one-shot LWW."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "long"), n_buckets=8)
    res = replay(log_df, tab, chunk_size=40, compact_threshold=3)
    assert res.batches_applied == 13
    fired = [s for s in tab.history() if "compaction" in s.get("metrics", {})]
    assert len(fired) >= 2
    assert max(tab.files_per_bucket().values()) <= 3
    assert _state_hash(tab.read()) == oracle_hash


def test_table_is_a_set_of_one(spark, tmp_path, log_df, oracle_hash):
    """The single table is the storage core with one member: one log
    replayed into a TransactionalParquetTable and, batch for batch, into a
    one-member TransactionalTableSet built from the same spec gives the same
    state, file layout and manifests; the set's read_for_keys returns the
    LWW state of exactly the keys' buckets and reads no other bucket."""
    from sonic_etl_spark.plans.planner import filter_to_manifests, log_heads, plan_batches
    from sonic_etl_spark.sources.multitable import TransactionalTableSet
    from sonic_etl_spark.streaming.fanout import FANOUT_SPECS

    tab = TransactionalParquetTable(spark, str(tmp_path / "one"), n_buckets=8)
    replay(log_df, tab, chunk_size=500)
    ts = TransactionalTableSet(spark, str(tmp_path / "set"), n_buckets=8)
    ts.create({"source_code": FANOUT_SPECS["source_code"]})
    for manifest in plan_batches(log_heads(log_df), set(), 500):
        updates = reduce_batch(decode_change_events(filter_to_manifests(log_df, manifest)))
        assert ts.merge_all({"source_code": updates}, manifest)["status"] == "committed"

    assert _state_hash(ts.read("source_code")) == _state_hash(tab.read()) == oracle_hash
    assert ts.files_per_bucket("source_code") == tab.files_per_bucket()
    assert ts.committed_ranges() == tab.committed_ranges()

    def bucket(df):
        return df.withColumn("_b", F.pmod(F.xxhash64("repo", "path"), F.lit(8)).cast("string"))

    state = ts.read("source_code")
    keys = state.select("repo", "path").orderBy("repo", "path").limit(3)
    key_buckets = {r["_b"] for r in bucket(keys).select("_b").distinct().collect()}
    assert 0 < len(key_buckets) < 8
    got = ts.read_for_keys("source_code", keys)
    semi = ["repo", "path"]
    assert _state_hash(got.join(keys, semi, "left_semi")) == _state_hash(
        state.join(keys, semi, "left_semi")
    )
    in_buckets = bucket(state).where(F.col("_b").isin(*key_buckets)).drop("_b")
    assert _state_hash(got) == _state_hash(in_buckets)
    files = got.inputFiles()
    assert files and {f.split("_pb=")[1].split("/")[0] for f in files} <= key_buckets

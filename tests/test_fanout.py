"""Fan-out replay tests: one decode pass → 3 tables under ONE shared
manifest commit (mod.rs:305-314 / streampublisher.rs:29-76 analog), with
cross-table atomicity, poison-row quarantine (dead-letter,
dataflow.tf:1-31), and parent/child invariants (row_counts.py:85-102)."""

import pyspark.sql.functions as F
import pytest

from sonic_etl_spark.functions import decode_change_events
from sonic_etl_spark.log import synthesize_change_events
from sonic_etl_spark.operators import reduce_batch
from sonic_etl_spark.sources.multitable import TransactionalTableSet
from sonic_etl_spark.streaming.fanout import (
    project_file_versions,
    replay_fanout,
)

N = 4000
POISON = 0.03


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
    df = synthesize_change_events(spark, N, poison_fraction=POISON).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def oracle_hashes(log_df):
    """One-shot projections over the whole log — no batching, no manifests."""
    typed = decode_change_events(log_df)
    clean = typed.filter(F.col("decode_error").isNull())
    return {
        "source_code": _state_hash(reduce_batch(clean).filter("op != 'delete'")),
        "file_versions": _state_hash(
            project_file_versions(clean).filter("op != 'delete'")
        ),
        "n_poison": typed.filter(F.col("decode_error").isNotNull()).count(),
    }


def _all_hashes(ts):
    return {
        "source_code": _state_hash(ts.read("source_code")),
        "file_versions": _state_hash(ts.read("file_versions")),
    }


def test_fanout_converges_and_quarantines(spark, tmp_path, log_df, oracle_hashes):
    ts = TransactionalTableSet(spark, str(tmp_path / "f1"), n_buckets=8)
    res = replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    assert res.batches_applied > 1
    assert _all_hashes(ts) == {
        k: oracle_hashes[k] for k in ("source_code", "file_versions")
    }
    q = ts.read("quarantine")
    assert q.count() == oracle_hashes["n_poison"] > 0
    classes = {r["decode_error"] for r in q.select("decode_error").distinct().collect()}
    assert classes == {"payload: malformed json", "size: mismatch vs content"}


def test_poison_rows_do_not_wedge_partitions(spark, tmp_path, log_df):
    """Every planned range commits despite poison rows in most batches —
    the dead-letter upgrade over fail-the-batch."""
    ts = TransactionalTableSet(spark, str(tmp_path / "f2"), n_buckets=8)
    res = replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    assert res.batches_skipped == 0
    # all offsets accounted for: committed ranges cover the whole log
    covered = sum(e - s + 1 for (_p, s, e) in ts.committed_ranges())
    assert covered == N


def test_fail_mode_keeps_reference_semantics(spark, tmp_path, log_df):
    ts = TransactionalTableSet(spark, str(tmp_path / "f3"), n_buckets=8)
    with pytest.raises(ValueError, match="decode failed"):
        replay_fanout(log_df, ts, chunk_size=500, on_error="fail")
    with pytest.raises(ValueError, match="on_error"):
        replay_fanout(log_df, ts, chunk_size=500, on_error="explode")


def test_crash_leaves_tables_mutually_consistent(
    spark, tmp_path, log_df, oracle_hashes, crash_after
):
    """Cross-table atomicity: a crash mid-replay leaves ALL tables at the
    same committed manifest frontier (no partially-published fan-out), and
    resume converges to the one-shot state."""
    ts = TransactionalTableSet(spark, str(tmp_path / "f4"), n_buckets=8)
    with pytest.raises(RuntimeError, match="injected crash"):
        replay_fanout(
            log_df, ts, chunk_size=200, on_error="quarantine",
            stop_requested=crash_after(2),
        )
    snap = ts.latest()
    committed = {tuple(m) for m in snap["manifests"]}
    assert len(committed) > 0
    # every table's rows lie within the committed ranges — none ahead, none behind
    for name in ("source_code", "file_versions"):
        off = ts.read(name).select(
            F.col("last_partition_id").alias("p"), F.col("last_offset").alias("o")
        )
        from functools import reduce as freduce

        in_committed = freduce(
            lambda a, b: a | b,
            [
                (F.col("p") == p) & (F.col("o") >= s) & (F.col("o") <= e)
                for (p, s, e) in committed
            ],
        )
        bad = off.filter(~in_committed).count()
        assert bad == 0, f"{name} has rows outside committed manifests"
    res = replay_fanout(log_df, ts, chunk_size=500, on_error="quarantine")
    assert res.batches_applied > 0
    assert _all_hashes(ts) == {
        k: oracle_hashes[k] for k in ("source_code", "file_versions")
    }


def test_parent_child_invariant(spark, tmp_path, log_df):
    """row_counts.py:85-102 analog: every converged source_code version must
    exist in file_versions (child covers parent)."""
    ts = TransactionalTableSet(spark, str(tmp_path / "f5"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=1000, on_error="quarantine")
    sc = ts.read("source_code").select("repo", "path", "commit")
    fv = ts.read("file_versions").select("repo", "path", "commit")
    orphans = sc.join(fv, ["repo", "path", "commit"], "left_anti").count()
    assert orphans == 0


def test_compaction_preserves_state(spark, tmp_path, log_df, oracle_hashes):
    ts = TransactionalTableSet(spark, str(tmp_path / "f6"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine",
                  compact_threshold=None)
    before = _all_hashes(ts)
    out = ts.compact(force=True)
    assert out["status"] == "compacted"
    assert _all_hashes(ts) == before == {
        k: oracle_hashes[k] for k in ("source_code", "file_versions")
    }


def test_tableset_schema_evolution_mid_stream(spark, tmp_path, log_df):
    """Add + rename on one fan-out table mid-replay: old files read under
    the new schema by field id; a producer still sending the old column
    name routes correctly; other tables unaffected; one atomic commit."""
    import pyspark.sql.functions as F2

    ts = TransactionalTableSet(spark, str(tmp_path / "f7"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine",
                  max_batches=1)
    before_versions = ts.read("file_versions").count()
    ts.evolve("source_code", add=[("branch", "string")],
              rename={"size_bytes": "content_bytes"})
    # resume: the producer (decode pipeline) still emits 'size_bytes'
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    sc = ts.read("source_code")
    assert "content_bytes" in sc.columns and "branch" in sc.columns
    assert "size_bytes" not in sc.columns
    # old-name data (both pre- and post-evolution batches) routed by field id
    assert sc.filter(F2.col("content_bytes").isNull()).count() == 0
    assert sc.filter(F2.col("branch").isNotNull()).count() == 0
    # sibling table untouched, still grows
    assert ts.read("file_versions").count() > before_versions


def test_stream_fanout_matches_batch_fanout(spark, tmp_path, log_df, oracle_hashes):
    """The streaming fan-out (foreachBatch → merge_all) converges to the
    same 3-table state as batch replay_fanout, and a fresh-checkpoint
    redelivery commits no new snapshots."""
    from sonic_etl_spark.streaming.fanout import stream_fanout

    log_dir = str(tmp_path / "slog")
    log_df.write.parquet(log_dir)
    ts = TransactionalTableSet(spark, str(tmp_path / "sf"), n_buckets=8)
    q = stream_fanout(
        spark, log_dir, ts, checkpoint_dir=str(tmp_path / "ck1"),
        max_files_per_trigger=3, on_error="quarantine",
    )
    q.awaitTermination()
    assert _all_hashes(ts) == {
        k: oracle_hashes[k] for k in ("source_code", "file_versions")
    }
    assert ts.read("quarantine").count() == oracle_hashes["n_poison"]
    sid = ts.latest()["snapshot_id"]
    q2 = stream_fanout(
        spark, log_dir, ts, checkpoint_dir=str(tmp_path / "ck2"),
        max_files_per_trigger=3, on_error="quarantine",
    )
    q2.awaitTermination()
    assert ts.latest()["snapshot_id"] == sid  # redelivery: all skipped


def test_retry_quarantine_recovers_dead_letters(spark, tmp_path, log_df):
    """Dead-letter replay: after the upstream payloads are repaired, a
    retry re-decodes exactly the quarantined offsets, merges the recovered
    rows, tombstones their quarantine entries atomically, and the 3-table
    state converges to the clean-log one-shot state. Idempotent per tag."""
    ts = TransactionalTableSet(spark, str(tmp_path / "f8"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=1000, on_error="quarantine")
    n_quarantined = ts.read("quarantine").count()
    assert n_quarantined > 0

    from sonic_etl_spark.streaming.fanout import retry_quarantine

    # wave 1: payloads still broken -> nothing recovers, state unchanged
    st1 = retry_quarantine(log_df, ts, tag=1)
    assert st1["status"] == "committed"
    assert ts.read("quarantine").count() == n_quarantined

    # wave 2: repaired upstream (same seed, poison off -> same payloads)
    fixed_log = synthesize_change_events(spark, N)
    st2 = retry_quarantine(fixed_log, ts, tag=2)
    assert st2["status"] == "committed"
    assert ts.read("quarantine").count() == 0

    clean_typed = decode_change_events(fixed_log)
    expected = {
        "source_code": _state_hash(
            reduce_batch(clean_typed).filter("op != 'delete'")
        ),
        "file_versions": _state_hash(
            project_file_versions(clean_typed).filter("op != 'delete'")
        ),
    }
    assert _all_hashes(ts) == expected

    # idempotent: same tag no-ops
    assert retry_quarantine(fixed_log, ts, tag=2)["status"] == "skipped"
    # and the range planner still resumes cleanly past the retry marks
    res = replay_fanout(log_df, ts, chunk_size=1000, on_error="quarantine")
    assert res.batches_applied == 0


def test_tableset_expire_snapshots(spark, tmp_path, log_df, oracle_hashes):
    """One retention call covers every table in the set (shared snapshot
    log): after compaction + expiry the delta roots are reclaimed, all
    per-table states are byte-identical, and the manifest set still
    dedupes a full re-replay."""
    import os

    ts = TransactionalTableSet(spark, str(tmp_path / "f9"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine",
                  compact_threshold=None)
    before = _all_hashes(ts)
    ts.compact(force=True)
    n_roots = len(os.listdir(str(tmp_path / "f9" / "data")))
    res = ts.expire_snapshots(keep_last=1)
    assert res["snapshots_expired"] > 0
    assert res["data_roots_removed"] > 0
    assert len(os.listdir(str(tmp_path / "f9" / "data"))) < n_roots
    assert _all_hashes(ts) == before
    assert len(ts.history()) == 1
    # exactly-once survives expiry: the full log re-replays to zero commits
    sid = ts.latest()["snapshot_id"]
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    assert ts.latest()["snapshot_id"] == sid


def test_tableset_read_changes_incremental(spark, tmp_path, log_df):
    """Per-table incremental scan over the shared snapshot log: a consumer
    anchored mid-replay sees only the rows committed after its anchor."""
    ts = TransactionalTableSet(spark, str(tmp_path / "f10"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=100, max_batches=2,
                  on_error="quarantine", compact_threshold=None)
    anchor = ts.latest()["snapshot_id"]
    base = ts.read_changes("file_versions").count()
    replay_fanout(log_df, ts, chunk_size=100, on_error="quarantine",
                  compact_threshold=None)
    inc = ts.read_changes("file_versions", from_snapshot_id=anchor)
    full = ts.read_changes("file_versions")
    assert inc.count() == full.count() - base
    assert inc.count() > 0


def test_tableset_lookup_single_bucket(
    spark, tmp_path, log_df, spark_jobs, opened_paths
):
    """Serving-path point reads on fan-out tables: only the key's bucket is
    scanned, with no Spark job; file_versions (bucketed by a PREFIX of its
    key) still prunes; each equals the Spark reference path."""
    ts = TransactionalTableSet(spark, str(tmp_path / "f11"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=1000, on_error="quarantine")

    def bucket_ids(paths):
        return {p.split("_pb=")[1].split("/")[0] for p in paths}

    row = ts.read("source_code").select("repo", "path").first()
    v = ts.read("file_versions").select("repo", "path", "commit").first()
    q = ts.read("quarantine").select("partition_id", "offset").first()
    for name, key in (
        ("source_code", row.asDict()),
        ("file_versions", v.asDict()),
        ("quarantine", q.asDict()),
    ):
        opened_paths.clear()
        rows, jobs = spark_jobs(lambda: ts.lookup(name, **key).collect())
        assert len(rows) == 1 and jobs == []
        total_files = sum(ts.files_per_bucket(name).values())
        assert 0 < len(opened_paths) < total_files
        assert len(bucket_ids(opened_paths)) == 1
        ref = ts._lookup_spark(name, key)
        assert ref.collect() == rows
        assert bucket_ids(ref.inputFiles()) == bucket_ids(opened_paths)

    import pytest as _pytest
    with _pytest.raises(KeyError, match="key columns"):
        ts.lookup("source_code", repo=row["repo"])


def test_fanout_inline_retention_preserves_state(spark, tmp_path, log_df, oracle_hashes):
    import os

    ts = TransactionalTableSet(spark, str(tmp_path / "f12"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=500, on_error="quarantine",
                  compact_threshold=4, expire_keep=2)
    assert _all_hashes(ts) == {
        k: oracle_hashes[k] for k in ("source_code", "file_versions")
    }
    snaps = os.listdir(str(tmp_path / "f12" / "_snapshots"))
    assert len(snaps) <= 3
    sid = ts.latest()["snapshot_id"]
    replay_fanout(log_df, ts, chunk_size=500, on_error="quarantine")
    assert ts.latest()["snapshot_id"] == sid  # manifests survive retention


def test_tableset_widen_and_drop_mid_stream(spark, tmp_path, log_df):
    """Widen + drop on one fan-out table mid-replay: lossless promotion
    applies to old files on read; the dropped column's field id is retired
    (re-add reads NULL over old files, fills from the producer after);
    sibling tables unaffected."""
    ts = TransactionalTableSet(spark, str(tmp_path / "f8"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine",
                  max_batches=1)
    ts.evolve("source_code", widen={"last_partition_id": "bigint"},
              drop=["lang"])
    sc = ts.read("source_code")
    assert dict(sc.dtypes)["last_partition_id"] == "bigint"
    assert "lang" not in sc.columns
    # re-add under a fresh id, resume the replay: producer 'lang' routes to
    # the NEW id, so post-evolution winners carry it while old bytes stay dead
    ts.evolve("source_code", add=[("lang", "string")])
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    sc = ts.read("source_code")
    assert sc.where("lang IS NOT NULL").count() > 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="key/order/bucket"):
        ts.evolve("source_code", drop=["repo"])
    with _pytest.raises(ValueError, match="lossless"):
        ts.evolve("source_code", widen={"content": "int"})


def test_tableset_zone_map_pruned_incremental_read(spark, tmp_path, log_df):
    """file_versions carries offset zone maps: a tailing consumer's
    range-filtered read_changes skips non-overlapping new files at plan
    time (strictly fewer inputFiles than the unpruned incremental read)."""
    import pyspark.sql.functions as F2

    ts = TransactionalTableSet(spark, str(tmp_path / "f9"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    base = 1  # the create() snapshot
    snap = ts.latest()
    fv = snap["tables"]["file_versions"]
    fid = str(next(f["id"] for f in fv["schemas"][-1]["fields"]
                   if f["name"] == "last_offset"))
    ents = [f for e in fv["buckets"].values() for f in e["files"]]
    assert ents and all(fid in f.get("stats", {}) for f in ents)

    pruned = ts.read_changes(
        "file_versions", base, where_between=("last_offset", 0, 199)
    )
    assert pruned.count() > 0
    assert pruned.agg(F2.max("last_offset")).first()[0] <= 199
    full = ts.read_changes("file_versions", base)
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    # source_code declared no stats_cols: range read still works, unpruned
    sc = ts.read_changes("source_code", base,
                         where_between=("last_offset", 0, 199))
    assert sc.agg(F2.max("last_offset")).first()[0] <= 199


def test_tableset_rollback_and_read_asof(spark, tmp_path, log_df, oracle_hashes):
    """Set rollback is cross-table-atomic: every table's files AND the
    shared manifests revert in one pointer flip, and resuming the fan-out
    replay re-applies the undone batches to all tables — reconverging to
    the oracle hashes. read_asof gives a consistent cross-table cut."""
    import time as _time

    ts = TransactionalTableSet(spark, str(tmp_path / "f10"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine",
                  max_batches=2)
    mid_id = ts.latest()["snapshot_id"]
    mid_counts = {n: ts.read(n).count() for n in ("source_code", "file_versions")}
    t_mid = _time.time()
    _time.sleep(0.05)
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    final_hashes = _all_hashes(ts)
    assert final_hashes == {
        k: oracle_hashes[k] for k in ("source_code", "file_versions")
    }

    # timestamp cut: both tables as of t_mid (the same shared snapshot)
    for n, c in mid_counts.items():
        assert ts.read_asof(t_mid, n).count() == c

    res = ts.rollback(mid_id)
    assert res["status"] == "rolled_back"
    for n, c in mid_counts.items():
        assert ts.read(n).count() == c
    # resume: the undone batches re-apply atomically and reconverge
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    assert _all_hashes(ts) == final_hashes
    assert ts.rollback(ts.latest()["snapshot_id"])["status"] == "noop"


def test_tableset_rebucket_preserves_state_and_resumption(spark, tmp_path,
                                                          log_df, oracle_hashes):
    """Set-wide rebucket: one commit rewrites every table into the new
    layout; state hashes unchanged, the replay resumes (manifests carried)
    and converges to the oracle hashes, lookups route through the new
    bucket count."""
    ts = TransactionalTableSet(spark, str(tmp_path / "f11"), n_buckets=8)
    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine",
                  max_batches=2)
    before = {n: ts.read(n).count() for n in ("source_code", "file_versions")}

    res = ts.rebucket(16)
    assert res["status"] == "rebucketed"
    assert ts.latest()["n_buckets"] == 16
    assert {n: ts.read(n).count() for n in before} == before
    for tbl in ts.latest()["tables"].values():
        if tbl["buckets"]:
            assert max(int(b) for b in tbl["buckets"]) < 16

    replay_fanout(log_df, ts, chunk_size=200, on_error="quarantine")
    assert _all_hashes(ts) == {
        k: oracle_hashes[k] for k in ("source_code", "file_versions")
    }
    # point lookup under the new layout
    row = ts.read("source_code").first()
    assert ts.lookup("source_code", repo=row["repo"], path=row["path"]).count() == 1
    assert ts.rebucket(16)["status"] == "noop"


def test_tableset_drop_stats_col_keeps_merges_working(spark, tmp_path):
    """Set twin of the table-level r4 ADVICE fix: evolve(drop=stats_col)
    must retire the name from stats_cols or every later merge_all fails
    collecting min/max of a column that no longer resolves."""
    from sonic_etl_spark.sources.multitable import TableSpec

    ts = TransactionalTableSet(spark, str(tmp_path / "fs"), n_buckets=2)
    ts.create({
        "t": TableSpec(
            fields=[("k", "string"), ("off", "bigint"), ("score", "double")],
            key_cols=["k"], order_cols=["off"], stats_cols=["score"],
        )
    })
    df = spark.createDataFrame([("a", 1, 0.5)], "k string, off bigint, score double")
    ts.merge_all({"t": df}, [(0, 0, 9)])
    ts.evolve("t", drop=["score"])
    assert ts.latest()["tables"]["t"]["stats_cols"] == []
    upd = spark.createDataFrame([("b", 2)], "k string, off bigint")
    assert ts.merge_all({"t": upd}, [(0, 10, 19)])["status"] == "committed"
    assert ts.read("t").count() == 2

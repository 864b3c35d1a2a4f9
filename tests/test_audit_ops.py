"""Audit operator unit tests (gaps, islands, count invariants, liveness)."""

from sonic_etl_spark.operators import audit as audit_ops


def test_missing_ids(spark):
    present = spark.createDataFrame(
        [(0,), (1,), (3,), (6,)], "event_id bigint"
    )
    missing = sorted(
        r["missing_id"]
        for r in audit_ops.missing_ids(spark, present, "event_id").collect()
    )
    assert missing == [2, 4, 5]


def test_missing_ids_explicit_bounds(spark):
    present = spark.createDataFrame([(2,)], "event_id bigint")
    missing = sorted(
        r["missing_id"]
        for r in audit_ops.missing_ids(spark, present, "event_id", lo=0, hi=4).collect()
    )
    assert missing == [0, 1, 3, 4]


def test_islands_runs(spark):
    ids = spark.createDataFrame(
        [(1,), (2,), (3,), (7,), (9,), (10,)], "event_id bigint"
    )
    runs = sorted(
        (r["run_start"], r["run_end"], r["run_len"])
        for r in audit_ops.islands(ids, "event_id").collect()
    )
    assert runs == [(1, 3, 3), (7, 7, 1), (9, 10, 2)]


def test_parent_child_counts_and_violations(spark):
    parent = spark.createDataFrame(
        [(1, 2), (2, 0), (3, 1)], "k bigint, expected bigint"
    )
    child = spark.createDataFrame([(1,), (1,), (3,), (3,)], "k bigint")
    prof = {
        r["k"]: r["n_children"]
        for r in audit_ops.parent_child_count_check(parent, child, "k").collect()
    }
    assert prof == {1: 2, 2: 0, 3: 2}
    bad = audit_ops.parent_child_count_check(
        parent, child, "k", expected_col="expected"
    ).collect()
    assert [r["k"] for r in bad] == [3]


def test_manifest_gap_audit():
    committed = {(0, 0, 99), (0, 200, 299), (1, 0, 49), (1, 50, 99)}
    gaps = audit_ops.manifest_gap_audit(committed)
    assert gaps == [(0, 100, 199)]


def test_liveness(spark):
    ev = spark.createDataFrame(
        [("2024-01-01 00:00:00",)], "ts string"
    ).selectExpr("cast(ts as timestamp) ts")
    import calendar
    newest = calendar.timegm((2024, 1, 1, 0, 0, 0))
    ok = audit_ops.liveness(ev, "ts", now_epoch=newest + 100, max_lag_sec=3600)
    assert ok["alive"] and ok["lag_sec"] == 100
    stale = audit_ops.liveness(ev, "ts", now_epoch=newest + 7200, max_lag_sec=3600)
    assert not stale["alive"]


def test_islands_stitch_across_blocks(spark):
    """Two-level islands must merge runs that span block boundaries and
    keep isolated ids separate (block=8 forces many edges)."""
    from sonic_etl_spark.operators.audit import islands

    ids = [1, 2, 3, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 30, 32]
    df = spark.createDataFrame([(i,) for i in ids], "x long")
    runs = {
        (r["run_start"], r["run_end"]): r["run_len"]
        for r in islands(df, "x", block=8).collect()
    }
    # 7..17 crosses blocks 0 (7) / 1 (8-15) / 2 (16-17) and must stitch
    assert runs == {(1, 3): 3, (7, 17): 11, (30, 30): 1, (32, 32): 1}

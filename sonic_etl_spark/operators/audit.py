"""Convergence / QC audit operators.

Re-expresses the reference's Airflow QC suite as reusable DataFrame ops:

- gap detection (daily_qc_airflow/daily_backfill_mainnet.py:47-160): dense
  offset domain minus committed set → missing offsets, via ``spark.range``
  + left_anti join (J4/O4/O5 in SURVEY.md §2).
- gaps-and-islands (daily_backfill_mainnet.py:131-144): consecutive missing
  offsets grouped to (start, end) runs with the ``id - row_number`` trick
  (J6) so backfill re-enqueues ranges, not single offsets.
- parent/child row-count invariants (daily_qc_airflow/row_counts.py:16-22,
  85-102): expected-vs-actual child counts per parent key (A6/J3).
- liveness (mainnet_hourly_block_check.py:33-47): max event ts vs now.

Scale: gap detection is one anti-join on a dense long key (no skew);
islands is one window over the (small) missing set; count invariants are
partial-aggregated groupBys joined to the parent — Catalyst broadcasts the
aggregate side when small.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from sonic_etl_spark.plans.planner import subtract_covered


def missing_ids(
    spark: SparkSession, present: DataFrame, id_col: str,
    lo: int | None = None, hi: int | None = None,
) -> DataFrame:
    """Ids absent from ``present`` within [lo, hi] (defaults: observed min/max).

    Output: one column ``missing_id`` (long).
    """
    if lo is None or hi is None:
        b = present.agg(
            F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
        ).first()
        lo = lo if lo is not None else b["lo"]
        hi = hi if hi is not None else b["hi"]
    domain = spark.range(lo, hi + 1).select(F.col("id").alias("missing_id"))
    return domain.join(
        present.select(F.col(id_col).cast("long").alias("missing_id")),
        on="missing_id",
        how="left_anti",
    )


def islands(ids: DataFrame, id_col: str, block: int = 1 << 20) -> DataFrame:
    """Group consecutive ids into runs: (run_start, run_end, run_len).

    Two-level gaps-and-islands, scalable: a GLOBAL ``Window.orderBy`` would
    funnel every id through one task. Instead:

    1. per-block runs — the ``id - row_number()`` trick inside a window
       PARTITIONED by ``id div block`` (parallel, each task sorts ≤ block
       ids);
    2. stitch across block edges — a run ending exactly at id ``e`` merges
       with a run starting at ``e+1``. Runs are ≤ ids/1 but typically ≪ ids
       (that's the point of run-length encoding), so the second level reuses
       the same trick over *runs*, keyed by ``run_start - total ids before
       it``: consecutive-and-adjacent runs share the key. The stage-2 window
       is global but over the (small) run relation; for pathological inputs
       (every id isolated) stage 2 degrades to stage-1 size — bounded by the
       missing-set, never the domain.
    """
    per_block = Window.partitionBy("_blk").orderBy("_id")
    runs = (
        ids.select(F.col(id_col).cast("long").alias("_id"))
        .withColumn("_blk", F.floor(F.col("_id") / block))
        .select(
            "_id",
            "_blk",
            (F.col("_id") - F.row_number().over(per_block)).alias("_grp"),
        )
        .groupBy("_blk", "_grp")
        .agg(
            F.min("_id").alias("run_start"),
            F.max("_id").alias("run_end"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .drop("_blk", "_grp")
    )
    # stage 2: runs sorted by start; cumulative length up to the previous
    # run equals run_start's rank-anchor iff runs are back-to-back adjacent
    w = Window.orderBy("run_start")
    stitched = (
        runs.select(
            "run_start",
            "run_end",
            "run_len",
            (
                F.col("run_start")
                - (F.sum("run_len").over(w) - F.col("run_len"))
            ).alias("_grp"),
        )
        .groupBy("_grp")
        .agg(
            F.min("run_start").alias("run_start"),
            F.max("run_end").alias("run_end"),
            F.sum("run_len").alias("run_len"),
        )
        .drop("_grp")
    )
    return stitched


def parent_child_count_check(
    parent: DataFrame, child: DataFrame, key: str,
    expected_col: str | None = None,
) -> DataFrame:
    """Per-parent child counts (0 for childless parents).

    With ``expected_col``, returns only violating parents (expected != actual)
    — the reference's HAVING sum_esc != record_count. Without, returns the
    full (key, n_children) profile for invariant snapshotting.
    """
    counts = child.groupBy(key).agg(F.count(F.lit(1)).alias("n_children"))
    joined = parent.join(counts, on=key, how="left").withColumn(
        "n_children", F.coalesce(F.col("n_children"), F.lit(0))
    )
    if expected_col is not None:
        return joined.where(F.col(expected_col) != F.col("n_children"))
    return joined


def manifest_gap_audit(committed: set[tuple[int, int, int]]) -> list[tuple[int, int, int]]:
    """Offset gaps inside each partition's committed manifest ranges: the
    partition's hull minus the committed set.

    Returns (partition_id, gap_start, gap_end) runs — the analog of the
    backfill DAG's republished ranges, which ``replay`` plans by itself.
    Driver-side because manifests are tiny control-plane metadata (≤
    thousands), never data rows.
    """
    hulls: dict[int, tuple[int, int]] = {}
    for pid, s, e in committed:
        lo, hi = hulls.get(pid, (s, e))
        hulls[pid] = (min(lo, s), max(hi, e))
    return subtract_covered(((pid, lo, hi) for pid, (lo, hi) in hulls.items()), committed)


def liveness(events: DataFrame, ts_col: str, now_epoch: int, max_lag_sec: int) -> dict:
    """Freshness check: seconds since the newest event (ST6 analog)."""
    row = events.agg(F.max(F.unix_timestamp(F.col(ts_col))).alias("newest")).first()
    lag = now_epoch - (row["newest"] or 0)
    return {"newest_epoch": row["newest"], "lag_sec": lag, "alive": lag <= max_lag_sec}

"""Merge-apply stage: in-batch dedup + salted LWW reduction.

Reference behavior being re-expressed:

- nightly MERGE dedupe picks one row per natural key
  (daily_qc_airflow/daily_dedupe_mainnet.py:65-81 — ``ARRAY_AGG(... LIMIT 1)``
  is an *arbitrary* pick; we are stricter: total order
  ``(offset, partition_id, commit)`` → deterministic last-writer-wins,
  SURVEY.md §7.3 hard part 2)
- at-least-once redelivery means the same (repo, path, commit) event can
  appear many times (mod.rs:140-164); dedup on that key collapses them
- hot-repo skew (north rule): the reduction is **two-phase salted** — phase 1
  aggregates per (key, salt) with map-side partial combine, phase 2 merges
  the per-salt winners. Because max is associative/commutative, the
  composition equals a single max — but no single reducer ever sees a hot
  key's full row set. This matters when one (repo, path) receives millions of
  duplicate deliveries in one batch at 10^10 scale.

All plain DataFrame ops; Catalyst keeps partial aggregation map-side and AQE
re-splits skewed shuffle partitions at runtime.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sonic_etl_spark.sources.multitable import _lww_reduce

# converged source_code table schema (FIXTURES.md §2): merge keys, payload,
# sha256 invariant, checked-cast + capped/lossless duals, LWW evidence cols.
SOURCE_CODE_FIELDS: list[tuple[str, str]] = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
    ("content_sha256", "string"),
    ("size_bytes", "bigint"),
    ("value", "string"),
    ("value_lossless", "string"),
    ("mode", "bigint"),
    ("op", "string"),
    ("ts", "timestamp"),
    ("last_offset", "bigint"),
    ("last_partition_id", "int"),
]

KEY_COLS = ["repo", "path"]
ORDER_COLS = ["last_offset", "last_partition_id", "commit"]

# phase-1 reducers per key; map-side partial aggregation, not this count, is
# what absorbs duplicate storms (BENCH.md skew section)
SALT_BUCKETS = 16


def salted_lww(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    *,
    salt_col: str | None = None,
) -> DataFrame:
    """One winning row per key under the total order — two-phase salted.

    The engine's core reduction (see :func:`reduce_batch` for the CDC-typed
    wrapper): phase 1 aggregates per (key, salt) with map-side partial
    combine so no reducer sees a hot key's full row set; phase 2 merges the
    ≤``SALT_BUCKETS`` per-salt winners. max is associative/commutative, so
    the composition equals a single max for ANY salt assignment.

    ``salt_col`` defaults to the first order column (any value-bearing column
    works; a constant would just degrade to unsalted).
    """
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(salt_col or order_cols[0])), F.lit(SALT_BUCKETS)),
    )
    phase1 = _lww_reduce(salted, key_cols + ["_salt"], order_cols).drop("_salt")
    return _lww_reduce(phase1, key_cols, order_cols)


def reduce_batch(typed: DataFrame) -> DataFrame:
    """Typed decoded events → one winning row per (repo, path).

    Phase 0: project to the table schema (offset → last_offset etc.).
    Phase 1: salted partial LWW — groupBy(key, salt(commit)) so a hot key's
             rows split across ``SALT_BUCKETS`` reducers. This also IS the
             dedup on (repo, path, commit): identical redeliveries land in
             the same salt bucket and collapse to one row.
    Phase 2: final LWW per key over ≤SALT_BUCKETS candidates.
    """
    projected = typed.select(
        F.col("repo"),
        F.col("path"),
        F.col("commit"),
        F.col("lang"),
        F.col("content"),
        F.col("content_sha256"),
        F.col("size_bytes"),
        F.col("value"),
        F.col("value_lossless"),
        F.col("mode"),
        F.col("op"),
        F.col("ts"),
        F.col("offset").alias("last_offset"),
        F.col("partition_id").alias("last_partition_id"),
    )
    return salted_lww(projected, KEY_COLS, ORDER_COLS, salt_col="commit")


def observe_decode_errors(typed: DataFrame):
    """Fail-the-batch semantics (transformation/err.rs:1-31) at zero cost:
    any row with a decode error aborts the batch (which is then retried
    upstream), instead of silently dropping or merging rows.

    Returns (typed', check) where ``check()`` raises ValueError naming the
    bad/total row counts and the first error, or returns the row count. The
    counts are collected DURING whatever action consumes ``typed'`` (the
    merge's file write), not by an extra pass. Call ``check()`` after the
    write and before the snapshot commit: on failure the written files stay
    orphaned and the table state is untouched (same crash-safety as any
    abort).
    """
    from pyspark.sql import Observation

    obs = Observation()
    typed = typed.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.count("decode_error").alias("bad"),
        F.first("decode_error", ignorenulls=True).alias("example"),
    )

    def check() -> int:
        m = obs.get
        if m["bad"]:
            raise ValueError(
                f"decode failed for {m['bad']}/{m['n']} rows in batch; "
                f"first error: {m['example']}"
            )
        return m["n"]

    return typed, check

"""Streaming extras: watermarked windowed aggregation + custom stateful
operator (applyInPandasWithState).

Two Structured-Streaming surfaces the replay engine itself doesn't need
(the change log is offset-ordered, so exactly-once comes from manifests, not
watermarks) but that a production tail of the same log would use:

- ``stream_activity_windows`` — per-repo change counts in 30-minute
  event-time windows with a watermark bounding late data (the streaming
  upgrade of the reference's half-hour GCS bucketing, gcs.rs:99-115, and its
  hourly liveness window, mainnet_hourly_block_check.py:33-47).
- ``stream_session_windows`` — per-repo gap-closed SESSION windows
  (``F.session_window`` + watermark), the streaming counterpart of
  ``operators.temporal.sessionize`` (pytest asserts they agree on the same
  log).
- ``stream_repo_progress`` — custom stateful operator: per-repo running
  (change_count, max_offset, distinct_path_estimate) maintained with
  ``applyInPandasWithState`` — the analog of the reference worker's
  in-process running counters (event_count, common.rs:346; trace histograms,
  common.rs:618-645) lifted to fault-tolerant keyed state.

All three read the change log through stream.py's ``log_stream``.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sonic_etl_spark.streaming.stream import log_stream, start_query

PROGRESS_OUTPUT_DDL = (
    "repo string, change_count bigint, max_offset bigint, path_cardinality bigint"
)
PROGRESS_STATE_DDL = "change_count bigint, max_offset bigint, path_hashes array<long>"

# KMV (k-minimum-values) sketch size: per-repo state is BOUNDED at k hashes
# regardless of path cardinality. Below k distinct paths the count is exact;
# above, the estimator (k-1)·2^64/kth_min has ~1/sqrt(k-2) relative error
# (~3% at k=1024). Deterministic — no RNG, same input → same estimate.
PROGRESS_SKETCH_K = 1024


def stream_activity_windows(
    spark: SparkSession,
    log_dir: str,
    *,
    checkpoint_dir: str,
    queryName: str = "activity_windows",
    watermark: str = "1 hour",
    window: str = "30 minutes",
    max_files_per_trigger: int = 8,
    available_now: bool = True,
) -> StreamingQuery:
    """Windowed per-repo activity counts with late-data watermark.

    Append output mode: a window emits once the watermark passes its end —
    late events inside the watermark are counted, older ones dropped (the
    documented-and-bounded alternative to the reference's "repair at 2am").
    Results land in an in-memory sink table named ``queryName``.
    """
    agg = (
        log_stream(spark, log_dir, max_files_per_trigger)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "repo")
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
        )
        .select(
            F.unix_timestamp("w.start").alias("bucket_epoch"),
            "repo",
            "n_changes",
            "n_deletes",
        )
    )
    writer = agg.writeStream.outputMode("append").format("memory").queryName(queryName)
    return start_query(writer, checkpoint_dir, available_now)


def stream_session_windows(
    spark: SparkSession,
    log_dir: str,
    *,
    checkpoint_dir: str,
    queryName: str = "session_windows",
    watermark: str = "1 hour",
    gap: str = "30 minutes",
    max_files_per_trigger: int = 8,
    available_now: bool = True,
) -> StreamingQuery:
    """Per-repo SESSION windows (dynamic-length, gap-closed) with a
    late-data watermark — the streaming counterpart of
    ``operators.temporal.sessionize`` for the change-log tail: a burst of
    commits to one repo is one session; ``gap`` of silence closes it.

    Uses the built-in ``F.session_window`` state store (merging windows
    across triggers survives restarts via the checkpoint). Append mode: a
    session emits once the watermark passes its end (last event + gap).
    Boundary semantics vs the batch operator: the batch ``sessionize``
    keeps an exact-gap event in the same session (strict >) while the
    session window's half-open [start, last+gap) excludes it — identical
    for continuous-time data, differing only on exact-gap collisions.
    Results land in an in-memory sink table named ``queryName``.
    """
    agg = (
        log_stream(spark, log_dir, max_files_per_trigger)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "repo")
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.min("ts").alias("first_ts"),
        )
        .select(
            "repo",
            F.unix_timestamp("first_ts").alias("session_start_epoch"),
            F.unix_timestamp("w.end").alias("session_close_epoch"),
            "n_changes",
        )
    )
    writer = agg.writeStream.outputMode("append").format("memory").queryName(queryName)
    return start_query(writer, checkpoint_dir, available_now)


def _progress_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful update: fold this trigger's rows for one repo into state.

    path_cardinality is a KMV distinct-count sketch: state keeps only the
    ``PROGRESS_SKETCH_K`` smallest 64-bit path hashes (stored as int64 bit
    patterns in the array<long> state column). Exact while distinct paths
    < k; (k-1)·2^64/kth_min beyond — per-repo state stays O(k) at any
    cardinality (the round-1 exact-set design grew with every distinct
    path, unbounded on a 10^10-event log)."""
    (repo,) = key
    k = PROGRESS_SKETCH_K
    if state.exists:
        change_count, max_offset, path_hashes = state.get
        # stored int64 bit patterns → unsigned ordering domain
        mins = {h & 0xFFFFFFFFFFFFFFFF for h in path_hashes}
    else:
        change_count, max_offset, mins = 0, -1, set()
    for pdf in pdfs:
        change_count += len(pdf)
        if len(pdf):
            max_offset = max(max_offset, int(pdf["offset"].max()))
            mins.update(
                int(h)
                for h in pd.util.hash_array(pdf["path"].to_numpy(dtype=object))
            )
    kmv = sorted(mins)[:k]
    if len(kmv) < k:
        cardinality = len(kmv)
    else:
        cardinality = int(round((k - 1) * (2.0**64) / kmv[-1]))
    # store back as int64 bit patterns (Spark long is signed)
    signed = [h - (1 << 64) if h >= (1 << 63) else h for h in kmv]
    state.update((change_count, max_offset, signed))
    yield pd.DataFrame(
        {
            "repo": [repo],
            "change_count": [change_count],
            "max_offset": [max_offset],
            "path_cardinality": [cardinality],
        }
    )


def stream_repo_progress(
    spark: SparkSession,
    log_dir: str,
    *,
    checkpoint_dir: str,
    queryName: str = "repo_progress",
    max_files_per_trigger: int = 8,
    available_now: bool = True,
) -> StreamingQuery:
    """Custom stateful operator: running per-repo ingest progress."""
    prog = (
        log_stream(spark, log_dir, max_files_per_trigger)
        .groupBy("repo")
        .applyInPandasWithState(
            _progress_fn,
            outputStructType=PROGRESS_OUTPUT_DDL,
            stateStructType=PROGRESS_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    writer = prog.writeStream.outputMode("update").format("memory").queryName(queryName)
    return start_query(writer, checkpoint_dir, available_now)

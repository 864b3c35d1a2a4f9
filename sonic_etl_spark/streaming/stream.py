"""Structured Streaming ingest: readStream → decode → reduce → idempotent merge.

The batch replay driver (replay.py) is the coordinator-shaped path (plan
ranges, pull, apply). This module is the *push*-shaped path the reference's
production deployment uses (Pub/Sub → Dataflow → warehouse, SURVEY.md §3.1),
re-expressed as Spark Structured Streaming:

- ``readStream`` tails the change-log directory (new parquet files = new
  messages; ``maxFilesPerTrigger`` plays the role of the ≤1000-offset range
  chunking, publish_ranges.py:122-146);
- each micro-batch runs the same vectorized decode + salted LWW reduction as
  batch replay (one code path for both — the engine's transform is
  engine-mode-agnostic);
- ``foreachBatch`` applies the batch through the SAME idempotent
  manifest-keyed ``merge`` — manifests here are the per-partition
  (min_offset, max_offset) spans observed in the batch, so a restarted query
  that redelivers a processed batch no-ops (exactly-once to the table even
  though Structured Streaming's own foreachBatch contract is at-least-once —
  the analog of the reference's ack-after-publish duplicate window being
  closed by natural-key dedupe, mod.rs:140-164 + daily_dedupe_mainnet.py).

Note on manifest identity: replay() manifests are planner-chunked dense
ranges; streaming manifests are observed spans. Both are just (partition,
lo, hi) entries in the same snapshot set, and LWW max-merge makes overlap
harmless — but don't interleave both drivers on one table expecting
span-level dedup across them; pick one ingest mode per table (or rely on
the LWW idempotence, which holds regardless).

Scale: the stream never collects data rows; the only driver-side values are
the per-partition min/max offsets (one tiny aggregate per batch).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from sonic_etl_spark.functions.codec import decode_change_events
from sonic_etl_spark.log.synthesis import CHANGE_EVENT_COLUMNS
from sonic_etl_spark.operators.merge import (
    KEY_COLS,
    ORDER_COLS,
    SOURCE_CODE_FIELDS,
    reduce_batch,
)
from sonic_etl_spark.sources.table import TransactionalParquetTable

CHANGE_LOG_DDL = (
    "event_id bigint, base_id bigint, partition_id int, offset bigint, "
    "repo string, path string, commit string, lang string, "
    "content_raw string, op string, ts timestamp"
)


def observed_manifests(batch: DataFrame) -> list[tuple[int, int, int]]:
    """Per-partition maximal DENSE offset runs of a micro-batch
    (gaps-and-islands, not min/max): if the file source hands a batch two
    non-adjacent log files, a (min, max) span would claim the hole between
    them — poisoning span-keyed exactly-once (JsonlChunkSink's ledger) and
    overstating the snapshot manifest. Runs assert only offsets actually
    present. The window sorts per partition within one micro-batch — a
    bounded metadata aggregate (use operators.audit.islands for
    unbounded/global runs)."""
    w = Window.partitionBy("partition_id").orderBy("offset")
    rows = (
        batch.select("partition_id", "offset")
        .distinct()
        .withColumn("_grp", F.col("offset") - F.row_number().over(w))
        .groupBy("partition_id", "_grp")
        .agg(F.min("offset").alias("lo"), F.max("offset").alias("hi"))
        .collect()
    )
    return sorted((r["partition_id"], r["lo"], r["hi"]) for r in rows)


def stream_replay(
    spark: SparkSession,
    log_dir: str,
    table,
    *,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    salt_buckets: int = 16,
    compact_threshold: int | None = 16,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming ingest of ``log_dir`` into ``table``.

    ``table`` is either a :class:`TransactionalParquetTable` (the warehouse
    path) or any sink implementing ``publish_batch(updates, manifests,
    metrics)`` (sources/sinks.py — the abstract publisher trait of
    src/output/publish.rs:14-26; e.g. :class:`JsonlChunkSink` for the
    chunked file-stream path). Exactly-once on redelivery is the sink's
    contract either way.

    ``available_now=True`` processes the current log then stops (the
    bounded-replay benchmark mode, IndexRange analog, src/main.rs:406-431);
    False runs continuously (IndexSubscription analog, tailing new files).
    Caller awaits ``query.awaitTermination()``.
    """
    from sonic_etl_spark.sources.sinks import TableSink

    if isinstance(table, TransactionalParquetTable):
        table.create(SOURCE_CODE_FIELDS, KEY_COLS, ORDER_COLS)
        sink = TableSink(table, compact_threshold)
    else:
        sink = table

    stream = (
        spark.readStream.schema(CHANGE_LOG_DDL)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(log_dir)
        .select("event_id", "base_id", *CHANGE_EVENT_COLUMNS)
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        manifests = observed_manifests(batch)
        if not manifests:
            return
        updates = reduce_batch(
            decode_change_events(batch), salt_buckets=salt_buckets
        )
        sink.publish_batch(
            updates,
            manifests,
            metrics={"stream_batch_id": batch_id, "manifest": [list(m) for m in manifests]},
        )

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Structured Streaming ingest: readStream → decode → reduce → idempotent merge.

The batch replay driver (replay.py) is the coordinator-shaped path (plan
ranges, pull, apply). This module is the *push*-shaped path the reference's
production deployment uses (Pub/Sub → Dataflow → warehouse, SURVEY.md §3.1),
re-expressed as Spark Structured Streaming:

- ``readStream`` tails the change-log directory (new parquet files = new
  messages; ``maxFilesPerTrigger`` plays the role of the ≤1000-offset range
  chunking, publish_ranges.py:122-146);
- each micro-batch runs the SAME batch function as batch replay
  (``streaming.replay.merge_batch`` for a table,
  ``streaming.fanout.merge_fanout_batch`` for the fan-out set): one code
  path for both engine modes;
- both stream twins share one helper, :func:`stream_batches` (readStream →
  ``observed_manifests`` → foreachBatch → commit → compaction), and every
  change-log query here and in streaming/stateful.py reads through one
  :func:`log_stream`;
- manifests are the per-partition dense offset runs observed in the batch,
  so a restarted query that redelivers a processed batch no-ops through the
  idempotent manifest-keyed merge (exactly-once to the table even though
  Structured Streaming's own foreachBatch contract is at-least-once — the
  analog of the reference's ack-after-publish duplicate window being closed
  by natural-key dedupe, mod.rs:140-164 + daily_dedupe_mainnet.py).

Note on manifest identity: replay() manifests are planner-chunked dense
ranges; streaming manifests are observed spans. Both are just (partition,
lo, hi) entries in the same snapshot set. replay() plans ``[0, head]``
minus every committed span, so a replay after a stream applies exactly the
offsets the stream has not committed, its holes included. The manifest
guard is exact-entry, though: a stream after a replay re-applies a batch
whose observed span differs from the planner's chunks (harmless, LWW
max-merge is idempotent) and records its span.

Scale: the stream never collects data rows; the only driver-side values are
the per-partition min/max offsets (one tiny aggregate per batch).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.window import Window

from sonic_etl_spark.functions.codec import decode_change_events
from sonic_etl_spark.operators.merge import (
    KEY_COLS,
    ORDER_COLS,
    SOURCE_CODE_FIELDS,
    converged_rows,
)
from sonic_etl_spark.sources.table import TransactionalParquetTable
from sonic_etl_spark.streaming.replay import Manifest, maintain_after_commit, merge_batch

CHANGE_LOG_DDL = (
    "event_id bigint, base_id bigint, partition_id int, offset bigint, "
    "repo string, path string, commit string, lang string, "
    "content_raw string, op string, ts timestamp"
)


def log_stream(
    spark: SparkSession,
    log_dir: str,
    max_files_per_trigger: int,
    schema: str = CHANGE_LOG_DDL,
) -> DataFrame:
    """The change-log directory as a stream; ``maxFilesPerTrigger`` plays
    the role of the reference's offset-range chunking."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(log_dir)
    )


def start_query(
    writer: DataStreamWriter, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """Checkpoint and start a query; ``available_now`` drains what is there
    and stops, otherwise it runs continuously."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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


def stream_batches(
    spark: SparkSession,
    log_dir: str,
    commit: Callable[[DataFrame, Manifest, dict], dict],
    target,
    *,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    compact_threshold: int | None,
    available_now: bool,
) -> StreamingQuery:
    """The foreachBatch loop of both stream twins: each non-empty
    micro-batch of ``log_dir`` goes to ``commit(batch, manifests, metrics)``
    under its observed manifests, then ``target`` is compacted if the batch
    committed."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        manifests = observed_manifests(batch)
        if not manifests:
            return
        metrics = {"stream_batch_id": batch_id, "manifest": [list(m) for m in manifests]}
        maintain_after_commit(target, commit(batch, manifests, metrics), compact_threshold)

    writer = log_stream(spark, log_dir, max_files_per_trigger).writeStream
    return start_query(writer.foreachBatch(apply_batch), checkpoint_dir, available_now)


def stream_replay(
    spark: SparkSession,
    log_dir: str,
    table,
    *,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    compact_threshold: int | None = 16,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming ingest of ``log_dir`` into ``table``.

    ``table`` is either a :class:`TransactionalParquetTable` (the warehouse
    path) or any transport sink implementing ``publish_batch(updates,
    manifests, metrics)`` (sources/sinks.py — the abstract publisher trait
    of src/output/publish.rs:14-26; e.g. :class:`JsonlChunkSink` for the
    chunked file-stream path). Exactly-once on redelivery is the target's
    contract either way.

    A table gets exactly ``replay()``'s validated batch
    (``streaming.replay.merge_batch``): a micro-batch holding an
    undecodable row fails before the snapshot commit, so the query stops
    and the table commits none of that batch; committed batches are
    compacted past ``compact_threshold`` files per bucket. A transport sink
    receives the decoded, reduced rows unvalidated (undecodable rows
    included) and does its own bookkeeping; ``compact_threshold`` does not
    apply to it.

    ``available_now=True`` processes the current log then stops (the
    bounded-replay benchmark mode, IndexRange analog, src/main.rs:406-431);
    False runs continuously (IndexSubscription analog, tailing new files).
    Caller awaits ``query.awaitTermination()``.
    """
    if isinstance(table, TransactionalParquetTable):
        table.create(SOURCE_CODE_FIELDS, KEY_COLS, ORDER_COLS)

        def commit(batch: DataFrame, manifests: Manifest, metrics: dict) -> dict:
            return merge_batch(table, batch, manifests, metrics)
    else:
        compact_threshold = None  # a transport sink has no delta chains

        def commit(batch: DataFrame, manifests: Manifest, metrics: dict) -> dict:
            updates = converged_rows(decode_change_events(batch))
            return table.publish_batch(updates, manifests, metrics)

    return stream_batches(
        spark, log_dir, commit, table, checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        compact_threshold=compact_threshold, available_now=available_now,
    )

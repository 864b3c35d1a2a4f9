"""Structured-Streaming twin of the incremental curator: tail a directory
of document-arrival parquet and maintain the verdict/minima state per
micro-batch (foreachBatch → IncrementalCurator.apply).

Same surface shape as streaming.fanout.stream_fanout. Exactly-once story:
every apply() is one commit of the curator's state set, keyed by the
batch's offset span, and — stronger — the curation rule is idempotent by
VALUE (minima are min-merges, verdict recomputation against state
containing the batch's own rows is a fixpoint; see
operators/incremental.py), so even a RE-BATCHED redelivery after a
checkpoint loss converges to the identical verdict stream (pytest-proven).

Ordering contract: the producer must write arrival files in offset order
(the change-log convention everywhere in this engine). Ranks are monotone
with arrival; a directory whose later files carry SMALLER offsets breaks
the earliest-arrival-wins semantics the verdicts encode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sonic_etl_spark.operators.incremental import IncrementalCurator
from sonic_etl_spark.streaming.stream import log_stream, start_query

DOC_ARRIVAL_DDL = "doc_id bigint, text string, off bigint"


def stream_curate(
    spark,
    docs_dir: str,
    curator: IncrementalCurator,
    *,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
    schema: str = DOC_ARRIVAL_DDL,
):
    """Start the curation stream over ``docs_dir``; returns the query
    (caller awaits ``awaitTermination``). ``available_now=True`` drains the
    directory and stops — the scheduled-job spelling; ``False`` tails
    forever."""
    curator.create()
    stream = log_stream(spark, docs_dir, max_files_per_trigger, schema)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        curator.apply(batch.select("doc_id", "text", "off"))

    return start_query(stream.writeStream.foreachBatch(apply_batch),
                       checkpoint_dir, available_now)

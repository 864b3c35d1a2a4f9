"""Auxiliary sinks: time-bucketed JSONL export (S10 analog).

The reference's GCS sink buckets output files into ``YYYY-MM-DD/H/{00|30}/``
directories by record timestamp (src/output/gcs.rs:99-115), giving
time-pruned consumption downstream. Spark-first restatement: a partitioned
write on derived (date, half-hour) columns — partition pruning then serves
the same time-window reads the reference's directory layout served, and the
writer is one distributed job instead of a per-batch upload loop (the
infinite-retry upload loop, gcs.rs:127-156, becomes Spark task retries).

JSONL-per-fixture is also the reference's golden format
(save_range, mod.rs:577-616); ``write_jsonl_fixture`` mirrors that for test
goldens.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sonic_etl_spark.plans.planner import merge_spans, subtract_covered


def write_time_bucketed_jsonl(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    max_records_per_file: int = 500_000,
) -> None:
    """Write df as JSONL partitioned by (date, half-hour bucket) of ts_col."""
    bucketed = df.withColumn("_d", F.date_format(F.col(ts_col), "yyyy-MM-dd")).withColumn(
        "_hh",
        F.concat(
            F.date_format(F.col(ts_col), "HH"),
            F.when(F.minute(F.col(ts_col)) < 30, F.lit("-00")).otherwise(F.lit("-30")),
        ),
    )
    (
        bucketed.write.partitionBy("_d", "_hh")
        .option("maxRecordsPerFile", str(max_records_per_file))
        .mode("overwrite")
        .json(path)
    )


def read_time_bucketed_jsonl(spark, path: str) -> DataFrame:
    """Read back a bucketed export; partition columns restored as strings."""
    return spark.read.json(path)


def write_jsonl_fixture(df: DataFrame, path: str) -> None:
    """Single-file JSONL golden (deterministic order by all columns)."""
    df.orderBy(*df.columns).coalesce(1).write.mode("overwrite").json(path)


def write_json_record_files(
    df: DataFrame, path: str, name_cols: list[str], max_rows: int = 10_000
) -> int:
    """One ``.json`` file per record (S13, src/output/json.rs:72 — the
    reference's single-record fixture format, file named by key fields).

    Fixture-scoped BY DESIGN: record-per-file is an anti-pattern for data
    at scale (small-files problem), so this guards at ``max_rows`` and
    iterates driver-side (toLocalIterator — one partition in memory at a
    time). Returns the number of files written.
    """
    import json as _json
    import os

    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"write_json_record_files is a fixture sink (one file/record); "
            f"{n} rows > max_rows={max_rows}. Use a JSONL/parquet sink."
        )
    os.makedirs(path, exist_ok=True)
    written = 0
    for row in df.toLocalIterator():
        d = row.asDict(recursive=True)
        stem = "_".join(str(d[c]) for c in name_cols)
        with open(os.path.join(path, f"{stem}.json"), "w") as f:
            _json.dump(d, f, sort_keys=True, default=str)
        written += 1
    return written


# --------------------------------------------------------------------------
# Abstract batch-sink interface (S11-S14): the reference selects one of six
# publisher implementations behind a single trait (src/output/publish.rs:
# 14-26 — Pub/Sub, GCS, JSONL, JSON, Kafka, RabbitMQ×2). The engine's analog
# is one ``publish_batch(updates, manifest_entries, metrics) -> status dict``
# contract for the transport sinks below; ``streaming.stream.stream_replay``
# takes any of them or a TransactionalParquetTable, which it merges through
# the same batch function and loop as ``replay()`` (no adapter class).
# Exactly-once is the target's duty in both designs: the table uses the
# snapshot manifest guard, the transport sinks a span ledger with
# deterministic manifest-named output (gcs.rs's file-per-offset-range naming).


class SpanLedger:
    """Published-(partition, offset)-span ledger shared by transport sinks.

    Sinks without a transactional manifest (files, HTTP, brokers) get their
    exactly-once from this: every committed batch's dense offset spans are
    appended (atomic tmp+rename), and an incoming manifest is reduced to its
    UNCOVERED remainder before anything is sent (``plans.planner.
    subtract_covered``, the batch planner's own span algebra). Requires
    manifests that assert only offsets actually present
    (streaming.stream.observed_manifests emits exact dense runs for this
    reason).

    Concurrency contract: ``advance()`` holds an exclusive ``flock`` on a
    sidecar lock file across its read-merge-write, so two processes sharing
    one ledger path can never lose each other's committed spans. The
    *decide-then-publish* window (``read`` → send → ``advance``) is NOT
    atomic though — two publishers racing the same uncovered span can still
    both send it — so the deduplication guarantee requires a single ACTIVE
    publisher per ledger (the streaming drivers here run one); concurrent
    publishers degrade to at-least-once, never to span loss."""

    FILENAME = "_published_spans.json"

    def __init__(self, path: str):
        self.path = path

    def read(self) -> list[tuple[int, int, int]]:
        import json
        import os

        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [tuple(x) for x in json.load(f)]

    def advance(self, new_spans: list[tuple[int, int, int]]) -> None:
        import fcntl
        import json
        import os

        with open(self.path + ".lock", "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            merged = merge_spans(self.read() + list(new_spans))
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(sorted([list(s) for s in merged]), f)
            os.replace(tmp, self.path)  # atomic on POSIX


def filter_to_spans(
    updates: DataFrame, manifest_entries, todo, covered
) -> DataFrame:
    """Restrict rows to the uncovered spans via (last_partition_id,
    last_offset); a no-op predicate is skipped when nothing was covered."""
    if len(todo) == len(list(manifest_entries)) and not covered:
        return updates
    cond = None
    for p, lo, hi in todo:
        c = (F.col("last_partition_id") == p) & F.col("last_offset").between(lo, hi)
        cond = c if cond is None else (cond | c)
    return updates.where(cond)


class JsonlChunkSink:
    """File-stream sink: chunked JSONL per batch, idempotent by OFFSET SPAN.

    The Kafka-less stand-in proving the sink abstraction: each batch writes
    to a directory DETERMINISTICALLY NAMED by its manifest entries (the
    reference's `{name}_{i}.jsonl`-per-offset-range naming, gcs.rs:99-115).
    ``chunk_records`` mirrors the Pub/Sub 900-message chunking
    (google_pubsub.rs:122) via maxRecordsPerFile.

    Exactly-once holds across RE-BATCHED redelivery, not just identical
    redelivery: a ``_published_spans.json`` ledger records every committed
    (partition, lo, hi) span; an incoming manifest is reduced to its
    UNCOVERED remainder (interval subtraction), rows are filtered to those
    spans via (last_partition_id, last_offset), and the ledger is advanced
    atomically (tmp + rename) only after the files land. A restart with a
    fresh checkpoint and a different ``max_files_per_trigger`` therefore
    re-publishes nothing that already reached the directory, regardless of
    how the offsets were re-chunked.
    """

    def __init__(self, path: str, chunk_records: int = 900):
        import os

        self.path = path
        self.chunk_records = chunk_records
        os.makedirs(path, exist_ok=True)
        self.ledger = SpanLedger(os.path.join(path, SpanLedger.FILENAME))

    # Longest span-listing dir name we will emit literally. Past this, the
    # name switches to a digest of the full span list: POSIX NAME_MAX is 255
    # bytes, and a many-partition / many-run batch (re-batched redelivery
    # fragments runs further) can easily exceed it — mkdir then fails and the
    # whole batch aborts. The digest keeps the idempotence contract (same
    # uncovered span set → same dir name) at any span count.
    _MAX_LITERAL_DIR = 200

    @staticmethod
    def _batch_dir(manifest_entries) -> str:
        spans = sorted(tuple(m) for m in manifest_entries)
        literal = "batch_" + "_".join(f"p{p}-{s}-{e}" for p, s, e in spans)
        if len(literal) <= JsonlChunkSink._MAX_LITERAL_DIR:
            return literal
        import hashlib

        digest = hashlib.sha256(
            ";".join(f"{p}:{s}:{e}" for p, s, e in spans).encode()
        ).hexdigest()[:16]
        first, last = spans[0], spans[-1]
        return (
            f"batch_p{first[0]}-{first[1]}_to_p{last[0]}-{last[2]}"
            f"_{len(spans)}spans_{digest}"
        )

    def publish_batch(self, updates: DataFrame, manifest_entries, metrics=None) -> dict:
        import os

        covered = self.ledger.read()
        todo = subtract_covered(manifest_entries, covered)
        if not todo:
            return {"status": "skipped", "path": None}
        out = os.path.join(self.path, self._batch_dir(todo))
        updates = filter_to_spans(updates, manifest_entries, todo, covered)
        (
            updates.write.option("maxRecordsPerFile", str(self.chunk_records))
            .mode("overwrite")
            .json(out)
        )
        # advance the ledger only after the files are fully on disk; a crash
        # in between makes the next delivery rewrite the SAME dir (same
        # uncovered spans -> same name, overwrite mode), still exactly-once
        self.ledger.advance(todo)
        return {"status": "committed", "path": out}


class HttpPostSink:
    """HTTP transport sink: chunked JSON bodies POSTed from the EXECUTORS.

    The in-sandbox analog of the reference's broker publishers (Kafka /
    RabbitMQ behind the same trait, src/output/apache_kafka.rs:1-115,
    rabbitmq_classic.rs, rabbitmq_stream.rs, selected in
    src/output/publish.rs:14-26): rows leave through a network transport
    with the publisher's at-least-once + receiver-dedupe contract, no broker
    required.

    Delivery contract (same shape as the reference's producer):

    - **Distributed send** — rows serialize to JSON on the executors and
      POST per ``chunk_records``-sized body via ``mapPartitions``; only tiny
      per-chunk receipts return to the driver. No driver-side row loop.
    - **At-least-once** — each chunk retries with exponential backoff
      (``max_retries``); exhaustion raises, failing the Spark task/job so
      the ledger never advances past an unsent chunk.
    - **Receiver dedupe** — every POST carries an ``Idempotency-Key`` header
      (sha256 of the body), so broker-style receivers can drop duplicate
      deliveries from crash-window resends of identical chunks.
    - **Exactly-once across re-batching** — the same :class:`SpanLedger` as
      the file sink: a redelivered manifest is reduced to its uncovered
      spans before anything is sent, whatever the re-chunking.
    """

    def __init__(
        self,
        endpoint: str,
        ledger_path: str,
        *,
        chunk_records: int = 900,
        max_retries: int = 4,
        timeout_sec: float = 10.0,
    ):
        self.endpoint = endpoint
        self.chunk_records = chunk_records
        self.max_retries = max_retries
        self.timeout_sec = timeout_sec
        self.ledger = SpanLedger(ledger_path)

    def publish_batch(self, updates: DataFrame, manifest_entries, metrics=None) -> dict:
        covered = self.ledger.read()
        todo = subtract_covered(manifest_entries, covered)
        if not todo:
            return {"status": "skipped", "chunks": 0, "records": 0}
        updates = filter_to_spans(updates, manifest_entries, todo, covered)

        endpoint, chunk_records = self.endpoint, self.chunk_records
        max_retries, timeout_sec = self.max_retries, self.timeout_sec

        def post_chunks(lines):
            # runs on the executor: batch JSON lines into bodies and POST
            import hashlib
            import time as _time
            import urllib.error
            import urllib.request

            def send(body: bytes):
                key = hashlib.sha256(body).hexdigest()
                last = None
                for attempt in range(max_retries + 1):
                    try:
                        req = urllib.request.Request(
                            endpoint,
                            data=body,
                            headers={
                                "Content-Type": "application/x-ndjson",
                                "Idempotency-Key": key,
                            },
                            method="POST",
                        )
                        with urllib.request.urlopen(req, timeout=timeout_sec) as r:
                            if 200 <= r.status < 300:
                                return
                            last = RuntimeError(f"HTTP {r.status}")
                    except (urllib.error.URLError, OSError) as e:  # incl. HTTPError
                        last = e
                    _time.sleep(min(0.05 * (2 ** attempt), 2.0))
                raise RuntimeError(f"POST to {endpoint} failed after retries: {last}")

            buf, n_chunks, n_records = [], 0, 0
            for line in lines:
                buf.append(line)
                if len(buf) >= chunk_records:
                    send(("\n".join(buf) + "\n").encode())
                    n_chunks += 1
                    n_records += len(buf)
                    buf = []
            if buf:
                send(("\n".join(buf) + "\n").encode())
                n_chunks += 1
                n_records += len(buf)
            yield (n_chunks, n_records)

        receipts = updates.toJSON().mapPartitions(post_chunks).collect()
        n_chunks = sum(r[0] for r in receipts)
        n_records = sum(r[1] for r in receipts)
        # only after every chunk is acknowledged does the ledger advance; a
        # crash between send and advance re-sends identical bodies, which
        # the receiver drops by Idempotency-Key
        self.ledger.advance(todo)
        return {"status": "committed", "chunks": n_chunks, "records": n_records}

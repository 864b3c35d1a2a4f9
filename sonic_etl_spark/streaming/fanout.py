"""Fan-out replay: one decoded scan → N typed tables + quarantine,
atomically committed per batch.

Reference analogs being re-expressed Spark-first:

- one extraction pass feeding several typed tables
  (``PerBlockRecords``, mod.rs:305-314; per-table publish mod.rs:501-574;
  six named sinks streampublisher.rs:29-76) — here ONE
  ``decode_change_events`` scan is projected three ways and committed under
  one shared manifest (sources/multitable.py), closing the reference's
  crash-between-publishes inconsistency window;
- the dead-letter topic for rows that will never pass retry
  (iac/terraform/dataflow.tf:1-31, pubsub.tf): ``on_error='quarantine'``
  routes field-attributed bad rows (transformation/err.rs:1-31 error shape)
  to the ``quarantine`` table instead of wedging the partition on a poison
  row, while ``on_error='fail'`` keeps the reference's fail-the-batch
  semantics.

Fan-out tables:

- ``source_code``   — converged file state, key (repo, path), LWW
  (identical to the single-table replay output);
- ``file_versions`` — per-version history, key (repo, path, commit):
  at-least-once redeliveries of the same version collapse (dedup), but
  every distinct version survives — the raw append+dedupe table the
  reference converges nightly (daily_dedupe_mainnet.py:65-81);
- ``quarantine``    — dead-letter rows keyed by (partition_id, offset) with
  the field-attributed ``decode_error``.

Scale shape per batch: one parquet scan with pushed-down range predicates,
one Arrow decode stage, then three INDEPENDENT narrow projections + salted
LWW shuffles (each shuffles only its own key set; the quarantine projection
carries no content payload). Writes stay O(batch) via merge-on-read deltas.

One batch function, :func:`merge_fanout_batch`, applies a decoded batch to
the set; :func:`replay_fanout` runs it in the shared batch loop of
streaming/replay.py and :func:`stream_fanout` from foreachBatch
(streaming/stream.py). The three-table updates dict is built in one place,
:func:`_fanout_updates`, which :func:`retry_quarantine` uses too.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sonic_etl_spark.functions.codec import decode_change_events
from sonic_etl_spark.operators.merge import (
    KEY_COLS,
    ORDER_COLS,
    SOURCE_CODE_FIELDS,
    observe_decode_errors,
    reduce_batch,
    salted_lww,
)
from sonic_etl_spark.plans.planner import filter_to_manifests, log_heads, plan_batches
from sonic_etl_spark.sources.multitable import TableSpec, TransactionalTableSet
from sonic_etl_spark.streaming.replay import Manifest, ReplayResult, _run_batches
from sonic_etl_spark.streaming.stream import stream_batches

FILE_VERSION_FIELDS: list[tuple[str, str]] = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content_sha256", "string"),
    ("size_bytes", "bigint"),
    ("op", "string"),
    ("ts", "timestamp"),
    ("last_offset", "bigint"),
    ("last_partition_id", "int"),
]

QUARANTINE_FIELDS: list[tuple[str, str]] = [
    ("partition_id", "int"),
    ("offset", "bigint"),
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("decode_error", "string"),
    ("ts", "timestamp"),
    # dead-letter lifecycle: op='upsert' when quarantined, op='delete'
    # tombstone when a retry recovers the row; attempt orders them (0 =
    # original, retry tag >= 1 wins the LWW)
    ("op", "string"),
    ("attempt", "int"),
]

FANOUT_SPECS: dict[str, TableSpec] = {
    "source_code": TableSpec(
        fields=SOURCE_CODE_FIELDS, key_cols=KEY_COLS, order_cols=ORDER_COLS
    ),
    "file_versions": TableSpec(
        fields=FILE_VERSION_FIELDS,
        key_cols=["repo", "path", "commit"],
        order_cols=["last_offset", "last_partition_id"],
        # bucket by (repo, path) so version history co-locates with state
        bucket_cols=["repo", "path"],
        # zone maps on the offset: downstream tails read_changes with an
        # offset range and skip non-overlapping files at plan time (the
        # per-batch stats agg measured at ~2% of merge cost, BENCH.md)
        stats_cols=["last_offset"],
    ),
    "quarantine": TableSpec(
        fields=QUARANTINE_FIELDS,
        key_cols=["partition_id", "offset"],
        order_cols=["attempt"],
    ),
}


def project_file_versions(typed: DataFrame) -> DataFrame:
    """Decoded batch → one row per (repo, path, commit) version."""
    projected = typed.select(
        "repo",
        "path",
        "commit",
        "lang",
        "content_sha256",
        "size_bytes",
        "op",
        "ts",
        F.col("offset").alias("last_offset"),
        F.col("partition_id").alias("last_partition_id"),
    )
    return salted_lww(
        projected,
        ["repo", "path", "commit"],
        ["last_offset", "last_partition_id"],
        salt_col="last_offset",
    )


def project_quarantine(typed: DataFrame) -> DataFrame:
    """Bad rows → dead-letter shape. (partition_id, offset) is unique per
    event, so no reduction is needed beyond the projection."""
    return typed.filter(F.col("decode_error").isNotNull()).select(
        "partition_id",
        "offset",
        "repo",
        "path",
        "commit",
        "decode_error",
        "ts",
        F.lit("upsert").alias("op"),
        F.lit(0).alias("attempt"),
    )


def _fanout_updates(clean: DataFrame, quarantine: DataFrame) -> dict:
    """The three-table updates dict: converged state and version history
    from the decodable rows, plus the given quarantine rows."""
    return {
        "source_code": reduce_batch(clean),
        "file_versions": project_file_versions(clean),
        "quarantine": quarantine,
    }


def merge_fanout_batch(
    tables: TransactionalTableSet,
    raw: DataFrame,
    manifest: Manifest,
    metrics: dict,
    *,
    on_error: str,
) -> dict:
    """One fan-out batch: decode → on_error split → three projections →
    one atomic ``merge_all`` under ``manifest``."""
    typed = decode_change_events(raw)
    check = None
    if on_error == "fail":
        # fail-the-batch without an extra decode pass: the error counts
        # ride the source_code write job and abort the multi-table
        # commit before the pointer flip
        typed, check = observe_decode_errors(typed)
        clean = typed
        # fresh empty frame, NOT typed.limit(0): an empty action over the
        # observed lineage could satisfy the Observation with zero counts
        quarantined = typed.sparkSession.createDataFrame(
            [], ", ".join(f"{n} {t}" for n, t in QUARANTINE_FIELDS)
        )
    else:
        clean = typed.filter(F.col("decode_error").isNull())
        quarantined = project_quarantine(typed)
    return tables.merge_all(
        _fanout_updates(clean, quarantined),
        manifest,
        metrics=metrics,
        pre_commit_check=check,
    )


def retry_quarantine(
    change_log: DataFrame,
    tables: TransactionalTableSet,
    *,
    tag: int = 1,
) -> dict:
    """Dead-letter REPLAY: re-decode the currently-quarantined offsets
    against ``change_log`` (after a decoder/catalog fix or an upstream
    payload repair — the reference's analog is re-publishing dead-letter
    messages back to the topic). Rows that now decode cleanly merge into
    ``source_code``/``file_versions`` AND tombstone their quarantine entry
    — all under ONE atomic commit. Rows that still fail stay quarantined.

    Idempotency: the commit is keyed by the ("retry", ``tag``) manifest
    mark; re-running the same tag no-ops. Use a fresh (higher) tag per
    operational retry wave — the tag also wins the quarantine LWW (order
    col ``attempt``), so later recoveries supersede earlier state.

    Scale shape: the quarantine key set is small by assumption (dead
    letters), so it broadcasts into an equi-join against the log — no log
    shuffle; decode and the merge reductions are the standard batch stages.
    """
    snap = tables.latest()
    if snap is None:
        raise FileNotFoundError(f"table set {tables.path} does not exist")
    if ("retry", tag) in tables.committed_marks():
        return {"status": "skipped", "snapshot_id": snap["snapshot_id"]}
    keys = tables.read("quarantine").select("partition_id", "offset")
    cand = change_log.join(F.broadcast(keys), ["partition_id", "offset"])
    typed = decode_change_events(cand)
    clean = typed.filter(F.col("decode_error").isNull())
    tombstones = clean.select(
        "partition_id",
        "offset",
        "repo",
        "path",
        "commit",
        F.lit(None).cast("string").alias("decode_error"),
        "ts",
        F.lit("delete").alias("op"),
        F.lit(tag).alias("attempt"),
    )
    return tables.merge_all(
        _fanout_updates(clean, tombstones),
        [("retry", tag)],
        metrics={"retry_tag": tag},
    )


def stream_fanout(
    spark,
    log_dir: str,
    tables: TransactionalTableSet,
    *,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    on_error: str = "quarantine",
    compact_threshold: int | None = 16,
    available_now: bool = True,
):
    """Structured-Streaming variant of :func:`replay_fanout`: tail the log
    directory and apply each micro-batch with :func:`merge_fanout_batch`
    (three tables, one atomic manifest commit). Manifests are the
    per-partition observed spans (see streaming.stream.observed_manifests)
    — a restarted query that redelivers a processed batch no-ops."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', got {on_error!r}")
    tables.create(FANOUT_SPECS)

    def commit(batch: DataFrame, manifest: Manifest, metrics: dict) -> dict:
        return merge_fanout_batch(tables, batch, manifest, metrics, on_error=on_error)

    return stream_batches(
        spark, log_dir, commit, tables, checkpoint_dir=checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        compact_threshold=compact_threshold, available_now=available_now,
    )


def replay_fanout(
    change_log: DataFrame,
    tables: TransactionalTableSet,
    *,
    chunk_size: int = 100_000,
    max_batches: int | None = None,
    on_error: str = "fail",
    stop_requested: Callable[[], bool] | None = None,
    compact_threshold: int | None = 16,
    expire_keep: int | None = None,
    monitor=None,
) -> ReplayResult:
    """Replay all uncommitted ranges (holes in the committed set included,
    as in ``replay()``) into the fan-out table set.

    ``on_error``: 'fail' aborts the batch on any decode error (the
    reference's fail-the-batch, err.rs:1-31); 'quarantine' routes bad rows
    to the dead-letter table and applies the clean rows — both under the
    SAME atomic commit, so a poison row neither wedges its partition nor
    escapes the manifest's exactly-once accounting.

    The batch loop, its hooks and maintenance are ``replay()``'s
    (``stop_requested``, ``compact_threshold``, ``monitor``);
    ``expire_keep`` is one call per committed batch that covers every table
    of the set (shared snapshot log).
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', got {on_error!r}")
    tables.create(FANOUT_SPECS)
    batches = plan_batches(log_heads(change_log), tables.committed_ranges(), chunk_size)

    def commit(manifest: Manifest, bm: dict) -> dict:
        raw = filter_to_manifests(change_log, manifest)
        return merge_fanout_batch(tables, raw, manifest, bm, on_error=on_error)

    return _run_batches(
        batches[:max_batches], commit, tables, stop_requested=stop_requested,
        compact_threshold=compact_threshold, expire_keep=expire_keep,
        monitor=monitor,
    )

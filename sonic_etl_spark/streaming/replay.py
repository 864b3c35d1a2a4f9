"""Resumable micro-batch replay driver: one batch loop for every target.

The analog of the reference's worker loop (src/sonic_config/mod.rs:54-170):
pull a range, extract+transform every offset, publish, ack — except that here
"ack" is a transactional snapshot commit that atomically records BOTH the new
table state and the (partition, offset-range) manifest, so a crash anywhere
leaves either a fully-applied batch or an untouched table. Resumption
(pick_up_from_previous_run, publish_ranges.py:148-203; ./indexed_blocks/
scan, src/main.rs:187-241) is just: plan offsets not in the committed set.
That also repairs gaps: a hole anywhere in the committed set is planned
like the tail, so the reference's separate backfill DAG
(daily_backfill_mainnet.py:102-160) needs no driver of its own here.

Like the reference, which drives every output table from that one loop, the
per-batch lifecycle lives once, in :func:`_run_batches`: stop check,
commit, batch metrics, monitor push, compaction/expiry on commit and
``ReplayResult`` accounting. :func:`replay` (this module) and
``streaming.fanout.replay_fanout`` only plan their manifests and hand the
loop a per-target commit: :func:`merge_batch` here for the single
table, ``streaming.fanout.merge_fanout_batch`` for the table set. The
Structured-Streaming twins (streaming/stream.py) call the same two batch
functions from foreachBatch.

Graceful shutdown (mod.rs:70-98 SIGTERM flag checked between messages) maps to
``stop_requested()`` checked between micro-batches; state is always resumable
because there is no un-checkpointed progress by construction.

Scale: each micro-batch is one declarative plan — range-predicate scan
(pushed down) → vectorized decode (one pandas UDF, rest codegen) → salted
two-phase LWW shuffle → bucket-partitioned delta append (merge-on-read:
O(batch) writes, read-time LWW, periodic compaction). No driver-side loops
over rows, no collect of data (only per-batch counters).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from sonic_etl_spark.functions.codec import decode_change_events
from sonic_etl_spark.operators.merge import (
    KEY_COLS,
    ORDER_COLS,
    SOURCE_CODE_FIELDS,
    observe_decode_errors,
    reduce_batch,
)
from sonic_etl_spark.plans.planner import filter_to_manifests, log_heads, plan_batches
from sonic_etl_spark.sources.table import TransactionalParquetTable

Manifest = list[tuple[int, int, int]]


@dataclass
class ReplayResult:
    batches_applied: int = 0
    batches_skipped: int = 0
    rows_seen: int = 0
    elapsed_sec: float = 0.0
    events_per_sec: float = 0.0
    batch_metrics: list[dict] = field(default_factory=list)


def merge_batch(
    table: TransactionalParquetTable,
    raw: DataFrame,
    manifest: Manifest,
    metrics: dict,
) -> dict:
    """One single-table batch: decode → validate → reduce → merge.

    Validation fails the batch WITHOUT a second decode pass: the error
    counts are observed during the merge's own write job, checked after the
    files land but before the snapshot commit."""
    typed, check = observe_decode_errors(decode_change_events(raw))
    updates = reduce_batch(typed)
    return table.merge(updates, manifest, metrics=metrics, pre_commit_check=check)


def _table_commit(change_log: DataFrame,
                  table: TransactionalParquetTable) -> Callable[[Manifest, dict], dict]:
    def commit(manifest: Manifest, bm: dict) -> dict:
        raw = filter_to_manifests(change_log, manifest)
        return merge_batch(table, raw, manifest, bm)

    return commit


def maintain_after_commit(target, status: dict, compact_threshold: int | None,
                          expire_keep: int | None = None) -> bool:
    """After a committed batch, fold long delta chains and expire old
    snapshots (either step disabled by None). Returns whether it committed."""
    if status["status"] != "committed":
        return False
    if compact_threshold is not None:
        target.compact(max_files_per_bucket=compact_threshold)
    if expire_keep is not None:
        target.expire_snapshots(keep_last=expire_keep)
    return True


def _run_batches(
    manifests: list[Manifest],
    commit: Callable[[Manifest, dict], dict],
    target,
    *,
    stop_requested: Callable[[], bool] | None = None,
    compact_threshold: int | None = None,
    expire_keep: int | None = None,
    monitor=None,
) -> ReplayResult:
    """The batch loop shared by every replay driver. ``commit(manifest,
    metrics)`` applies one batch to ``target`` and returns its merge status;
    ``stop_requested`` runs exactly once before each batch; an exception it
    raises propagates with nothing of that batch written."""
    res = ReplayResult()
    t0 = time.time()
    for i, manifest in enumerate(manifests):
        if stop_requested is not None and stop_requested():
            break
        bt0 = time.time()
        n_rows = sum(e - s + 1 for (_p, s, e) in manifest)  # dense log
        bm = {"batch_index": i, "manifest": [list(m) for m in manifest], "rows": n_rows}
        status = commit(manifest, bm)
        bm["elapsed_sec"] = round(time.time() - bt0, 3)
        bm["events_per_sec"] = round(n_rows / max(bm["elapsed_sec"], 1e-9), 1)
        bm["status"] = status["status"]
        res.batch_metrics.append(bm)
        if monitor is not None:
            monitor.record_batch(bm)
        if maintain_after_commit(target, status, compact_threshold, expire_keep):
            res.batches_applied += 1
            res.rows_seen += n_rows
        else:
            res.batches_skipped += 1
    res.elapsed_sec = round(time.time() - t0, 3)
    res.events_per_sec = round(res.rows_seen / max(res.elapsed_sec, 1e-9), 1)
    return res


def replay(
    change_log: DataFrame,
    table: TransactionalParquetTable,
    *,
    chunk_size: int = 100_000,
    max_batches: int | None = None,
    validate: bool = True,
    stop_requested: Callable[[], bool] | None = None,
    compact_threshold: int | None = 16,
    expire_keep: int | None = None,
    monitor=None,
) -> ReplayResult:
    """Replay all uncommitted offset ranges of ``change_log`` into ``table``:
    per partition, ``[0, head]`` minus the committed set, so holes in that
    set (gap repair) are planned along with the tail.

    Every batch is validated: a row that fails to decode fails its batch
    before the snapshot commit (:func:`merge_batch`). ``validate`` is kept
    only so callers that pass ``validate=True`` still run; False raises.

    ``monitor``: an optional :class:`~sonic_etl_spark.streaming.monitor.
    ReplayMonitor` — each batch's metrics dict is pushed to its /metrics
    tail and refreshes its /healthz liveness (ST6; ref main.rs:317-355's
    health+metrics servers beside the worker loop).

    ``stop_requested`` runs once before each batch: True stops cleanly
    between batches; raising aborts the replay there, as a crash would
    (the crash/restart pytest of SURVEY.md §7.1 M2 drives it so).

    ``compact_threshold``: merge-on-read maintenance — after each committed
    batch, buckets whose delta chain exceeds this many files are folded back
    to one (bounds read amplification during long replays). None disables.

    ``expire_keep``: retention maintenance — after each committed batch,
    keep only the N most recent snapshots (expire_snapshots). A 10^10-event
    replay is ~10^4 commits; without this the snapshot log and superseded
    delta roots grow for the whole run. Resumability is unaffected: the
    LATEST snapshot carries the full committed-manifest set. None disables
    (keep full history — e.g. when downstream incremental readers are
    anchored to old snapshots).
    """
    if not validate:
        raise ValueError("replay always validates decode errors; validate=False is not supported")
    table.create(SOURCE_CODE_FIELDS, KEY_COLS, ORDER_COLS)
    batches = plan_batches(log_heads(change_log), table.committed_ranges(), chunk_size)
    return _run_batches(
        batches[:max_batches], _table_commit(change_log, table), table,
        stop_requested=stop_requested, compact_threshold=compact_threshold,
        expire_keep=expire_keep, monitor=monitor,
    )


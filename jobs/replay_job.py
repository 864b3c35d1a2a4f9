"""spark-submit entry point: resumable change-log replay into the converged
source_code table.

Packaging (north rule: "packaged for spark-submit --py-files"):

    cd /root/repo && python tools/package.py /tmp/sonic_etl_spark.zip
    spark-submit --py-files /tmp/sonic_etl_spark.zip jobs/replay_job.py \
        --log /path/to/change_events_parquet \
        --table /path/to/converged_table \
        --chunk-size 100000 --n-buckets 64

On a real cluster the same invocation gains ``--master yarn``/``--deploy-mode
cluster`` etc.; the job itself is master-agnostic (SparkSession comes from
spark-submit's conf when present). Resumption is automatic: already-committed
(partition, offset-range) manifests are skipped (idempotent-commit guard),
so re-running after a crash continues where the last transactional snapshot
left off — the analog of the reference coordinator's
pick_up_from_previous_run (indexing_coordinator/publish_ranges.py:148-203)
without a separate resumption channel.

A graceful-shutdown file (``--stop-file``) mirrors the reference's SIGTERM
flag checked between messages (src/sonic_config/mod.rs:70-98): touch the file
and the loop exits after the in-flight batch commits.

``--fanout`` switches to the multi-table pipeline (one decode pass →
source_code + file_versions + quarantine under one shared manifest commit;
streaming/fanout.py), and ``--on-error quarantine`` enables the dead-letter
path for poison rows instead of fail-the-batch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--log", required=True, help="change_events parquet path")
    ap.add_argument("--table", required=True, help="converged table directory")
    ap.add_argument("--chunk-size", type=int, default=100_000)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument("--stop-file", default=None,
                    help="graceful shutdown: stop after current batch if this file exists")
    ap.add_argument("--fanout", action="store_true",
                    help="multi-table pipeline: source_code + file_versions + "
                         "quarantine under one shared manifest commit")
    ap.add_argument("--on-error", choices=["fail", "quarantine"], default="fail",
                    help="(--fanout only) poison-row policy")
    ap.add_argument("--expire-keep", type=int, default=None,
                    help="after each committed batch, expire snapshots keeping "
                         "the N most recent (retention maintenance; delta roots "
                         "already superseded by compaction are reclaimed)")
    ap.add_argument("--metrics-port", type=int, default=None,
                    help="serve GET /healthz (liveness, 503 when stale) and "
                         "GET /metrics (totals + per-batch tail) on this "
                         "port for the duration of the replay")
    args = ap.parse_args(argv)

    from sonic_etl_spark.session import get_spark

    spark = get_spark("cdc-replay")
    log = spark.read.parquet(args.log)
    stop = (
        (lambda: os.path.exists(args.stop_file)) if args.stop_file else None
    )
    monitor = None
    if args.metrics_port is not None:
        from sonic_etl_spark.streaming.monitor import ReplayMonitor

        monitor = ReplayMonitor(port=args.metrics_port).start()

    if args.fanout:
        from sonic_etl_spark.sources.multitable import TransactionalTableSet
        from sonic_etl_spark.streaming.fanout import replay_fanout

        tables = TransactionalTableSet(spark, args.table, n_buckets=args.n_buckets)
        res = replay_fanout(
            log,
            tables,
            chunk_size=args.chunk_size,
            max_batches=args.max_batches,
            on_error=args.on_error,
            stop_requested=stop,
            expire_keep=args.expire_keep,
            monitor=monitor,
        )
        snapshot = tables.latest()["snapshot_id"]
    else:
        from sonic_etl_spark.sources import TransactionalParquetTable
        from sonic_etl_spark.streaming import replay

        table = TransactionalParquetTable(spark, args.table, n_buckets=args.n_buckets)
        res = replay(
            log,
            table,
            chunk_size=args.chunk_size,
            max_batches=args.max_batches,
            stop_requested=stop,
            expire_keep=args.expire_keep,
            monitor=monitor,
        )
        snapshot = table.latest()["snapshot_id"]
    out = {
        "batches_applied": res.batches_applied,
        "batches_skipped": res.batches_skipped,
        "rows_seen": res.rows_seen,
        "elapsed_sec": res.elapsed_sec,
        "events_per_sec": res.events_per_sec,
        "snapshot": snapshot,
    }
    if monitor is not None:
        monitor.stop()
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()

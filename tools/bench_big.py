"""One BIG replay leg: 50M events end-to-end on the peak configuration —
the measured trend-line point between the per-round 10M benchmark and the
10^10 target (VERDICT r4 #8).

What it exercises that the 10M leg cannot:
- 25 micro-batches through ONE table ⇒ repeated mid-replay compaction
  (compact_threshold=16) and retention (expire_keep=3) — the maintenance
  that keeps a 10^4-commit replay's read amplification and snapshot log
  bounded;
- zone-map stats collection on every batch (stats_cols=["last_offset"],
  i.e. the file_versions default) — the 2.4%-measured overhead at 5× the
  usual volume;
- the live /healthz + /metrics monitor scraped twice a second through the
  whole timed region (the monitored configuration IS the benched one).

Prints ONE JSON line and (with SPARK_GRAFT_BENCH_OUT) tees it for
bench_runs/. Reuses bench.py's materialized-log convention so the input
layout is pinned (num_slices=32) regardless of session parallelism.

Usage:  SPARK_GRAFT_BENCH_OUT=bench_runs/r5_big.json python tools/bench_big.py
Env:    SPARK_GRAFT_BIG_EVENTS (default 50_000_000), SPARK_GRAFT_CPUS (32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENTS = int(os.environ.get("SPARK_GRAFT_BIG_EVENTS", "50000000"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
LOG_DIR = f"/tmp/bench_change_log_{N_EVENTS}"
# chunk_size is PER-PARTITION offsets; the synthesized log has 8
# partitions, so per-batch rows = 8 × chunk. N//400 → 1M-row batches, 50
# rounds: enough commits that every bucket's delta chain crosses
# compact_threshold=16 repeatedly — the sustained-load maintenance story.
# (A first attempt at 16M-row batches blew the 8g default heap — Java OOM
# in the decode stage at 32 concurrent tasks; batch size is the lever.)
CHUNK = max(N_EVENTS // 400, 1)
# headroom for the 50-commit snapshot bookkeeping + 64-bucket merge sorts
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")


def main() -> None:
    from sonic_etl_spark.log import synthesize_change_events
    from sonic_etl_spark.session import get_spark
    from sonic_etl_spark.operators.merge import (
        KEY_COLS,
        ORDER_COLS,
        SOURCE_CODE_FIELDS,
    )
    from sonic_etl_spark.sources import TransactionalParquetTable
    from sonic_etl_spark.sources.table import MEMBER
    from sonic_etl_spark.streaming import replay
    from sonic_etl_spark.streaming.monitor import ReplayMonitor

    spark = get_spark(
        "bench-big", master=f"local[{CORES}]", shuffle_partitions=max(CORES, 32)
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(LOG_DIR, "_SUCCESS")):
        shutil.rmtree(LOG_DIR, ignore_errors=True)
        synthesize_change_events(spark, N_EVENTS, num_slices=32).write.mode(
            "overwrite"
        ).parquet(LOG_DIR)
    log = spark.read.parquet(LOG_DIR)

    # warmup: JIT the codegen + spin the python worker pool (long-lived
    # clusters amortize this; see memory/sandbox-perf-traps)
    wtab = TransactionalParquetTable(
        spark, tempfile.mkdtemp(prefix="warm_tab_"), n_buckets=8
    )
    replay(
        synthesize_change_events(spark, 20000, num_slices=CORES),
        wtab,
        chunk_size=10000,
        validate=False,
    )

    tdir = tempfile.mkdtemp(prefix="bench_big_tab_")
    tab = TransactionalParquetTable(spark, tdir, n_buckets=64)
    # pre-create WITH zone-map stats so every merge pays the stats pass
    tab.create(SOURCE_CODE_FIELDS, KEY_COLS, ORDER_COLS,
               stats_cols=["last_offset"])

    mon = ReplayMonitor(port=0).start()
    scrapes = {"n": 0, "live": True, "stop": False}

    def _scrape():
        while not scrapes["stop"]:
            try:
                with urllib.request.urlopen(
                    f"http://127.0.0.1:{mon.port}/healthz", timeout=2
                ) as r:
                    h = json.load(r)
                with urllib.request.urlopen(
                    f"http://127.0.0.1:{mon.port}/metrics", timeout=2
                ) as r:
                    json.load(r)
                scrapes["n"] += 1
                scrapes["live"] = scrapes["live"] and (r.status == 200) and h["live"]
            except Exception:
                scrapes["live"] = False
            time.sleep(0.5)

    t = threading.Thread(target=_scrape, daemon=True)
    t.start()

    t0 = time.time()
    res = replay(
        log,
        tab,
        chunk_size=CHUNK,
        validate=True,
        salt_buckets=32,
        compact_threshold=16,
        expire_keep=3,
        monitor=mon,
    )
    wall = time.time() - t0
    scrapes["stop"] = True
    t.join(timeout=3)
    mon.stop()

    snap = tab.latest()
    files_per_bucket = list(tab.files_per_bucket(snap).values())
    # compaction count from the retained metrics history (bounded by
    # expire_keep, so this undercounts total compactions — the files/bucket
    # numbers are the real evidence the maintenance kept up)
    hist = tab.metrics_history().collect()
    n_compactions = sum(1 for r in hist if "compaction" in r["metrics_json"])
    converged = tab.read().count()
    stats_files = sum(
        1
        for e in snap["tables"][MEMBER]["buckets"].values()
        for f in e["files"]
        if f.get("stats")
    )
    line = json.dumps(
        {
            "metric": f"cdc_replay_{N_EVENTS}_events_wall_sec_local{CORES}",
            "value": round(wall, 2),
            "unit": "sec",
            "big_leg": {
                "events": N_EVENTS,
                "cores": CORES,
                "wall_sec": round(wall, 2),
                "events_per_sec": round(res.rows_seen / wall, 1),
                "batches": res.batches_applied,
                "converged_rows": converged,
                "files_per_bucket_max": max(files_per_bucket),
                "files_per_bucket_mean": round(
                    sum(files_per_bucket) / len(files_per_bucket), 2
                ),
                "stats_files": stats_files,
                "retained_snapshots": len(hist),
                "compaction_commits_retained": n_compactions,
                "monitor": {
                    "scrapes": scrapes["n"],
                    "all_probes_live": scrapes["live"],
                },
            },
        }
    )
    shutil.rmtree(tdir, ignore_errors=True)
    print(line)
    out = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out:
        with open(out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()

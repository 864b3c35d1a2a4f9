"""The benchmark's workloads. Each one is a closed loop with a single
client, the replay/apply loop itself: the next batch starts only when the
previous one has committed.

A workload object makes its inputs, creates its empty target, runs its
loop, reads and looks up the result, and checks it against the oracle;
``run.py`` times these steps the same way for every workload. The batch
count comes from ``--seconds`` and a per-batch time measured on a 4-core
host, so a run's work depends only on its arguments.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import urllib.request

import inputs
import oracle
from spans import BatchClock

N_LOOKUPS = 5
SCRAPE_PERIOD_S = 0.5  # the monitor is scraped at 2 Hz
WARMUP_EVENTS = 2000  # one warmup batch: 8 log partitions x 250 offsets


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root) for f in files
    )


class Scraper:
    """One thread polling a ReplayMonitor's /metrics at a fixed period, as
    an orchestrator would; records each probe's latency and outcome."""

    def __init__(self, url: str):
        self.url = url
        self.latencies: list[float] = []
        self.failures = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="scraper", daemon=True)

    def _probe(self) -> None:
        t = time.perf_counter()
        try:
            with urllib.request.urlopen(self.url, timeout=5) as resp:
                ok = resp.status == 200 and "totals" in json.loads(resp.read())
        except (OSError, ValueError):
            ok = False
        self.latencies.append(time.perf_counter() - t)
        self.failures += not ok

    def _loop(self) -> None:
        while not self._stop.wait(SCRAPE_PERIOD_S):
            self._probe()

    def __enter__(self) -> "Scraper":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("monitor scraper thread did not stop")


def _cores(spark) -> int:
    return spark.sparkContext.defaultParallelism


class _Workload:
    batch_span = "streaming.batch"
    quarantine = False
    batch_s_hint = 1.0  # seconds per batch, measured on a 4-core host

    def __init__(self, work: str, seed: int, seconds: int):
        self.work = work
        self.seed = seed
        # at least three batches, so that the median batch is a warm one
        self.n_batches = max(3, int(round(seconds / self.batch_s_hint)))
        self.keys: list = []
        self.scrape_latencies: list[float] = []
        self.scrape_failures = 0


class ReplayBulk(_Workload):
    """Validated single-table ``replay()`` of a materialized log in a few
    large batches; decode, the salted reduce and the bucket write take most
    of a batch, and per-batch fixed cost about a third of it.
    Both replay workloads push batch metrics to a ReplayMonitor that one
    thread scrapes at 2 Hz."""

    name = "replay_bulk"
    events_unit = "events"
    chunk = 9375  # offsets per log partition: 75k events per batch
    batch_s_hint = 5.5
    poison_fraction = 0.0

    def __init__(self, work: str, seed: int, seconds: int, scale: float):
        super().__init__(work, seed, seconds)
        self.chunk_size = max(25, round(self.chunk * scale))
        self.n_events = self.n_batches * inputs.LOG_PARTITIONS * self.chunk_size
        self.log_dir = os.path.join(
            work, "inputs", f"{self.name}-seed{seed}-n{self.n_events}")

    def make_inputs(self, spark) -> None:
        inputs.write_change_log(spark, self.log_dir, self.n_events, self.seed,
                                poison_fraction=self.poison_fraction)
        self.keys = oracle.hot_and_sampled_keys(self.log_dir, self.seed, N_LOOKUPS)

    def create(self, spark, root: str):
        from sonic_etl_spark.operators.merge import KEY_COLS, ORDER_COLS, SOURCE_CODE_FIELDS
        from sonic_etl_spark.sources.table import TransactionalParquetTable

        t = TransactionalParquetTable(spark, root, n_buckets=_cores(spark))
        t.create(SOURCE_CODE_FIELDS, KEY_COLS, ORDER_COLS)
        return t

    def _replay(self, log, target, chunk_size, clock=None, monitor=None):
        from sonic_etl_spark.streaming import replay

        return replay(log, target, chunk_size=chunk_size, validate=True,
                      monitor=monitor, stop_requested=clock)

    def warmup(self, spark, root: str) -> None:
        """One batch of a seed-0 log through the loop's own path."""
        path = os.path.join(self.work, "inputs", f"warmup-n{WARMUP_EVENTS}")
        log = spark.read.parquet(inputs.write_change_log(spark, path, WARMUP_EVENTS, seed=0))
        res = self._replay(log, self.create(spark, root), WARMUP_EVENTS // inputs.LOG_PARTITIONS)
        if res.batches_applied != 1:
            raise RuntimeError(f"warmup applied {res.batches_applied} batches, expected 1")

    def load(self, spark, target, clock: BatchClock) -> dict:
        from sonic_etl_spark.streaming import ReplayMonitor

        log = spark.read.parquet(self.log_dir)
        with ReplayMonitor(port=0) as mon, \
                Scraper(f"http://127.0.0.1:{mon.port}/metrics") as scraper, \
                clock.loop("streaming.replay"):
            # only the replay call is timed: monitor and scraper start-up and
            # shutdown belong to the harness
            t = time.perf_counter()
            res = self._replay(log, target, self.chunk_size, clock, mon)
            wall_s = time.perf_counter() - t
        self.scrape_latencies, self.scrape_failures = scraper.latencies, scraper.failures
        return {"wall_s": wall_s, "batch_s": clock.batch_s,
                "events": res.rows_seen, "planned": len(res.batch_metrics),
                "committed": res.batches_applied,
                "manifests": [b["manifest"] for b in res.batch_metrics
                              if b["status"] == "committed"]}

    def read(self, target):
        return target.read()

    def lookup(self, target, key):
        return target.lookup(repo=key[0], path=key[1])

    def lookup_value(self, rows):
        return (rows[0]["commit"], rows[0]["last_offset"]) if rows else None

    def dump(self, target, out_dir: str) -> None:
        """Write the converged output for the oracle."""
        self.read(target).select(*oracle.REPLAY_COLS).write.parquet(out_dir)

    def check(self, target, out_dir: str) -> dict:
        return oracle.check_replay(self.log_dir, out_dir, self.keys)

    def snapshot_json_bytes(self, target) -> int:
        return len(json.dumps(target.latest()))

    def files_per_bucket_max(self, target) -> int:
        return max(target.files_per_bucket().values(), default=0)


class FanoutTrickle(ReplayBulk):
    """``replay_fanout(on_error="quarantine")`` over a log with ~1% poisoned
    payloads in small batches, with inline compaction and expiry; per-batch
    fixed cost dominates."""

    name = "fanout_trickle"
    quarantine = True
    chunk = 500  # 4k events per batch
    batch_s_hint = 7.0
    poison_fraction = 0.01
    compact_threshold = 4
    expire_keep = 3

    def create(self, spark, root: str):
        from sonic_etl_spark.sources.multitable import TransactionalTableSet
        from sonic_etl_spark.streaming.fanout import FANOUT_SPECS

        ts = TransactionalTableSet(spark, root, n_buckets=_cores(spark))
        ts.create(FANOUT_SPECS)
        return ts

    def _replay(self, log, target, chunk_size, clock=None, monitor=None):
        from sonic_etl_spark.streaming.fanout import replay_fanout

        return replay_fanout(
            log, target, chunk_size=chunk_size, on_error="quarantine",
            compact_threshold=self.compact_threshold, expire_keep=self.expire_keep,
            monitor=monitor, stop_requested=clock)

    def read(self, target):
        return target.read("source_code")

    def lookup(self, target, key):
        return target.lookup("source_code", repo=key[0], path=key[1])

    def check(self, target, out_dir: str) -> dict:
        res = oracle.check_replay(self.log_dir, out_dir, self.keys)
        actual = {r["decode_error"]: r["count"] for r in
                  target.read("quarantine").groupBy("decode_error").count().collect()}
        q = oracle.check_quarantine(self.log_dir, actual)
        return {**res, "ok": res["ok"] and q["ok"], "quarantine": q}

    def files_per_bucket_max(self, target) -> int:
        tables = target.latest()["tables"]
        return max((len(e["files"]) for t in tables.values()
                    for e in t["buckets"].values()), default=0)


class CuratorSoak(_Workload):
    """``IncrementalCurator.apply`` over arrival batches read from parquet,
    against persisted state that grows every batch (nothing compacts it)."""

    name = "curator_soak"
    events_unit = "docs"
    batch_span = "operators.incremental.batch"
    batch_docs = 250
    batch_s_hint = 13.0

    def __init__(self, work: str, seed: int, seconds: int, scale: float):
        super().__init__(work, seed, seconds)
        self.docs_per_batch = max(20, round(self.batch_docs * scale))
        self.docs_dir = os.path.join(
            work, "inputs", f"{self.name}-seed{seed}-{self.n_batches}x{self.docs_per_batch}")
        self.files: list[str] = []

    def warmup(self, spark, root: str) -> None:
        """Nothing: the curator has no batch cheaper than an apply, so its
        first apply is its warmup, and the median apply excludes it."""

    def make_inputs(self, spark) -> None:
        self.files = inputs.write_docs(self.docs_dir, self.seed, self.n_batches,
                                       self.docs_per_batch)
        n_docs = self.n_batches * self.docs_per_batch
        self.keys = [3 * i for i in random.Random(self.seed).sample(range(n_docs), N_LOOKUPS)]

    def create(self, spark, root: str):
        from sonic_etl_spark.operators.incremental import IncrementalCurator

        return IncrementalCurator(spark, root, n_buckets=_cores(spark)).create()

    def load(self, spark, target, clock: BatchClock) -> dict:
        t = time.perf_counter()
        committed = 0
        with clock.loop("operators.incremental.soak"):
            for f in self.files:
                clock()
                committed += target.apply(spark.read.parquet(f))["status"] == "committed"
        return {"wall_s": time.perf_counter() - t, "batch_s": clock.batch_s,
                "events": committed * self.docs_per_batch,
                "planned": len(self.files), "committed": committed, "manifests": []}

    def read(self, target):
        return target.verdicts.read()

    def lookup(self, target, key):
        return target.verdicts.lookup(doc_id=key)

    def lookup_value(self, rows):
        return rows[0]["reason"] if rows else None

    def dump(self, target, out_dir: str) -> None:
        self.read(target).select(*oracle.VERDICT_COLS).write.parquet(out_dir)

    def check(self, target, out_dir: str) -> dict:
        return oracle.check_curation(self.docs_dir, out_dir, self.keys)

    def _tables(self, target):
        return (target.hash_minima, target.bucket_minima, target.verdicts)

    def snapshot_json_bytes(self, target) -> int:
        return sum(len(json.dumps(t.latest())) for t in self._tables(target))

    def files_per_bucket_max(self, target) -> int:
        return max(max(t.files_per_bucket().values(), default=0)
                   for t in self._tables(target))


WORKLOADS = {w.name: w for w in (ReplayBulk, FanoutTrickle, CuratorSoak)}

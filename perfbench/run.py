"""The engine's benchmark: one workload per run, in a fresh Python + JVM
process at local[nproc], with every result checked against an oracle.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the workload traced and prints the per-layer
metrics. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the exit code
is 0 only when every oracle check passed. Inputs, tables and Spark scratch
space live under ``.perfbench_work/`` in the checkout. See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# An empty Spark conf dir keeps the JVM class path free of non-empty
# directories, which class-data sharing requires.
SPARK_CONF = os.path.join(WORK, "jvm", "conf")
CLASS_ARCHIVE = os.path.join(WORK, "jvm", "classes.jsa")

# full reads: at least N_READS of them and READ_MIN_S seconds in all, so a
# small output (the curator's) is read often enough for a steady median
N_READS = 4
READ_MIN_S = 2.0

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "batch_s_p50": "s",
    "read_s": "s",
    "lookup_s_p50": "s",
    "bytes_per_row": "B",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "plans.log_heads_s": "s",
    "plans.plan_batches_s": "s",
    "plans.scan_s": "s",
    "functions.decode_s": "s",
    "functions.decode_error_rows": "count",
    "operators.reduce_s": "s",
    "operators.keys_per_event": "ratio",
    "sources.merge_s": "s",
    "sources.merge_self_s": "s",
    "sources.jobs_per_merge": "count",
    "sources.latest_calls": "count",
    "sources.latest_s": "s",
    "sources.snapshot_json_bytes": "B",
    "sources.compact_s": "s",
    "sources.compactions": "count",
    "sources.expire_s": "s",
    "sources.files_per_bucket_max": "count",
    "sources.read_for_keys_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.failed_tasks": "count",
    "streaming.maintenance_s": "s",
    "streaming.monitor_scrape_s_p50": "s",
    "operators.incremental.jobs_per_apply": "count",
    "operators.incremental.merge_s": "s",
    "operators.incremental.state_files_per_bucket_max": "count",
    "operators.incremental.kept_ratio": "ratio",
    "operators.incremental.exact_dup_ratio": "ratio",
    "operators.incremental.near_dup_ratio": "ratio",
    "trace.events_per_s": "events/s",
}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - PROCESS_START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["replay_bulk", "fanout_trickle", "curator_soak"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True,
                   help="intended length of the measured loop; sets the batch count")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="batch-size multiplier; the smoke tests run at 0.02")
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    engine importable by Spark's Python workers."""
    for d in ("tmp", "spark-local", "inputs", "runs", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.makedirs(SPARK_CONF, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = SPARK_CONF
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def registered_workloads() -> list[str]:
    """The workloads BENCHMARK.json registers."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ensure_class_archive() -> float:
    """Build the JVM class-data archive once per checkout (a child process,
    outside every timed region). With it, a run's JVM loads Spark's classes
    from one mapped file, which takes several seconds off every start."""
    if os.path.isfile(CLASS_ARCHIVE):
        return 0.0
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "jvm_archive.py")],
                   check=True, timeout=900, stdout=sys.stderr)
    build_s = time.perf_counter() - t
    log(f"JVM class archive built in {build_s:.1f}s")
    return build_s


def start_session(class_archive_opt: str | None = None):
    """A local[nproc] session sized for the machine it runs on. The JVM
    starts from the class archive unless ``class_archive_opt`` replaces
    that flag."""
    from sonic_etl_spark.session import get_spark

    if class_archive_opt is None:
        class_archive_opt = f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"
    n = cores()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            # JVM log lines go to stderr: stdout carries only the result
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
                f"-Xlog:disable -Xlog:all=warning:stderr {class_archive_opt}",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=300)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def set_up(spark, wl, run_dir: str):
    """The last step of set-up: the workload's empty target created and
    read back through the session."""
    target = wl.create(spark, os.path.join(run_dir, "target"))
    wl.read(target).count()
    return target


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def trace_wraps():
    """(owner, attribute, span name) for every public call the trace times.

    Loop modules import their planner/codec/merge functions by name, so the
    wraps go on the loop module's own binding of each function."""
    from sonic_etl_spark.operators.incremental import IncrementalCurator
    from sonic_etl_spark.sources.multitable import TransactionalTableSet
    from sonic_etl_spark.sources.table import TransactionalParquetTable

    out = []
    for mod in ("sonic_etl_spark.streaming.replay", "sonic_etl_spark.streaming.fanout"):
        m = importlib.import_module(mod)
        out += [
            (m, "log_heads", "plans.log_heads"),
            (m, "plan_batches", "plans.plan_batches"),
            (m, "filter_to_manifests", "plans.filter_to_manifests"),
            (m, "decode_change_events", "functions.decode_change_events"),
            (m, "reduce_batch", "operators.reduce_batch"),
        ]
    for cls in (TransactionalParquetTable, TransactionalTableSet):
        out += [
            (cls, "latest", "sources.latest"),
            (cls, "compact", "sources.compact"),
            (cls, "expire_snapshots", "sources.expire_snapshots"),
            (cls, "read", "sources.read"),
            (cls, "lookup", "sources.lookup"),
        ]
    out += [
        (TransactionalParquetTable, "merge", "sources.merge"),
        (TransactionalParquetTable, "read_for_keys", "sources.read_for_keys"),
        (TransactionalTableSet, "merge_all", "sources.merge_all"),
        (IncrementalCurator, "apply", "operators.incremental.apply"),
    ]
    return out


def pct50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tr, wl, loaded, cuts, target, checked, eps_traced) -> dict:
    merges = tr.named("sources.merge") + tr.named("sources.merge_all")
    batches = tr.named(wl.batch_span)
    applies = tr.named("operators.incremental.apply")
    maintenance = (tr.total("sources.compact", under=wl.batch_span)
                   + tr.total("sources.expire_snapshots", under=wl.batch_span))
    shares = checked.get("reason_shares", {})
    is_curator = bool(applies)

    def mean(spans, key):
        return sum(s[key] for s in spans) / len(spans) if spans else 0.0

    merge_s = sum(s["dur"] for s in merges)
    return {
        "plans.log_heads_s": tr.total("plans.log_heads"),
        "plans.plan_batches_s": tr.total("plans.plan_batches"),
        "plans.scan_s": cuts["to_scan"],
        "functions.decode_s": cuts["to_decode"] - cuts["to_scan"],
        "functions.decode_error_rows": cuts["decode_errors"],
        "operators.reduce_s": cuts["to_reduce"] - cuts["to_decode"],
        "operators.keys_per_event": cuts["keys"] / cuts["events"] if cuts["events"] else 0.0,
        "sources.merge_s": merge_s,
        "sources.merge_self_s": merge_s - cuts["to_reduce"],
        # on the curator one Spark-thread job lands under a read_for_keys or
        # a merge span depending on timing; jobs_per_apply counts it there
        "sources.jobs_per_merge": 0.0 if is_curator else mean(merges, "jobs"),
        "sources.latest_calls": len(tr.named("sources.latest")),
        "sources.latest_s": tr.total("sources.latest"),
        "sources.snapshot_json_bytes": wl.snapshot_json_bytes(target),
        "sources.compact_s": tr.total("sources.compact"),
        "sources.compactions": sum(
            s.get("status") == "compacted" for s in tr.named("sources.compact")),
        "sources.expire_s": tr.total("sources.expire_snapshots"),
        "sources.files_per_bucket_max": wl.files_per_bucket_max(target),
        "sources.read_for_keys_s": tr.total("sources.read_for_keys"),
        "streaming.jobs_per_batch": 0.0 if is_curator else mean(batches, "jobs"),
        "streaming.tasks_per_batch": 0.0 if is_curator else mean(batches, "tasks"),
        "streaming.failed_tasks": sum(s["self_failed_tasks"] for s in tr.spans),
        "streaming.maintenance_s": maintenance,
        "streaming.monitor_scrape_s_p50": pct50(wl.scrape_latencies),
        "operators.incremental.jobs_per_apply": mean(applies, "jobs"),
        "operators.incremental.merge_s": sum(
            s["dur"] for s in tr.named("sources.merge", under="operators.incremental.apply")),
        "operators.incremental.state_files_per_bucket_max":
            wl.files_per_bucket_max(target) if is_curator else 0,
        "operators.incremental.kept_ratio": shares.get("kept", 0.0),
        "operators.incremental.exact_dup_ratio": shares.get("exact_dup", 0.0),
        "operators.incremental.near_dup_ratio": shares.get("near_dup", 0.0),
        "trace.events_per_s": eps_traced,
    }


def run(args, build_s: float) -> int:
    import spans as tracing
    import workloads

    wl = workloads.WORKLOADS[args.workload](WORK, args.seed, args.seconds, args.scale)
    run_id = f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    spark = start_session()
    try:
        # Set-up runs from process start to a warm target: JVM launch,
        # SparkContext, one warmup batch of the workload's loop, then the
        # empty target created and read back. The class-archive build (first
        # run in a checkout only) is not part of it; input generation follows.
        wl.warmup(spark, os.path.join(run_dir, "warmup"))
        target = set_up(spark, wl, run_dir)
        setup_s = time.perf_counter() - PROCESS_START - build_s
        log(f"set-up {setup_s:.2f}s")
        t = time.perf_counter()
        wl.make_inputs(spark)
        log(f"inputs ready in {time.perf_counter() - t:.1f}s")

        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark.sparkContext, run_id)
            for owner, attr, name in trace_wraps():
                tracer.wrap(owner, attr, name)
            try:
                loaded = wl.load(spark, target, tracing.BatchClock(tracer, wl.batch_span))
            finally:
                tracer.unwrap_all()
        else:
            loaded = wl.load(spark, target, tracing.BatchClock(None, wl.batch_span))
        eps = loaded["events"] / loaded["wall_s"]

        log("loop done")
        out_dir = os.path.join(run_dir, "output")
        wl.dump(target, out_dir)
        # the dump goes first, so the timed reads find their path compiled,
        # as the loop found its batch path
        read_s, lookup_s, looked_up = [], [], {}
        pending = list(wl.keys)

        def reads_wanted() -> bool:
            return not args.trace and (len(read_s) < N_READS or sum(read_s) < READ_MIN_S)

        # reads and lookups alternate, so that both sample the same stretch
        # of the run and a short change in host speed moves neither alone
        while pending or reads_wanted():
            if reads_wanted():
                read_s.append(tracing.noop_write_s(wl.read(target)))
            if pending:
                key = pending.pop(0)
                t = time.perf_counter()
                rows = wl.lookup(target, key).collect()
                lookup_s.append(time.perf_counter() - t)
                looked_up[key] = wl.lookup_value(rows)
        rss = peak_rss_mb(spark)
        log("reads and lookups done")
        checked = wl.check(target, out_dir)
        bad_lookups = sum(looked_up[k] != checked["lookups"][k] for k in wl.keys)
        probes, bad_probes = len(wl.scrape_latencies), wl.scrape_failures
        attempted = loaded["planned"] + len(wl.keys) + probes + 1
        failed = ((loaded["planned"] - loaded["committed"]) + bad_lookups + bad_probes
                  + (not checked["ok"]))
        log(f"{loaded['committed']}/{loaded['planned']} batches, "
            f"{loaded['events']} {wl.events_unit} in {loaded['wall_s']:.2f}s; "
            f"oracle {'ok' if checked['ok'] else 'FAILED'}: "
            + json.dumps({k: v for k, v in checked.items() if k != "lookups"}, default=str))

        if args.trace:
            cuts = (tracing.layer_cuts(spark.read.parquet(wl.log_dir), loaded["manifests"],
                                       wl.quarantine)
                    if loaded["manifests"] else tracing.NO_CUTS)
            tracer.count_jobs()
            tracer.dump(os.path.join(WORK, "trace", f"{run_id}.spans.jsonl"))
            values = layer_metrics(tracer, wl, loaded, cuts, target, checked, eps)
            units = PER_LAYER
        else:
            values = {
                "setup_s": setup_s,
                "events_per_s": eps,
                "batch_s_p50": statistics.median(loaded["batch_s"]),
                "read_s": statistics.median(read_s),
                "lookup_s_p50": statistics.median(lookup_s),
                "bytes_per_row": workloads.dir_bytes(target.path) / checked["rows"],
                "peak_rss_mb": rss,
            }
            units = END_TO_END
        log("batch s: " + ", ".join(f"{b:.2f}" for b in loaded["batch_s"])
            + "; lookup s: " + ", ".join(f"{x:.2f}" for x in lookup_s)
            + "; read s: " + ", ".join(f"{x:.2f}" for x in read_s)
            + f"; {probes} monitor probes")
    finally:
        stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    log("JVM stopped")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sonic_etl_spark", "__init__.py")):
        log(f"no engine package (sonic_etl_spark) next to {HERE}; "
            "run from the root of a full checkout")
        return 2
    prepare_environment()
    return run(args, ensure_class_archive())


if __name__ == "__main__":
    sys.exit(main())

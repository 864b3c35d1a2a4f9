"""Smoke tests for the benchmark itself; they start Spark, so they take a
few minutes. Run from the root of a checkout:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import oracle  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

TINY = ["--seed", "1", "--seconds", "1", "--scale", "0.02"]


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


def names_and_units(metrics: list[dict]) -> dict:
    return {m["name"]: m["unit"] for m in metrics}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_prints_every_end_to_end_metric(workload):
    out = result(bench("--workload", workload, *TINY, "--trace", "0"))
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == names_and_units(SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric_and_writes_spans():
    trace_dir = os.path.join(ROOT, ".perfbench_work", "trace")
    before = set(os.listdir(trace_dir)) if os.path.isdir(trace_dir) else set()
    out = result(bench("--workload", "replay_bulk", *TINY, "--trace", "1"))
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == names_and_units(SPEC["per_layer"])
    assert out["metrics"]["streaming.jobs_per_batch"]["value"] > 0
    (new,) = set(os.listdir(trace_dir)) - before
    with open(os.path.join(trace_dir, new)) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert any(s["name"] == "sources.merge" and s["parent"] is not None for s in spans)


def test_registered_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)


def _write(con, sql: str, path: str) -> None:
    os.makedirs(path)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


def test_replay_oracle_rejects_a_dropped_row(tmp_path):
    """The oracle accepts its own answer and refuses it with one converged
    row missing, so the correctness gate is not vacuous."""
    wl = workloads.ReplayBulk(os.path.join(ROOT, ".perfbench_work"), 1, 1, 0.02)
    if not os.path.isdir(wl.log_dir):
        result(bench("--workload", "replay_bulk", *TINY, "--trace", "0"))
    cols = ", ".join(oracle.REPLAY_COLS)
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    with duckdb.connect() as con:
        _write(con, f"SELECT {cols} FROM ({oracle.replay_sql(wl.log_dir)})", good)
        _write(con, f"SELECT * FROM read_parquet('{good}/*.parquet') "
                    "ORDER BY repo, path OFFSET 1", bad)
    keys = oracle.hot_and_sampled_keys(wl.log_dir, 1, 3)
    assert oracle.check_replay(wl.log_dir, good, keys)["ok"]
    res = oracle.check_replay(wl.log_dir, bad, keys)
    assert not res["ok"] and res["missing"] == 1 and res["extra"] == 0


def test_curation_oracle_rejects_a_changed_verdict(tmp_path):
    wl = workloads.CuratorSoak(os.path.join(ROOT, ".perfbench_work"), 1, 1, 0.02)
    wl.make_inputs(spark=None)  # documents need no Spark
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT doc_id, text "
                    f"FROM read_parquet('{wl.docs_dir}/*.parquet')")
        _write(con, oracle.curation_sql(), good)
        _write(con, f"SELECT doc_id, off, CASE WHEN doc_id = 0 THEN 'exact_dup' "
                    f"ELSE reason END AS reason FROM read_parquet('{good}/*.parquet')", bad)
    assert oracle.check_curation(wl.docs_dir, good, wl.keys)["ok"]
    res = oracle.check_curation(wl.docs_dir, bad, wl.keys)
    assert not res["ok"] and res["missing"] == 1 and res["extra"] == 1


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", SPEC["workloads"][0]["name"], *TINY, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

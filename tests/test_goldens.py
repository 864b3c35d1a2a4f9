"""Checked-in golden fixtures — the reference's golden test harness analog
(run_all_test_cases / validate_extraction / validate_transformation,
src/sonic_config/test.rs:122-221; fixture trees under extractor_transformer/
tests/README.md: "detect if modifying code for transformations would have led
to any changes").

raw_events.jsonl pins synthesis; converged_state.jsonl pins decode +
transform + LWW convergence INCLUDING per-row content sha256 (BASELINE.json
input_hint invariant). Any semantic drift in the engine fails here first.
"""

import json
import os

import pyspark.sql.functions as F

from sonic_etl_spark.functions.codec import decode_change_events
from sonic_etl_spark.log import synthesize_change_events
from sonic_etl_spark.operators.merge import converged_rows
from sonic_etl_spark.sources import TransactionalParquetTable
from sonic_etl_spark.streaming import replay

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens")
N = 300


def _load(name):
    with open(os.path.join(GOLDEN_DIR, name)) as f:
        return sorted(
            (json.dumps(json.loads(line), sort_keys=True) for line in f),
        )


def _dump(df):
    return sorted(
        json.dumps(json.loads(r), sort_keys=True) for r in df.toJSON().collect()
    )


def test_raw_synthesis_matches_golden(spark):
    log = synthesize_change_events(spark, N).withColumn("ts", F.unix_timestamp("ts"))
    assert _dump(log) == _load("raw_events.jsonl")


def test_synthesis_parallelism_invariance(spark):
    one = synthesize_change_events(spark, N, num_slices=1).withColumn(
        "ts", F.unix_timestamp("ts")
    )
    assert _dump(one) == _load("raw_events.jsonl")


def test_converged_state_matches_golden_sha256(spark, tmp_path):
    """Full engine replay → per-row equality (incl. content_sha256) vs the
    checked-in golden — the validate_transformation analog."""
    log = synthesize_change_events(spark, N)
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay(log, tab, chunk_size=25)
    got = _dump(tab.read().withColumn("ts", F.unix_timestamp("ts")))
    assert got == _load("converged_state.jsonl")

    # explicit per-row sha256 spot-check against an independent hash
    import hashlib

    for line in _load("converged_state.jsonl")[:20]:
        row = json.loads(line)
        assert (
            hashlib.sha256(row["content"].encode()).hexdigest()
            == row["content_sha256"]
        )


def test_oneshot_lww_equals_golden(spark):
    """The no-table direct reduction agrees with the replayed golden too."""
    direct = (
        converged_rows(decode_change_events(synthesize_change_events(spark, N)))
        .filter("op != 'delete'")
        .withColumn("ts", F.unix_timestamp("ts"))
    )
    assert _dump(direct) == _load("converged_state.jsonl")

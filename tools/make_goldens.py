"""Golden fixture generator — the CreateTestSet analog (src/main.rs:453-476;
TestSet::create_new, src/sonic_config/test.rs:24-66).

Writes two checked-in JSONL goldens under tests/goldens/:

- raw_events.jsonl    — the first N synthesized change events (seed 42),
                        validating synthesis determinism across machines and
                        parallelism (validate_extraction analog).
- converged_state.jsonl — the converged source_code state after full replay,
                        one row per surviving key with its content sha256
                        (validate_transformation analog; the per-row sha256
                        equality demanded by BASELINE.json input_hint).

Regenerate ONLY when the synthesis or decode semantics intentionally change:
    python tools/make_goldens.py
then review the diff like any golden update.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

import pyspark.sql.functions as F  # noqa: E402

N_EVENTS = 300
OUT_DIR = "tests/goldens"


def df_to_jsonl(df, path: str) -> None:
    rows = [json.loads(r) for r in df.toJSON().collect()]
    rows.sort(key=lambda r: json.dumps(r, sort_keys=True))
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def main() -> None:
    from sonic_etl_spark.functions.codec import decode_change_events
    from sonic_etl_spark.log import synthesize_change_events
    from sonic_etl_spark.operators.merge import converged_rows
    from sonic_etl_spark.session import get_spark

    spark = get_spark("make-goldens", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT_DIR, exist_ok=True)

    log = synthesize_change_events(spark, N_EVENTS).cache()
    df_to_jsonl(
        log.withColumn("ts", F.unix_timestamp("ts")),
        f"{OUT_DIR}/raw_events.jsonl",
    )

    converged = (
        converged_rows(decode_change_events(log))
        .filter("op != 'delete'")
        .withColumn("ts", F.unix_timestamp("ts"))
    )
    df_to_jsonl(converged, f"{OUT_DIR}/converged_state.jsonl")
    print(f"wrote {OUT_DIR}/raw_events.jsonl ({N_EVENTS} rows) and converged_state.jsonl")


if __name__ == "__main__":
    main()

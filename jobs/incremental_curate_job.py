"""spark-submit entry point: tail a documents table's CDC-out stream and
maintain the incremental-curation verdict stream (operators/incremental.py).

The scheduled twin of jobs/curate_job.py: where curate_job recomputes the
whole corpus (the reference's daily batch shape,
daily_qc_airflow/daily_dedupe_mainnet.py:26-81), this job runs per
arrival — each invocation curates only the rows appended to the source
table since the last run, against persisted hash/bucket minima state, and
appends final per-doc verdicts (kept / quality / exact_dup / near_dup).
Cost per run is O(new docs): the state joins are bucket-pruned point-reads
(TransactionalTableSet.read_for_keys), never corpus scans.

    cd /root/repo && python tools/package.py /tmp/sonic_etl_spark.zip
    spark-submit --py-files /tmp/sonic_etl_spark.zip \
        jobs/incremental_curate_job.py \
        --source /data/documents_table --state /data/curation_state \
        --id-col doc_id --text-col text --offset-col last_offset

Re-running after a crash is safe: each apply is one manifest-idempotent
commit of the curator's state set that also records the source frontier,
so a failed run commits neither and is simply redelivered. Prints one
JSON line with the run's counts and the verdict totals.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True,
                    help="documents TransactionalParquetTable directory")
    ap.add_argument("--state", required=True,
                    help="curation state directory (created on first run)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--offset-col", default="last_offset")
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--min-words", type=int, default=5)
    ap.add_argument("--max-punct-ratio", type=float, default=0.3)
    args = ap.parse_args(argv)

    import pyspark.sql.functions as F

    from sonic_etl_spark.operators.incremental import IncrementalCurator
    from sonic_etl_spark.session import get_spark
    from sonic_etl_spark.sources.table import TransactionalParquetTable

    spark = get_spark("incremental-curate")
    src = TransactionalParquetTable(spark, args.source)
    cur = IncrementalCurator(
        spark,
        args.state,
        n_buckets=args.n_buckets,
        min_words=args.min_words,
        max_punct_ratio=args.max_punct_ratio,
    ).create()
    res = cur.sync(
        src,
        id_col=args.id_col,
        text_col=args.text_col,
        offset_col=args.offset_col,
    )
    totals = {
        r["reason"]: r["n"]
        for r in cur.verdicts.read()
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    report = {"sync": res, "verdict_totals": dict(sorted(totals.items()))}
    print(json.dumps(report, sort_keys=True))
    return report


if __name__ == "__main__":
    main()

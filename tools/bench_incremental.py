"""Measure the incremental-curation scale claim: applying a fixed-size
arrival batch must cost roughly the same whether the persisted corpus holds
10k or 80k documents (O(batch)), while the full recompute it replaces grows
with the corpus (O(corpus)).

Method: seed the curator state with corpora of increasing size (same doc
generator, disjoint offset ranges), then time (a) `apply()` of ONE fixed
2k-doc batch against each state size and (b) `curate_full` over the whole
corpus + batch at each size. Documents are ~60 words so the MinHash stage
does real work. Prints one JSON line:

    {"incremental_apply_sec": {corpus_size: sec, ...},
     "full_recompute_sec": {corpus_size: sec, ...},
     "flatness": max/min of the incremental column}

Runs at the host's core count (local[$SPARK_GRAFT_CPUS], else local[*]).
Host noise is ±50% (BENCH.md); the signal is the SHAPE — incremental flat,
full recompute growing — not the absolute seconds. Artifact:
SPARK_GRAFT_BENCH_OUT=bench_runs/r5_incremental.json python tools/bench_incremental.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = [int(s) for s in os.environ.get(
    "SPARK_GRAFT_INCR_SIZES", "10000,40000,80000").split(",")]
BATCH = int(os.environ.get("SPARK_GRAFT_INCR_BATCH", "2000"))
WORDS = 60


def _doc_frame(spark, lo: int, n: int):
    """n synthetic ~60-word docs with ids/offsets in [lo, lo+n); ~3% exact
    dups and ~3% near dups of earlier docs, deterministic."""
    import pyspark.sql.functions as F

    base = spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"), F.col("id").alias("off")
    )
    words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"w{j}tok"),
                ((F.col("doc_id") * (j + 7)) % 1000).cast("string"),
            )
            for j in range(WORDS)
        ],
    )
    # ~3% exact dups (copy doc_id-17's text), ~3% near dups (one token off)
    dup_src = (F.col("doc_id") - 17)
    dup_words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"w{j}tok"), ((dup_src * (j + 7)) % 1000).cast("string")
            )
            for j in range(WORDS)
        ],
    )
    near_words = F.concat_ws(" ", dup_words, F.lit("extratail"))
    text = (
        F.when((F.col("doc_id") % 31 == 0) & (F.col("doc_id") >= lo + 17), dup_words)
        .when((F.col("doc_id") % 37 == 0) & (F.col("doc_id") >= lo + 17), near_words)
        .otherwise(words)
    )
    return base.select("doc_id", text.alias("text"), "off")


def main() -> None:
    from sonic_etl_spark.operators.incremental import IncrementalCurator, curate_full
    from sonic_etl_spark.session import get_spark

    spark = get_spark("bench-incremental")
    spark.sparkContext.setLogLevel("ERROR")

    inc_sec: dict[str, float] = {}
    full_sec: dict[str, float] = {}
    for size in SIZES:
        root = tempfile.mkdtemp(prefix=f"incr_bench_{size}_")
        cur = IncrementalCurator(spark, root, n_buckets=64).create()
        # seed the corpus state (not timed): a few big arrival batches
        seed_chunk = max(size // 4, 1)
        for lo in range(0, size, seed_chunk):
            cur.apply(_doc_frame(spark, lo, min(seed_chunk, size - lo)))
        # timed: ONE fixed-size batch against the grown state
        batch = _doc_frame(spark, size, BATCH)
        batch.count()  # materialize the lazy generator outside the timer
        t0 = time.time()
        cur.apply(batch)
        inc_sec[str(size)] = round(time.time() - t0, 2)
        # contrast: the full recompute this replaces (corpus + batch)
        t0 = time.time()
        curate_full(_doc_frame(spark, 0, size + BATCH)).write.format(
            "noop"
        ).mode("overwrite").save()
        full_sec[str(size)] = round(time.time() - t0, 2)
        shutil.rmtree(root, ignore_errors=True)

    vals = list(inc_sec.values())
    line = json.dumps(
        {
            "metric": "incremental_curation_fixed_batch_apply_sec",
            "batch_docs": BATCH,
            "corpus_sizes": SIZES,
            "incremental_apply_sec": inc_sec,
            "full_recompute_sec": full_sec,
            "incremental_flatness_max_over_min": round(max(vals) / min(vals), 2),
        }
    )
    print(line)
    out = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out:
        with open(out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()

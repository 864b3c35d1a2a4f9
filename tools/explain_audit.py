"""Plan-quality audit: prove pushdown / pruning / broadcast / codegen claims.

Prints (and greps) `.explain("formatted")` for the engine's hot plans and
asserts the physical-plan properties the scale story depends on:

1. replay batch scan — offset-range predicates reach the parquet reader
   (PushedFilters), and only referenced columns are read (ReadSchema).
2. dim-enrichment join — small dims broadcast (BroadcastHashJoin), no
   sort-merge shuffle for them.
3. decode+reduce — whole-stage codegen spans cover the non-UDF pipeline;
   exactly one ArrowEvalPython stage (the uint256 UDF), partial aggregation
   present (map-side combine before the shuffle), and content_raw parsed
   by exactly one from_json (so too in the fan-out's two plans).
4. replay batch write — the executed write of one replay batch has two
   exchanges: the salted pre-reduction's hashpartitioning(repo, path, _salt)
   and the bucket write's partition-id passthrough on _pb, inside which the
   final LWW runs; no _pb sort is added after it.

Writes EXPLAIN.md with the evidence. Usage: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

import pyspark.sql.functions as F  # noqa: E402

from sonic_etl_spark.functions.codec import decode_change_events  # noqa: E402
from sonic_etl_spark.log import synthesize_change_events  # noqa: E402
from sonic_etl_spark.operators.merge import reduce_batch  # noqa: E402
from sonic_etl_spark.plans.planner import filter_to_manifests  # noqa: E402
from sonic_etl_spark.session import get_spark  # noqa: E402


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def mask_ids(plan: str) -> str:
    """Plan text without Spark's per-session expression, plan and
    observation ids, so a regenerated EXPLAIN.md differs only where a plan
    did."""
    plan = re.sub(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>", plan)
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))


def check(
    name: str,
    plan: str,
    must: list[str],
    must_not: list[str] = (),
    counts: dict[str, int] | None = None,
) -> list[str]:
    """PASS/FAIL lines for the patterns (``counts`` maps a pattern to the
    exact number of matches it needs), matched against the raw plan, then
    the whole plan with its ids masked."""
    lines = [f"## {name}\n"]
    ok = True
    for pat in must:
        hit = re.search(pat, plan) is not None
        ok &= hit
        lines.append(f"- {'PASS' if hit else 'FAIL'} requires `{pat}`")
    for pat in must_not:
        hit = re.search(pat, plan) is not None
        ok &= not hit
        lines.append(f"- {'PASS' if not hit else 'FAIL'} forbids `{pat}`")
    for pat, want in (counts or {}).items():
        n = len(re.findall(pat, plan))
        ok &= n == want
        lines.append(f"- {'PASS' if n == want else 'FAIL'} `{pat}` occurs {n}× (expected {want})")
    lines.append("\n```\n" + mask_ids(plan) + "\n```\n")
    print(f"{'OK ' if ok else 'BAD'} {name}")
    return lines


def main() -> None:
    spark = get_spark("explain-audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # materialize a small log so scans are parquet (pushdown visible)
    log_path = "/tmp/explain_log"
    synthesize_change_events(spark, 5000).write.mode("overwrite").parquet(log_path)
    log = spark.read.parquet(log_path)

    out = ["# EXPLAIN audit — physical-plan evidence\n",
           "Generated by tools/explain_audit.py; re-run after plan-shaping changes.\n"]

    # 1. replay batch scan: offset pushdown + column pruning
    batch = filter_to_manifests(log, [(0, 100, 200), (1, 100, 200)])
    probe = batch.select("repo", "path")
    p = fmt(probe)
    out += check(
        "replay scan: pushdown + pruning",
        p,
        must=[r"PushedFilters: \[.*(offset|partition_id)", r"ReadSchema[^\n]*repo"],
        must_not=[r"ReadSchema[^\n]*content_raw"],
    )

    # content_raw parsed once: one from_json in the executed plan (taking
    # several fields of one from_json in one projection plans one parse per
    # field; a decode_error filter inlined below the Arrow stage copies them)
    parsed_once = {r"from_json\(": 1}

    # 2. decode+reduce: codegen + single Arrow python stage + partial agg.
    # Plan-shape facts (verified empirically, 2026-08-17): max_by over a
    # struct payload cannot use HashAggregate (var-length buffer), so the LWW
    # reduction is a partial SortAggregate → Exchange → final SortAggregate —
    # map-side combine preserved. A packed-string max() alternative produced
    # the same SortAggregate plan and identical wall time (9.9s vs 9.9s on
    # 2M rows @16 cores), so max_by stays. The decode projections ARE
    # whole-stage-codegen'd (simple-mode "*(" markers).
    red = reduce_batch(decode_change_events(batch))
    p = fmt(red)
    buf = io.StringIO()
    with redirect_stdout(buf):
        red.explain()  # simple mode: codegen'd nodes carry a "*(N)" prefix
    simple = buf.getvalue()
    arrow_stages = len(re.findall(r"^\s*\(\d+\) ArrowEvalPython", p, re.M))
    out += check(
        "decode+reduce: one Arrow UDF stage, partial agg (SortAggregate — see note)",
        p,
        must=[
            r"(Sort|Object|Hash)Aggregate",
            r"ArrowEvalPython",
            r"partial_max_by",  # map-side combine before the shuffle
        ],
        must_not=[r"BatchEvalPythonExec"],  # no row-at-a-time Python, ever
        counts=parsed_once,
    )
    codegen_ok = "*(" in simple
    out.append(f"- {'PASS' if codegen_ok else 'WARN'} whole-stage codegen markers in simple mode\n")
    out.append(f"- ArrowEvalPython plan nodes: {arrow_stages} (expected 1)\n")
    print(("OK " if arrow_stages == 1 else "BAD") + " single Arrow stage")

    # 2b. replay batch write: the plan Spark executed for one replay batch's
    # bucket write, read back from the SQL status store (a DataFrame's own
    # explain never shows the writer). "Current Plan" lists each exchange
    # once, under its ShuffleQueryStage.
    import tempfile

    from sonic_etl_spark.sources import TransactionalParquetTable
    from sonic_etl_spark.streaming import replay

    store = spark._jsparkSession.sharedState().statusStore()
    convert = spark._jvm.scala.jdk.javaapi.CollectionConverters
    seen = {e.executionId() for e in convert.asJava(store.executionsList())}
    with tempfile.TemporaryDirectory() as tmp:
        replay(log, TransactionalParquetTable(spark, tmp, n_buckets=4),
               chunk_size=1000, max_batches=1)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # plan updates land
    p = next(
        e.physicalPlanDescription()
        for e in convert.asJava(store.executionsList())
        if e.executionId() not in seen
        and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
    ).replace(tmp, "<table>")
    out += check(
        "replay batch write: two exchanges, final LWW in the bucket shuffle",
        p,
        must=[
            r"hashpartitioning\(repo#\d+, path#\d+, _salt#\d+",
            r"shufflepartitionidpassthrough\(direct_shuffle_partition_id\(_pb#\d+\), 4\)",
            r"Keys \[3\]: \[_pb#\d+, repo#\d+, path#\d+\]",  # final LWW per bucket
        ],
        must_not=[r"Arguments: \[_pb#\d+ ASC NULLS FIRST\], "],  # no writer sort
        counts={r"ShuffleQueryStage \(\d+\)[^\n]*\n\s*\+- Exchange": 2},
    )

    # 3. dim enrichment joins broadcast
    from sonic_etl_spark.driver_queries import q_seg_nation_revenue

    p = fmt(q_seg_nation_revenue(spark, "/root/testdata/sf0.01"))
    out += check(
        "enrichment joins: broadcast small dims",
        p,
        must=[r"BroadcastHashJoin"],
        must_not=[r"SortMergeJoin"],
    )

    # 4. fan-out projections: each table's update plan still reads ONE
    # pushed-down scan, keeps the single Arrow decode stage, and the
    # quarantine projection never touches the decoded content payload
    # (column pruning across the fan-out).
    from sonic_etl_spark.streaming.fanout import (
        project_file_versions,
        project_quarantine,
    )

    typed = decode_change_events(batch)
    p_fv = fmt(project_file_versions(typed.filter(F.col("decode_error").isNull())))
    out += check(
        "fanout file_versions: one Arrow stage, partial agg",
        p_fv,
        must=[r"ArrowEvalPython", r"partial_max_by"],
        must_not=[r"BatchEvalPythonExec"],
        counts=parsed_once,
    )
    p_q = fmt(project_quarantine(typed))
    nodes_q = len(re.findall(r"^\s*\(\d+\) ArrowEvalPython", p_q, re.M))
    out += check(
        "fanout quarantine: narrow projection, no extra shuffle",
        p_q,
        must=[r"PushedFilters"],
        must_not=[r"Exchange"],
        counts=parsed_once,
    )
    out.append(f"- quarantine ArrowEvalPython nodes: {nodes_q} (expected 1: the decode stage)\n")
    print(("OK " if nodes_q == 1 else "BAD") + " quarantine single Arrow stage")

    # 5. KMV distinct sketch: pure column plan — no Python eval anywhere,
    # dedupe aggregate partial (map-side combine), windows bounded by the
    # (group, salt) partitioning (never a global sort).
    from sonic_etl_spark.operators.sketch import kmv_distinct

    docs = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    p = fmt(kmv_distinct(docs, ["event_id"], k=64, group_cols=["event_type"]))
    out += check(
        "kmv sketch: no Python, partial dedupe agg, salted windows",
        p,
        must=[r"partial", r"Window"],
        must_not=[r"ArrowEvalPython", r"BatchEvalPythonExec"],
    )

    # 6. dedup canonical keep: the cluster map joins BROADCAST into the
    # corpus (it is small — only docs appearing in a pair), never a
    # corpus-wide shuffle join.
    from sonic_etl_spark.operators.dedup import dedup_keep_canonical

    corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5)], "vec_a bigint, vec_b bigint"
    )
    p = fmt(dedup_keep_canonical(corpus, pairs, id_col="doc_id"))
    out += check(
        "dedup canonical keep: broadcast cluster map",
        p,
        must=[r"BroadcastHashJoin"],
        must_not=[r"BatchEvalPythonExec"],
    )

    # 7. dataset split: a pure column function — the plan must be ONE
    # projected scan: no Exchange (zero shuffles), no aggregate, no Python.
    # This is what makes the assignment partitioning-invariant and free to
    # compose anywhere at 100 TB.
    from sonic_etl_spark.operators.curation import split_dataset

    p = fmt(split_dataset(corpus).select("doc_id", "split"))
    out += check(
        "dataset split: narrow map, zero shuffles",
        p,
        must=[r"ReadSchema"],
        must_not=[r"Exchange", r"Aggregate", r"ArrowEvalPython",
                  r"BatchEvalPythonExec"],
    )

    # 8. sequence packing: exactly ONE shuffle (the hash-group exchange)
    # feeding ONE Arrow-batched FlatMapGroupsInPandas — no row-at-a-time
    # Python, no second exchange.
    from sonic_etl_spark.operators.curation import pack_sequences

    p = fmt(pack_sequences(corpus, budget=256, n_groups=16))
    n_exchanges = len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M))
    out += check(
        "sequence packing: one group shuffle, one Arrow group-map stage",
        p,
        must=[r"FlatMapGroupsInPandas"],
        must_not=[r"BatchEvalPythonExec"],
    )
    out.append(f"- packing Exchange nodes: {n_exchanges} (expected 1)\n")
    print(("OK " if n_exchanges == 1 else "BAD") + " packing single exchange")

    # 9. stratified sample: like the split, a pure column FILTER — one
    # projected scan, zero shuffles, zero Python; the per-stratum hash
    # thresholds fold into the scan's data filters.
    from sonic_etl_spark.operators.curation import sample_stratified

    p = fmt(
        sample_stratified(
            corpus, {"en": 0.25, "zh": 0.5}, stratum_col="lang", default_rate=1.0
        ).select("doc_id", "lang")
    )
    out += check(
        "stratified sample: narrow filter, zero shuffles",
        p,
        must=[r"ReadSchema", r"Filter"],
        must_not=[r"Exchange", r"Aggregate", r"ArrowEvalPython",
                  r"BatchEvalPythonExec"],
    )

    # 10. pack stats: the report over the packing output adds two more
    # exchanges (FlatMapGroupsInPandas reports UnknownPartitioning, so the
    # per-pack and per-group aggs each re-shuffle) — but BOTH are preceded
    # by partial map-side HashAggregates, and since the packer's output
    # partitions hold whole groups, the partial agg collapses each
    # partition to one row per pack BEFORE the wire: the shuffles carry
    # O(n_packs) and O(n_groups) rows, never the doc-level assignment.
    from sonic_etl_spark.operators.curation import pack_stats

    p = fmt(pack_stats(pack_sequences(corpus, budget=256, n_groups=16), 256))
    n_ex_stats = len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M))
    out += check(
        "pack stats: partial aggs over the single packing pass",
        p,
        must=[r"HashAggregate", r"partial", r"FlatMapGroupsInPandas"],
        must_not=[r"BatchEvalPythonExec"],
    )
    out.append(
        f"- pack_stats Exchange nodes: {n_ex_stats} (expected 3: packing "
        "group shuffle + per-pack and per-group re-aggs, each partial-"
        "combined map-side to O(n_packs)/O(n_groups) rows)\n"
    )
    print(("OK " if n_ex_stats == 3 else "BAD") + " pack_stats exchanges")

    # 11. as-of join: the union-marker plan — exactly ONE hash exchange (the
    # window's, on the join key) over |left|+|right| rows; the running
    # last(ignorenulls) frame is a streaming aggregate. The naive encodings
    # this replaces (range join / per-key cross join) are forbidden outright.
    from sonic_etl_spark.operators.temporal import asof_join, session_stats

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purch = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    p = fmt(
        asof_join(clicks, purch, on="user_id", left_ts="ts",
                  right_cols=["value"], suffix="_p")
    )
    n_ex_asof = len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M))
    out += check(
        "asof join: union-marker window, no range/cross join, no Python",
        p,
        must=[r"Window", r"Union"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoop",
                  r"ArrowEvalPython", r"BatchEvalPythonExec"],
    )
    out.append(f"- asof Exchange nodes: {n_ex_asof} (expected 1 — the window's key shuffle)\n")
    print(("OK " if n_ex_asof == 1 else "BAD") + " asof single exchange")

    # 11b. forward direction (r5): the mirror scan keeps the same shape —
    # one key exchange — and the ordering must be DESC NULLS FIRST so
    # NULL-ts left rows sort before every right row (plain desc() is
    # nulls-last and fabricated forward matches for them — r4 ADVICE bug)
    p = fmt(
        asof_join(clicks, purch, on="user_id", left_ts="ts",
                  right_cols=["value"], suffix="_p", direction="forward")
    )
    n_ex_fwd = len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M))
    out += check(
        "asof join forward: same union-marker shape, DESC NULLS FIRST order",
        p,
        must=[r"Window", r"Union", r"DESC NULLS FIRST"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoop",
                  r"ArrowEvalPython", r"BatchEvalPythonExec"],
    )
    out.append(f"- asof forward Exchange nodes: {n_ex_fwd} (expected 1)\n")
    print(("OK " if n_ex_fwd == 1 else "BAD") + " asof forward single exchange")

    # 12. sessionization rollup: lag + running sum share one window spec
    # (one shuffle+sort; the dependent running sum adds a Window node but no
    # exchange), and the per-session groupBy keys are a SUPERSET of the
    # window partition key, so hashpartitioning(user_id) already satisfies
    # the aggregate's clustering — still exactly ONE exchange end-to-end.
    p = fmt(session_stats(events, ["user_id"], "ts", 21600, order_cols=["event_id"]))
    n_ex_sess = len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M))
    out += check(
        "sessionize+stats: one shuffle end-to-end",
        p,
        must=[r"Window", r"(Hash|Sort)Aggregate"],
        must_not=[r"ArrowEvalPython", r"BatchEvalPythonExec"],
    )
    out.append(f"- session Exchange nodes: {n_ex_sess} (expected 1 — window and agg share it)\n")
    print(("OK " if n_ex_sess == 1 else "BAD") + " session single exchange")

    # 13. key-skew report: top-N must plan as TakeOrderedAndProject
    # (per-partition heaps, no global sort), totals ride a broadcast of a
    # 1-row aggregate, and the groupBy keeps a partial map-side combine.
    from sonic_etl_spark.operators.profile import key_distribution

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    p = fmt(key_distribution(li, ["l_suppkey"], top_n=25))
    out += check(
        "key skew report: TakeOrdered top-N, broadcast totals, partial agg",
        p,
        must=[r"TakeOrderedAndProject", r"Broadcast", r"partial"],
        must_not=[r"ArrowEvalPython", r"BatchEvalPythonExec"],
    )

    # 14. decontamination: redact_pii must stay a NARROW map (no exchange,
    # no Python — staged regexes fold into one whole-stage projection);
    # ngram_containment's probe set must BROADCAST (the corpus is never
    # shuffled by n-gram; its only exchange is the per-doc count groupBy).
    from sonic_etl_spark.operators.text import ngram_containment, redact_pii

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    p = fmt(redact_pii(docs).select("doc_id", "n_emails", "text_redacted"))
    out += check(
        "redact_pii: narrow map, zero shuffles, no Python",
        p,
        must=[r"ReadSchema"],
        must_not=[r"Exchange", r"ArrowEvalPython", r"BatchEvalPythonExec"],
    )
    p = fmt(ngram_containment(docs, docs.filter(F.col("doc_id") < 10), n=5))
    n_ex_cont = len(re.findall(r"^\s*\(\d+\) Exchange", p, re.M))
    out += check(
        "ngram containment: broadcast probe, corpus never shuffled by gram",
        p,
        must=[r"BroadcastHashJoin", r"partial"],
        must_not=[r"SortMergeJoin", r"ArrowEvalPython", r"BatchEvalPythonExec"],
    )
    out.append(
        f"- containment Exchange nodes: {n_ex_cont} (expected 2: the probe "
        "side's distinct — eval-suite-sized — and the per-doc count groupBy; "
        "the gram JOIN itself is broadcast, so the corpus-scale exploded "
        "side crosses no wire)\n"
    )
    print(("OK " if n_ex_cont == 2 else "BAD") + " containment exchanges")

    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main()

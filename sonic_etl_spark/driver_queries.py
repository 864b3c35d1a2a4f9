"""Driver-contract queries: Spark implementation + DuckDB oracle per operator.

Each entry exercises one operator family from SURVEY.md §2 (or a
training-data-pipeline extension) over the driver's synthetic tables
(/root/testdata/sf*). The Spark side is the engine's real operator code
(sonic_etl_spark.operators.*); the oracle is independent ANSI SQL that DuckDB
runs on the same parquet — the correctness gate.

Cross-engine determinism rules applied throughout (so value-hashes match):

- counts/sizes cast to BIGINT on both sides (Spark ``size``/``length`` are
  INT, DuckDB's are BIGINT);
- money sums emitted as BIGINT **cents** on both sides (per-row
  ``round(value*100)`` cast to BIGINT, integer-summed). NOT double (sum is
  order-dependent — r01 flake) and NOT DECIMAL (DuckDB's pandas layer renders
  DECIMAL as float64, ``30958720.3`` vs Spark ``Decimal('30958720.30')`` —
  the r03 regression). Other doubles rounded (4dp ratios, 6dp
  cosines/jaccard) — both engines round half-away-from-zero for the values
  produced here;
- timestamps compared as floor-epoch BIGINT (DuckDB ``epoch()`` keeps
  fractional seconds and its CAST rounds, Spark's ``unix_timestamp`` floors);
- portable hashing only (md5/sha2), fixed-width hex min == numeric min;
- rank/top-k ordering always carries a unique tie-break column.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from sonic_etl_spark.functions import catalog as catalog_ops
from sonic_etl_spark.operators import audit as audit_ops
from sonic_etl_spark.operators import dedup as dedup_ops
from sonic_etl_spark.operators import merge as merge_ops
from sonic_etl_spark.operators import curation as curation_ops
from sonic_etl_spark.operators import multimodal as mm_ops
from sonic_etl_spark.operators import profile as profile_ops
from sonic_etl_spark.operators import similarity as sim_ops
from sonic_etl_spark.operators import temporal as temporal_ops
from sonic_etl_spark.operators import sketch as sketch_ops
from sonic_etl_spark.operators import text as text_ops

QueryFn = Callable[[SparkSession, str], DataFrame]

STOP_SQL = "['the','a','of','and','to','in']"
WORDS_SQL = "string_split_regex(trim(text), ' +')"
NWORDS_SQL = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    f"ELSE len({WORDS_SQL}) END"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _money_cents_sum(col: str) -> F.Column:
    """Order-independent money sum as BIGINT **cents**. A DOUBLE sum is not
    associative (the r01 ``user_activity`` hash flake), and the r03 attempt
    to publish DECIMAL(18,2) was refuted by the driver's hash layer: DuckDB's
    pandas conversion renders DECIMAL as float64 (``30958720.3``) while
    Spark keeps ``Decimal('30958720.30')`` — trailing-zero cents can never
    hash-match. Integer cents fix all three properties at once: the per-row
    ``round(value*100)`` is exact (inputs are 2-dp doubles, so ``value*100``
    is within 1 ulp of an integer on both engines), the integer sum is
    order-independent, and BIGINT columns have been hash-green in all three
    rounds."""
    return F.sum(F.round(F.col(col) * 100).cast("long"))


def _sql_money_cents_sum(col: str) -> str:
    """DuckDB mirror of :func:`_money_cents_sum` (same per-row cents cast;
    the outer BIGINT cast collapses DuckDB's HUGEINT sum back to int64 —
    without it pandas delivers float64/decimal128 and the hash diverges)."""
    return f"CAST(sum(CAST(round({col} * 100) AS BIGINT)) AS BIGINT)"


# --------------------------------------------------------------------- core
def q_lww_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/O2/ST4: last-writer-wins convergence of the events change feed.

    Drives the engine's OWN reduction, ``operators.merge.salted_lww`` (the
    two-phase salted max_by; a replay batch runs the same two phases as
    reduce_batch and the bucket write), keyed here on the driver's events
    table: one winner per user_id under (ts, event_id).
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    won = merge_ops.salted_lww(
        ev, ["user_id"], ["ts", "event_id"], salt_col="event_id"
    )
    return won.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.col("value"), 2).alias("last_value"),
        F.unix_timestamp(F.col("ts")).alias("last_ts_epoch"),
    )


SQL_LWW = """
SELECT user_id,
       event_id   AS last_event_id,
       event_type AS last_event_type,
       round(value, 2) AS last_value,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_ts_epoch
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
  FROM events
) WHERE rn = 1
"""


def q_gap_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/O4/O5: dense-domain anti-join gap detection (backfill audit)."""
    present = _t(spark, sf_dir, "events").where(F.col("event_type") != "error")
    return audit_ops.missing_ids(spark, present, "event_id")


SQL_GAP = """
WITH present AS (SELECT event_id FROM events WHERE event_type <> 'error'),
b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM present),
dom AS (SELECT unnest(generate_series(lo, hi)) AS missing_id FROM b)
SELECT missing_id FROM dom
WHERE missing_id NOT IN (SELECT event_id FROM present)
"""


def q_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: consecutive missing offsets grouped to (start,end) runs."""
    missing = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select("event_id")
    )
    return audit_ops.islands(missing, "event_id")


SQL_ISLANDS = """
WITH m AS (SELECT event_id FROM events WHERE event_type = 'error'),
g AS (SELECT event_id, event_id - row_number() OVER (ORDER BY event_id) AS grp FROM m)
SELECT min(event_id) AS run_start, max(event_id) AS run_end, count(*) AS run_len
FROM g GROUP BY grp
"""


def q_parent_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/J3: parent/child row-count invariant profile (orders↔lineitem)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    prof = audit_ops.parent_child_count_check(orders, li, "o_orderkey")
    return prof.groupBy(F.col("n_children").alias("n_items")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


SQL_PARENT_CHILD = """
WITH c AS (
  SELECT o.o_orderkey, count(l.l_orderkey) AS n_items
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1)
SELECT n_items, count(*) AS n_orders FROM c GROUP BY 1
"""


def q_seg_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: dim-enrichment joins (broadcast) + revenue aggregation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_cents_sum("o_totalprice").alias("revenue_cents"),
        )
    )


SQL_SEG_REV = f"""
SELECT n.n_name AS nation, c.c_mktsegment AS segment,
       count(*) AS n_orders,
       {_sql_money_cents_sum('o.o_totalprice')} AS revenue_cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: 30-minute tumbling-window aggregation (GCS half-hour bucketing)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _money_cents_sum("value").alias("sum_value_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_epoch"),
            "event_type",
            "n",
            "sum_value_cents",
        )
    )


SQL_TIME_BUCKETS = f"""
SELECT CAST(floor(epoch(time_bucket(INTERVAL '30 minutes', ts))) AS BIGINT) AS bucket_epoch,
       event_type, count(*) AS n,
       {_sql_money_cents_sum('value')} AS sum_value_cents
FROM events GROUP BY 1, 2
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: deterministic top-k per group (dedup pick-one upgraded)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "o_orderpriority",
            "rnk",
            "o_orderkey",
            F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
        )
    )


SQL_TOPK_ORDERS = """
SELECT o_orderpriority,
       CAST(row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk,
       o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders
QUALIFY rnk <= 3
"""


def q_hex_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T9: hex-quantity encode + checked decode — drives the engine's
    real ``codec.hex_to_long_checked`` (the raw-payload numeric convention
    of the reference, common.rs:132-146, with AboveMax detection)."""
    from sonic_etl_spark.functions.codec import hex_to_long_checked

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 97 == 0)
    hex_str = F.lower(F.hex(F.col("event_id")))
    return ev.select(
        "event_id",
        hex_str.alias("hex_str"),
        hex_to_long_checked(F.concat(F.lit("0x"), hex_str)).alias("decoded"),
    )


SQL_HEX = """
SELECT event_id, lower(to_hex(event_id)) AS hex_str, event_id AS decoded
FROM events WHERE event_id % 97 = 0
"""


def q_typed_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10/T11: capped+lossless dual columns and checked integer narrowing
    (cap_bignumeric common.rs:148-160; TryIntoInteger bq/integer.rs:83-152)."""
    li = _t(spark, sf_dir, "lineitem")
    cap = F.lit(30000.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.least(F.col("l_extendedprice"), cap), 2).alias("value_capped"),
        (F.col("l_extendedprice") > cap).alias("is_capped"),
        F.round(F.col("l_extendedprice"), 2).alias("value_lossless"),
        F.when(
            F.col("l_quantity") == F.floor(F.col("l_quantity")),
            F.col("l_quantity").cast("long"),
        ).alias("qty_long"),
    )


SQL_TYPED = """
SELECT l_orderkey, l_linenumber,
       round(least(l_extendedprice, 30000.0), 2) AS value_capped,
       l_extendedprice > 30000.0 AS is_capped,
       round(l_extendedprice, 2) AS value_lossless,
       CASE WHEN l_quantity = floor(l_quantity)
            THEN CAST(l_quantity AS BIGINT) END AS qty_long
FROM lineitem
"""


def q_numeric_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: checked NUMERIC narrowing — values past MAX_NUMERIC (28 nines)
    error (NULL) instead of capping (TryIntoNumeric, bq/numeric.rs:71-100).

    The result is emitted as (in_range, num_str) rather than a bare DECIMAL:
    engines canonicalize Decimal serialization differently (9E+28 vs plain
    digits), so the gate compares a canonical string; the engine fn itself
    still returns decimal(28,0) (pytest-covered boundary tests).
    """
    from sonic_etl_spark.functions.codec import numeric_checked

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 500)
    n = (F.col("event_id") % 15 + 20).cast("int")
    s = F.repeat(F.lit("9"), n)
    num = numeric_checked(s)
    return ev.select(
        "event_id",
        n.alias("n_digits"),
        num.isNotNull().alias("in_range"),
        num.cast("string").alias("num_str"),
    )


SQL_NUMERIC_CHECKED = """
SELECT event_id,
       CAST(event_id % 15 + 20 AS INTEGER) AS n_digits,
       event_id % 15 + 20 <= 28 AS in_range,
       CASE WHEN event_id % 15 + 20 <= 28
            THEN repeat('9', CAST(event_id % 15 + 20 AS INTEGER)) END AS num_str
FROM events WHERE event_id < 500
"""


def q_uint256_dual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10/T13: the engine's REAL uint256 decode UDF
    (``codec._uint256_hex_to_decimal_dual``, the one Arrow stage of the
    replay path) driven over a 128-bit hex column derived from event_id.
    ~71% of uniform 128-bit values exceed the 38-nines BIGNUMERIC cap, so
    both the capped and passthrough branches are exercised
    (cap_bignumeric, common.rs:148-160; dual store :211-213). The oracle
    reproduces the decode in DuckDB with exact 2-limb UHUGEINT arithmetic.
    """
    from sonic_etl_spark.functions.codec import _uint256_hex_to_decimal_dual

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    hx = F.concat(
        F.lit("0x"),
        F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 32),
    )
    return ev.withColumn("_d", _uint256_hex_to_decimal_dual(hx)).select(
        "event_id",
        hx.alias("hex_str"),
        F.col("_d.value").alias("value_capped"),
        F.col("_d.value_lossless").alias("value_lossless"),
    )


SQL_UINT256_DUAL = """
WITH h AS (
  SELECT event_id, substr(sha256(CAST(event_id AS VARCHAR)), 1, 32) AS hx
  FROM events WHERE event_id < 2000),
v AS (
  SELECT event_id, hx,
         CAST(CAST(('0x' || substr(hx, 1, 16)) AS UBIGINT) AS UHUGEINT)
           * CAST('18446744073709551616' AS UHUGEINT)
         + CAST(CAST(('0x' || substr(hx, 17, 16)) AS UBIGINT) AS UHUGEINT) AS val
  FROM h)
SELECT event_id, '0x' || hx AS hex_str,
       CASE WHEN val > CAST('99999999999999999999999999999999999999' AS UHUGEINT)
            THEN '99999999999999999999999999999999999999'
            ELSE CAST(val AS VARCHAR) END AS value_capped,
       CAST(val AS VARCHAR) AS value_lossless
FROM v
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: JSON payload decode (args_to_json analog) + per-type aggregates."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


SQL_JSON = """
SELECT event_type, count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY 1
"""


def q_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A5: per-key counters (decoded-event-count / tx-count analogs)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "n_clicks"
        ),
        _money_cents_sum("value").alias("total_value_cents"),
        F.max(F.unix_timestamp("ts")).alias("last_ts_epoch"),
    )


SQL_USER_ACTIVITY = f"""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
       {_sql_money_cents_sum('value')} AS total_value_cents,
       max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_ts_epoch
FROM events GROUP BY 1
"""


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-A6 scale extension: deterministic KMV distinct-count sketch
    (operators/sketch.py) — distinct event_ids per event_type with k=64,
    forcing the estimator branch (each group ≫ k). The sketch is portable
    by construction (md5 60-bit hashes + (k-1)/h_k), so the oracle runs the
    SAME estimator in DuckDB and the VALUES must match, not just the shape.
    Production variant is approx_distinct (native HLL++, pytest-bounded)."""
    return sketch_ops.kmv_distinct(
        _t(spark, sf_dir, "events"), ["event_id"], k=64,
        group_cols=["event_type"],
    )


SQL_DISTINCT_SKETCH = sketch_ops.kmv_distinct_sql(
    "events", ["event_id"], k=64, group_cols=["event_type"]
)


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set operations (theta-sketch analog): pairwise distinct-user
    union / intersection / Jaccard estimates between event types, from
    k=64 sketches (groups hold ~150 distinct users, forcing the estimator
    branch). Portable estimator — the oracle computes the same merge and
    the VALUES must match."""
    return sketch_ops.kmv_set_overlap(
        _t(spark, sf_dir, "events"), ["user_id"], group_col="event_type",
        k=64,
    )


SQL_KMV_OVERLAP = sketch_ops.kmv_set_overlap_sql(
    "events", ["user_id"], group_col="event_type", k=64
)


def q_struct_array_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15: nested array<struct> build + per-element transform (withdrawal
    struct map analog, proto_support/withdrawals.rs:1-33): collect each
    order's items into an array of structs, transform every element
    (checked-index + amount-dual semantics), then flatten for comparison."""
    li = _t(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("idx"),
                    F.col("l_quantity").alias("qty"),
                )
            )
        ).alias("items")
    )
    transformed = nested.select(
        "l_orderkey",
        F.transform(
            "items",
            lambda it: F.struct(
                it["idx"].cast("long").alias("idx"),
                (it["qty"] * 2).alias("qty_doubled"),
            ),
        ).alias("items"),
    )
    ex = transformed.select(
        "l_orderkey", F.explode("items").alias("it")
    )
    return ex.select(
        "l_orderkey",
        F.col("it.idx").alias("idx"),
        F.round(F.col("it.qty_doubled"), 2).alias("qty_doubled"),
    )


SQL_STRUCT_ARRAY = """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS idx,
       round(l_quantity * 2, 2) AS qty_doubled
FROM lineitem
"""


# --------------------------------------------------------------------- text
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text_ops.quality_features(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_chars_actual").cast("long").alias("n_chars_actual"),
        F.col("n_words").cast("long").alias("n_words"),
        "avg_word_len",
        "stopword_ratio",
        "punct_ratio",
    )


SQL_DOC_QUALITY = f"""
SELECT doc_id,
       length(text) AS n_chars_actual,
       {NWORDS_SQL} AS n_words,
       round(length(regexp_replace(text, ' ', '', 'g'))
             / greatest({NWORDS_SQL}, 1), 4) AS avg_word_len,
       round(len(list_filter({WORDS_SQL}, x -> list_contains({STOP_SQL}, x)))
             / greatest({NWORDS_SQL}, 1), 4) AS stopword_ratio,
       round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
             / greatest(length(text), 1), 4) AS punct_ratio
FROM documents
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_ops.word_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        text_ops.token_count_regex(F.col("text")).cast("long").alias("n_regex_tokens"),
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       {NWORDS_SQL} AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_regex_tokens
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text_ops.language_id(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id", "lang_pred", F.col("marker_hits").cast("long").alias("marker_hits")
    )


def _lang_id_sql(source: str = "documents") -> str:
    langs = sorted(text_ops.LANG_MARKERS)
    score_exprs = []
    for lang in langs:
        markers = "[" + ",".join(f"'{m}'" for m in text_ops.LANG_MARKERS[lang]) + "]"
        score_exprs.append(
            f"len(list_filter(toks, x -> list_contains({markers}, x))) AS s_{lang}"
        )
    all_scores = ", ".join(f"s_{l}" for l in langs)
    # tie-break = first lang (ascending) among max scores → CASE in sorted order
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    return f"""
WITH t AS (SELECT doc_id, {WORDS_SQL} AS toks FROM {source}),
s AS (SELECT doc_id, {', '.join(score_exprs)} FROM t)
SELECT doc_id,
       CASE WHEN greatest({all_scores}) = 0 THEN 'unknown'
            {' '.join(cases)} END AS lang_pred,
       greatest({all_scores}) AS marker_hits
FROM s
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint(_t(spark, sf_dir, "documents"))


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS rolling-hash window-minimum) fingerprint overlap —
    position-robust partial-dup detection; the df-capped fingerprint join
    shares the shingle-Jaccard scale shape."""
    return text_ops.winnow_overlap_pairs(_t(spark, sf_dir, "documents"))


def _winnow_sql(k: int = 5, w: int = 4, top_k: int = 20, cap: int = 1000) -> str:
    # hash list hoisted per doc (md5 once per k-gram); windows slice the
    # stored list — the inlined form re-hashed per window, ~w× the md5s
    return f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS t
  FROM documents),
h AS (
  SELECT doc_id,
         list_transform(range(1, length(t) - {k - 1} + 1),
                        i -> substr(md5(substr(t, i, {k})), 1, 15)) AS hs
  FROM norm WHERE length(t) >= {k + w - 1}),
fp AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             range(1, len(hs) - {w - 1} + 1),
             j -> list_min(hs[j:j + {w - 1}])))) AS fp
    FROM h)),
keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {cap}),
fpc AS (SELECT fp.doc_id, fp.fp FROM fp JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY n_shared DESC, doc_a, doc_b LIMIT {top_k}
"""


# catalog entries for the driver's document languages (the testdata analog of
# the static ABI catalog, erc.rs:13-187); 'zh' is deliberately absent → its
# rows decode-miss to NULL (NotFound semantics, generic.rs:5-31 / common.rs:484).
_DOC_CATALOG = catalog_ops.LangCatalog(
    [
        catalog_ops.LangSpec("en", "th"),
        catalog_ops.LangSpec("de", "de"),
        catalog_ops.LangSpec("fr", "le"),
        catalog_ops.LangSpec("es", "el"),
    ]
)


def q_catalog_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-U3: catalog-keyed decode with miss-skip semantics — marker lookup
    by lang, decode applied as a token-prefix count, miss → NULL."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        _DOC_CATALOG.comment_marker_col(F.col("lang")).alias("marker"),
        _DOC_CATALOG.count_comment_lines(F.col("text"), F.col("lang")).alias(
            "n_marked"
        ),
    )


def _catalog_decode_sql() -> str:
    marker_cases = " ".join(
        f"WHEN lang = '{lang}' THEN '{_DOC_CATALOG.get(lang).comment_marker}'"
        for lang in _DOC_CATALOG.langs
    )
    return f"""
WITH m AS (SELECT doc_id, lang, text, CASE {marker_cases} END AS marker FROM documents)
SELECT doc_id, lang, marker,
       CASE WHEN marker IS NULL THEN NULL
            ELSE len(list_filter({WORDS_SQL}, x -> starts_with(x, marker))) END AS n_marked
FROM m
"""


# ordered-args event catalog (U4 depth): per event_type, an ordered arg list
# interleaving 'col' (indexed/topic-slot) and 'json' (body-blob) sources —
# the analog of solval_to_serdeval/args_to_json re-interleaving indexed and
# body params into declared order (events/generic.rs:75-137). 'error' is
# deliberately absent → NULL (NotFound miss-skip, generic.rs:5-31).
_ARGS_CATALOG = catalog_ops.EventArgsCatalog(
    {
        "click": [
            catalog_ops.ArgSpec("user", "col", "user_id", "long"),
            catalog_ops.ArgSpec("k", "json", "k", "long"),
            catalog_ops.ArgSpec("event", "col", "event_id", "long"),
        ],
        "view": [
            catalog_ops.ArgSpec("k", "json", "k", "long"),
            catalog_ops.ArgSpec("user", "col", "user_id", "long"),
        ],
        "purchase": [
            catalog_ops.ArgSpec("event", "col", "event_id", "long"),
            catalog_ops.ArgSpec("etype", "col", "event_type", "string"),
            catalog_ops.ArgSpec("k", "json", "k", "long"),
        ],
        "signup": [catalog_ops.ArgSpec("user", "col", "user_id", "long")],
    }
)


def q_catalog_args_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 depth: catalog-driven ordered-args decode — a JSON array of typed
    args emitted in catalog-declared order, interleaving row columns
    (indexed params) and props-JSON fields (body params); catalog miss →
    NULL row."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        _ARGS_CATALOG.args_json_col(F.col("event_type"), F.col("props")).alias(
            "args_json"
        ),
    )


def _catalog_args_sql() -> str:
    """Oracle generated from the SAME catalog declaration (mirror of the
    lang_id/catalog_decode oracle generators)."""

    def arg_sql(spec) -> str:
        if spec.source == "col":
            raw = spec.key
        else:
            raw = f"json_extract_string(props, '$.{spec.key}')"
        if spec.type == "long":
            return f"CAST(CAST({raw} AS BIGINT) AS VARCHAR)"
        return f"CAST({raw} AS VARCHAR)"

    whens = []
    for etype in _ARGS_CATALOG.event_types:
        args = ", ".join(arg_sql(s) for s in _ARGS_CATALOG._by_type[etype])
        whens.append(f"WHEN '{etype}' THEN to_json([{args}])")
    return f"""
SELECT event_id, event_type,
       CASE event_type {' '.join(whens)} END AS args_json
FROM events
"""


SQL_FINGERPRINT = """
SELECT doc_id,
       sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp_sha256,
       substr(md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')), 1, 16) AS fp_md5_64
FROM documents
"""


# -------------------------------------------------------------------- dedup
SHINGLES_SQL = """
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents)
  )
)
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.exact_duplicates(_t(spark, sf_dir, "documents"))


SQL_EXACT_DEDUP = """
SELECT sha256(text) AS content_sha256, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def q_ngram_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), top_k=20
    )


SQL_NGRAM_PAIRS = f"""
WITH {SHINGLES_SQL},
-- df-cap mirror of dedup.ngram_jaccard_pairs(max_doc_freq): stop-shingles
-- are cut from both the intersection and the sizes on BOTH engines
keep AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING count(*) <= {dedup_ops.DEFAULT_MAX_DOC_FREQ}),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
"""


def q_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup_ops.minhash_signatures(_t(spark, sf_dir, "documents"))
    return dedup_ops.lsh_band_buckets(sig)


def _minhash_sql() -> str:
    k, bands = dedup_ops.MINHASH_K, dedup_ops.LSH_BANDS
    rpb = k // bands
    mh_cols = ", ".join(
        f"min(substr(md5('{j}:' || shingle), 1, 15)) AS mh{j}" for j in range(k)
    )
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM mh"
        )
    return f"""
WITH {SHINGLES_SQL},
mh AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id)
{' UNION ALL '.join(band_selects)}
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.simhash16(_t(spark, sf_dir, "documents"))


def _simhash_sql() -> str:
    sums = ", ".join(
        "sum(CASE WHEN strpos('89abcdef', substr(h, {p}, 1)) > 0 "
        "THEN 1 ELSE -1 END) AS s{b}".format(p=b + 1, b=b)
        for b in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM s
"""


# --------------------------------------------------------------- similarity
# both engines use the identical normalize-then-dot formula (per-element
# x/sqrt(Σx²), then a left-to-right dot fold) so the 6dp-rounded doubles
# match bit-for-bit; the normalization is computed once per ROW, not per
# pair — 3 array folds → 1 inside the O(n·m) join.
NORM_SQL = (
    "list_transform(embedding::DOUBLE[], "
    "x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))"
)


def q_emb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    )


SQL_EMB_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, {NORM_SQL} AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, {NORM_SQL} AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, round(list_dot_product(qv, cv), 6) AS cos_sim
  FROM q, c WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
FROM s QUALIFY rank <= 5
"""


def q_emb_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.top_pairs(_t(spark, sf_dir, "embeddings"), top_k=50)


SQL_EMB_PAIRS = f"""
WITH e AS (SELECT vec_id, {NORM_SQL} AS nv FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.nv, b.nv), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 50
"""


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization (the 'learned-cell' ANN scale path)."""
    return sim_ops.ivf_assign(_t(spark, sf_dir, "embeddings"))


SQL_IVF_ASSIGN = f"""
WITH c AS (SELECT vec_id AS centroid_id, {NORM_SQL} AS cv FROM embeddings WHERE vec_id < 16),
v AS (SELECT vec_id, {NORM_SQL} AS nv FROM embeddings),
s AS (
  SELECT vec_id, centroid_id, round(list_dot_product(nv, cv), 6) AS cos_sim
  FROM v, c)
SELECT vec_id, centroid_id, cos_sim AS centroid_cos
FROM s
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id) = 1
"""


def q_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained IVF ANN index
    (operators.incremental.IncrementalIvfIndex): embeddings arrive as THREE
    batches (vec_id mod 3; offset = batch·2^32 + vec_id) against a
    quantizer PINNED at index creation; per-vector assignment is a pure
    function of (vector, centroids), so the maintained postings state must
    equal the one-shot ``ivf_assign`` over the whole table — the SAME
    oracle SQL as the ivf_assign gate verifies the incremental claim.
    State in a per-process mkdtemp; batch synthesis pure in the table."""
    import tempfile

    from sonic_etl_spark.operators.incremental import IncrementalIvfIndex

    emb = _t(spark, sf_dir, "embeddings")
    idx = IncrementalIvfIndex(
        spark, tempfile.mkdtemp(prefix="incr_ivf_"), n_buckets=8
    ).create(sim_ops.seed_centroids(emb, 16))
    base = emb.select(
        "vec_id",
        "embedding",
        ((F.col("vec_id") % 3) * F.lit(4294967296) + F.col("vec_id")).alias(
            "off"
        ),
    )
    for k in range(3):
        idx.apply(base.where(F.col("vec_id") % 3 == k))
    return idx.cells().select(
        "vec_id", F.col("centroid_id").cast("long").alias("centroid_id"),
        F.col("centroid_cos").alias("centroid_cos"),
    )


SQL_INCR_IVF = f"""
WITH c AS (SELECT vec_id AS centroid_id, {NORM_SQL} AS cv FROM embeddings WHERE vec_id < 16),
v AS (SELECT vec_id, {NORM_SQL} AS nv FROM embeddings),
s AS (
  SELECT vec_id, centroid_id, round(list_dot_product(nv, cv), 6) AS cos_sim
  FROM v, c)
SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id, cos_sim AS centroid_cos
FROM s
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id) = 1
"""


def q_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.lsh_buckets(_t(spark, sf_dir, "embeddings"))


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for pair-finding: LSH-bucket candidates → exact cosine
    re-rank → threshold (replaces the O(n²) top_pairs at corpus scale; the
    all-pairs variant stays guarded for ≤20k-row re-rank use)."""
    return sim_ops.near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.2)


def _near_dup_sql(restrict_to: str | None = None) -> str:
    """``restrict_to``: optional CTE/table name whose doc_id column limits
    which embeddings participate (the curation pipeline's survivor set)."""
    terms = []
    for p, row in enumerate(sim_ops.PLANES):
        arr = "[" + ",".join(f"{float(x):.1f}" for x in row) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}::DOUBLE[]) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    where = (
        f"WHERE vec_id IN (SELECT doc_id FROM {restrict_to})"
        if restrict_to
        else ""
    )
    return f"""
WITH e AS (SELECT vec_id, {NORM_SQL} AS nv, CAST({bucket} AS INTEGER) AS bucket
           FROM embeddings {where})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.nv, b.nv), 6) AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.nv, b.nv), 6) >= 0.2
"""


def _plane_sql_arrays() -> list[str]:
    return [
        "[" + ",".join(f"{float(x):.1f}" for x in row) + "]"
        for row in sim_ops.PLANES
    ]


def _lsh_bucket_sql() -> str:
    """The P-bit hyperplane bucket as a DuckDB expression (mirrors
    ``sim_ops.lsh_bucket``: sign of raw-vector dot per plane)."""
    terms = [
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}::DOUBLE[]) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, arr in enumerate(_plane_sql_arrays())
    ]
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


def _ann_buckets_sql() -> str:
    return f"SELECT vec_id, {_lsh_bucket_sql()} AS bucket FROM embeddings"


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline end-to-end (operators/curation):
    quality gate → exact dedup (normalized-content fingerprint) → near-dup
    clusters canonical-keep (LSH over survivors' embeddings) → per-language
    doc + token totals. The oracle independently replays every stage in one
    recursive-CTE SQL chain — the composition is value-verified, not just
    its parts."""
    from sonic_etl_spark.operators import curation as cur_ops

    return cur_ops.curate_corpus(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


def _curation_sql(min_words: int = 5, max_punct: float = 0.3) -> str:
    return f"""
WITH RECURSIVE surv0 AS (
  SELECT doc_id, text,
         {NWORDS_SQL} AS n_words,
         round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
               / greatest(length(text), 1), 4) AS punct_ratio
  FROM documents),
surv1 AS (SELECT doc_id, text FROM surv0
          WHERE n_words >= {min_words} AND punct_ratio <= {max_punct}),
fp AS (SELECT doc_id,
              sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS f
       FROM surv1),
keep_exact AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
surv2 AS (SELECT s.doc_id, s.text FROM surv1 s JOIN keep_exact k USING (doc_id)),
pairs AS (SELECT vec_a, vec_b FROM ({_near_dup_sql(restrict_to="surv2")}) _nd),
edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
          UNION SELECT vec_b, vec_a FROM pairs),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
dropped AS (SELECT id FROM (SELECT id, min(label) AS lab FROM reach GROUP BY id)
            WHERE lab <> id),
final AS (SELECT doc_id, text FROM surv2
          WHERE doc_id NOT IN (SELECT id FROM dropped)),
lang AS (SELECT * FROM ({_lang_id_sql(source="final")}) _lg)
SELECT l.lang_pred, count(*) AS n_docs,
       CAST(sum({NWORDS_SQL}) AS BIGINT) AS total_tokens
FROM final JOIN lang l USING (doc_id)
GROUP BY 1
"""


def q_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation on the CDC-out path
    (operators.incremental.IncrementalCurator): the documents table arrives
    as THREE batches (doc_id mod 3; arrival offset = batch·2^32 + doc_id,
    so arrival order ≠ doc_id order and the earliest-ARRIVAL-wins rank
    semantics are actually exercised); each batch is curated against the
    persisted hash/bucket minima tables in O(batch) via bucket-pruned
    point-reads, never O(corpus). The verdict stream (quality / exact_dup /
    near_dup / kept per doc) must equal the oracle's ONE-SHOT global
    recompute of the same order-independent rule — the incremental ==
    full-recompute convergence claim, driver-checked. State lives in a
    per-process mkdtemp; batch synthesis is a pure function of the table."""
    import tempfile

    from sonic_etl_spark.operators.incremental import IncrementalCurator

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "text",
        ((F.col("doc_id") % 3) * F.lit(4294967296) + F.col("doc_id")).alias(
            "off"
        ),
    )
    cur = IncrementalCurator(
        spark, tempfile.mkdtemp(prefix="incr_cur_"), n_buckets=8
    ).create()
    for k in range(3):
        cur.apply(base.where(F.col("doc_id") % 3 == k))
    return cur.verdicts.read().select("doc_id", "off", "reason")


def _incr_curation_sql(min_words: int = 5, max_punct: float = 0.3) -> str:
    k, bands = dedup_ops.MINHASH_K, dedup_ops.LSH_BANDS
    rpb = k // bands
    mh_cols = ", ".join(
        f"min(substr(md5('{j}:' || shingle), 1, 15)) AS mh{j}" for j in range(k)
    )
    sep = " || '|' || "
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({sep.join(f'mh{b * rpb + r}' for r in range(rpb))}) AS bucket FROM mh"
        for b in range(bands)
    )
    return f"""
WITH d AS (
  SELECT doc_id, text,
         (doc_id % 3) * 4294967296 + doc_id AS off
  FROM documents),
flags AS (
  SELECT doc_id, text, off,
         {NWORDS_SQL} AS n_words,
         round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
               / greatest(length(text), 1), 4) AS punct_ratio
  FROM d),
qp AS (SELECT doc_id, text, off FROM flags
       WHERE coalesce(n_words >= {min_words} AND punct_ratio <= {max_punct}, false)),
fp AS (SELECT doc_id, off,
              sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS f
       FROM qp),
sha_min AS (SELECT f, min(off) AS m FROM fp GROUP BY f),
canon AS (SELECT qp.doc_id, qp.text, qp.off
          FROM qp, fp, sha_min
          WHERE qp.doc_id = fp.doc_id AND fp.f = sha_min.f AND fp.off = sha_min.m),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM canon)
  )),
mh AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
bt AS (SELECT bands.doc_id, band, bucket, canon.off
       FROM bands, canon WHERE bands.doc_id = canon.doc_id),
bmin AS (SELECT band, bucket, min(off) AS bm FROM bt GROUP BY 1, 2),
nd AS (SELECT bt.doc_id, max(CASE WHEN bmin.bm < bt.off THEN 1 ELSE 0 END) AS near
       FROM bt, bmin
       WHERE bt.band = bmin.band AND bt.bucket = bmin.bucket
       GROUP BY 1)
SELECT flags.doc_id, CAST(flags.off AS BIGINT) AS off,
       CASE WHEN NOT coalesce(n_words >= {min_words} AND punct_ratio <= {max_punct},
                              false)
              THEN 'quality'
            WHEN canon.doc_id IS NULL THEN 'exact_dup'
            WHEN coalesce(nd.near, 0) = 1 THEN 'near_dup'
            ELSE 'kept' END AS reason
FROM flags
LEFT JOIN canon ON canon.doc_id = flags.doc_id
LEFT JOIN nd ON nd.doc_id = flags.doc_id
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters (the dedup last mile): connected components over the
    LSH near-dup pairs via large-star/small-star contraction
    (operators/dedup.duplicate_clusters); cluster_id = smallest member.
    The oracle recomputes components independently with a recursive CTE
    (min label reachable from each node)."""
    pairs = sim_ops.near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.2
    )
    return dedup_ops.duplicate_clusters(pairs)


def _dup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (SELECT vec_a, vec_b FROM ({_near_dup_sql()}) _nd),
edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
          UNION SELECT vec_b, vec_a FROM pairs),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
SELECT id AS member_id, min(label) AS cluster_id FROM reach GROUP BY id
"""


def _ann_topk_lsh_sql(n_probes: int = 4, k: int = 5) -> str:
    """DuckDB mirror of ``sim_ops.ann_topk_lsh`` — expressible because every
    ingredient is deterministic: md5-derived ±1 hyperplanes (module
    constants, shared verbatim), raw-dot plane confidences, multi-probe =
    flip the (n_probes-1) least-confident plane bits on the QUERY side only
    (tie-break (|dot|, flipped-bucket), matching Spark's struct array_sort),
    then exact re-rank. Same left-to-right dot fold both engines."""
    arrs = _plane_sql_arrays()
    dots = ", ".join(
        f"list_dot_product(embedding::DOUBLE[], {arrs[p]}::DOUBLE[]) AS d{p}"
        for p in range(len(arrs))
    )
    flip_rows = " UNION ALL ".join(
        f"SELECT query_id, qv, abs(d{p}) AS a, "
        f"CAST(xor(bucket, {1 << p}) AS INTEGER) AS flipped FROM q"
        for p in range(len(arrs))
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, {NORM_SQL} AS qv, {_lsh_bucket_sql()} AS bucket, {dots}
  FROM embeddings WHERE vec_id < 10),
pf AS (
  SELECT query_id, qv, flipped,
         row_number() OVER (PARTITION BY query_id ORDER BY a, flipped) AS rn
  FROM ({flip_rows})),
probes AS (
  SELECT query_id, qv, bucket AS probe_bucket FROM q
  UNION ALL
  SELECT query_id, qv, flipped FROM pf WHERE rn <= {n_probes - 1}),
c AS (SELECT vec_id, {NORM_SQL} AS nv, {_lsh_bucket_sql()} AS bucket FROM embeddings),
s AS (
  SELECT DISTINCT query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(qv, nv), 6) AS cos_sim
  FROM probes JOIN c ON probes.probe_bucket = c.bucket
  WHERE query_id <> c.vec_id)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
FROM s QUALIFY rank <= {k}
"""


def _ann_topk_ivf_sql(
    n_probes: int = 4, k: int = 5, n_centroids: int = 16,
    q_lo: int = 20, q_hi: int = 30,
) -> str:
    """DuckDB mirror of ``sim_ops.ann_topk_ivf`` over seeded centroids —
    deterministic end to end: cells = first ``n_centroids`` vectors,
    corpus assignment by ROUNDED cosine (exactly ``ivf_assign``'s rule,
    ties → lowest centroid id), query probes = ``n_probes`` nearest cells
    by RAW cosine (ties → lowest centroid id), exact re-rank, DISTINCT
    because two probes can reach the same neighbor."""
    return f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, {NORM_SQL} AS cv
  FROM embeddings WHERE vec_id < {n_centroids}),
v AS (SELECT vec_id, {NORM_SQL} AS nv FROM embeddings),
assigned AS (
  SELECT vec_id, nv, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(list_dot_product(nv, cv), 6) DESC,
                                     centroid_id) AS rn
  FROM v, cents QUALIFY rn = 1),
q AS (SELECT vec_id AS query_id, {NORM_SQL} AS qv
      FROM embeddings WHERE vec_id >= {q_lo} AND vec_id < {q_hi}),
probes AS (
  SELECT query_id, qv, centroid_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_dot_product(qv, cv) DESC,
                                     centroid_id) AS pr
  FROM q, cents QUALIFY pr <= {n_probes}),
s AS (
  SELECT DISTINCT query_id, a.vec_id AS neighbor_id,
         round(list_dot_product(qv, nv), 6) AS cos_sim
  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
  WHERE query_id <> a.vec_id)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
FROM s QUALIFY rank <= {k}
"""


# ------------------------------------------------- multimodal (Arrow UDF)
# The hex→byte trick both oracles share: DuckDB cannot index into a BLOB
# directly, but hex() + a list comprehension over nibble pairs reconstructs
# every byte value in pure SQL (strpos over '0123456789abcdef'), so the
# mapInPandas codec stage's byte-sum math replays exactly.
_SQL_NIBBLES = "'0123456789abcdef'"


def _sql_byte_sum(hex_col: str, n_pairs: str) -> str:
    """DuckDB expression: sum of the bytes encoded by ``hex_col`` (lowercase
    hex string), where ``n_pairs`` is the byte count. coalesce handles the
    empty payload (empty list → NULL sum, the fake codec yields 0)."""
    return (
        "CAST(coalesce(list_sum("
        f"[ (strpos({_SQL_NIBBLES}, {hex_col}[2*i-1:2*i-1]) - 1) * 16"
        f"  + (strpos({_SQL_NIBBLES}, {hex_col}[2*i:2*i]) - 1)"
        f"  for i in generate_series(1, CAST({n_pairs} AS INT)) ]), 0) "
        "AS BIGINT)"
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads.

    Value-oracled since r4: the stub codec's byte-sum checksum is
    deterministic, so DuckDB can replay it byte-for-byte from hex(payload)
    (``SQL_MULTIMODAL_FEATURES``). The vector itself (`feature`) is dropped
    from the gate projection — its chunk sums are the same byte math, and
    goldens in tests/test_multimodal.py pin it.
    """
    media = mm_ops.attach_media(_t(spark, sf_dir, "documents"))
    return mm_ops.extract_features(media).select(
        "doc_id", "media_type", "n_bytes", "feat_checksum"
    )


SQL_MULTIMODAL_FEATURES = f"""
WITH pay AS (SELECT doc_id, encode(text) AS payload FROM documents),
hx AS (SELECT doc_id, lower(hex(payload)) AS h,
              CAST(octet_length(payload) AS BIGINT) AS n_bytes FROM pay)
SELECT doc_id, 'text' AS media_type, n_bytes,
       {_sql_byte_sum('h', 'n_bytes')} AS feat_checksum
FROM hx
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (video-pipeline shape): one payload → one row
    per sampled frame via mapInPandas row fan-out. Value-oracled since r4:
    the 64-byte framing, every-4th sampling and per-frame byte-sum all
    replay in DuckDB (``SQL_MULTIMODAL_FRAMES``). frame_index/n_frames are
    published as BIGINT on both sides (Spark's int would land as int32 vs
    DuckDB's int64)."""
    media = mm_ops.attach_media(_t(spark, sf_dir, "documents"))
    return mm_ops.frame_sample(media, frame_bytes=64, every_k=4).select(
        "doc_id",
        F.col("frame_index").cast("bigint").alias("frame_index"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        "frame_checksum",
    )


SQL_MULTIMODAL_FRAMES = f"""
WITH pay AS (SELECT doc_id, encode(text) AS payload FROM documents),
hx AS (SELECT doc_id, lower(hex(payload)) AS h,
              CAST(octet_length(payload) AS BIGINT) AS nb FROM pay),
fr AS (SELECT doc_id, h,
              greatest(CAST(ceil(nb / 64.0) AS BIGINT), 1) AS n_frames FROM hx),
idx AS (SELECT doc_id, h, n_frames,
               unnest(generate_series(0, n_frames - 1, 4)) AS fi FROM fr),
sl AS (SELECT doc_id, CAST(fi AS BIGINT) AS frame_index, n_frames,
              substr(h, CAST(128 * fi + 1 AS INT), 128) AS fh FROM idx)
SELECT doc_id, frame_index, n_frames,
       {_sql_byte_sum('fh', 'length(fh) // 2')} AS frame_checksum
FROM sl
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators.curation.split_dataset):
    per-row assignment is a pure function of (seed, doc_id) via the 60-bit
    md5-prefix hash, so the oracle replays the exact assignment — plus
    per-split counts are summarized in pytest (proportion bounds)."""
    docs = _t(spark, sf_dir, "documents")
    return curation_ops.split_dataset(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


SQL_DATASET_SPLIT = (
    "SELECT doc_id, split FROM ("
    + curation_ops.split_dataset_sql(
        "documents", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    + ") _s"
)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (curation.pack_sequences): docs →
    fixed-token-budget training sequences, sharded by seeded hash into
    groups and first-fit-packed in hash order within each group via ONE
    applyInPandas pass. Fully deterministic, so the oracle replays the
    greedy scan with a recursive CTE (one row per group per step)."""
    docs = _t(spark, sf_dir, "documents")
    return curation_ops.pack_sequences(docs, budget=256, n_groups=16)


SQL_PACK_SEQUENCES = curation_ops.pack_sequences_sql(
    "documents", budget=256, n_groups=16
)


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report (curation.pack_stats over pack_sequences):
    per pack-group utilization, padding waste and oversize count — the
    pre-training sanity numbers. The oracle composes the full recursive-CTE
    packing replay with the same two aggregations, so a divergence anywhere
    in the packer OR the report fails this gate."""
    docs = _t(spark, sf_dir, "documents")
    packed = curation_ops.pack_sequences(docs, budget=256, n_groups=16)
    return curation_ops.pack_stats(packed, budget=256)


SQL_PACK_STATS = curation_ops.pack_stats_sql("documents", budget=256, n_groups=16)

# Downsample English hard, mid-resource languages lightly, keep the rest —
# the canonical corpus-mix move; thresholds are integer literals shared with
# the SQL mirror so membership replays bit-for-bit.
_SAMPLE_RATES = {"en": 0.25, "zh": 0.5, "es": 0.5}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (curation.sample_stratified):
    per-language keep rates as a pure (seed, doc_id) hash filter — zero
    shuffles, zero RNG state, stable at any partitioning. Unlisted strata
    (de, fr here) keep everything via default_rate=1.0."""
    docs = _t(spark, sf_dir, "documents")
    return curation_ops.sample_stratified(
        docs, _SAMPLE_RATES, stratum_col="lang", default_rate=1.0
    ).select("doc_id", "lang", "source")


SQL_STRATIFIED_SAMPLE = (
    "SELECT doc_id, lang, source FROM ("
    + curation_ops.sample_stratified_sql(
        "documents", _SAMPLE_RATES, stratum_col="lang", default_rate=1.0
    )
    + ") _smp"
)


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing end-to-end (curation.mix_rates → sample_stratified):
    per-lang whitespace-token counts → τ=0 water-filled keep rates hitting
    a 40%-of-corpus token budget → deterministic hash sampling → per-lang
    kept totals. τ=0 is the cross-engine float-safe leg: each rate reduces
    to ((budget / n_open) / c) — two exactly-rounded IEEE divisions over
    exact integers that the SQL mirror replays in the same association,
    and the capped-set condition is pure integer arithmetic
    (c·n_open ≤ budget). τ≠0 water-filling is pytest-covered (pow() is not
    cross-engine bit-stable). The integer bound (rate × 2^60) rides the
    output so the gate pins the rate DERIVATION, not just the sampled
    aggregate. The per-lang count collect is O(strata) control-plane."""
    from sonic_etl_spark.operators.text import word_count

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", word_count(F.col("text")).cast("long").alias("nt")
    )
    counts = {
        r["lang"]: int(r["c"])
        for r in toks.groupBy("lang").agg(F.sum("nt").alias("c")).collect()
        if r["c"] and r["c"] > 0
    }
    target = sum(counts.values()) * 2 // 5
    rates = curation_ops.mix_rates(counts, target, temperature=0.0)
    bounds = curation_ops._sample_thresholds(rates, 0.0)
    kept = curation_ops.sample_stratified(
        toks, rates, stratum_col="lang", seed="mix-v1"
    )
    bexpr = None
    for name in sorted(bounds):
        cond = F.col("lang") == F.lit(name)
        bexpr = (
            F.when(cond, F.lit(bounds[name]))
            if bexpr is None
            else bexpr.when(cond, F.lit(bounds[name]))
        )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum("nt").alias("kept_tokens"),
        )
        .withColumn("bound", bexpr)
        .select("lang", "bound", "kept_docs", "kept_tokens")
    )


_MIX_HASH = (
    "CAST(CAST(('0x' || substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 15))"
    " AS UBIGINT) AS BIGINT)"
)

SQL_CORPUS_MIX = f"""
WITH tok AS (
  SELECT doc_id, lang, CAST({NWORDS_SQL} AS BIGINT) AS nt FROM documents),
cnt AS (
  SELECT lang, CAST(sum(nt) AS BIGINT) AS c FROM tok
  GROUP BY lang HAVING sum(nt) > 0),
tgt AS (SELECT (sum(c) * 2) // 5 AS t FROM cnt),
-- water-filling closed form (tau=0): sort strata by count ascending; a
-- stratum caps at rate 1 iff its count fits the equal split of the budget
-- left after capping every smaller stratum — all-integer arithmetic
ord AS (
  SELECT lang, c,
         count(*) OVER () AS n,
         row_number() OVER (ORDER BY c, lang) AS j,
         coalesce(sum(c) OVER (ORDER BY c, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM cnt),
cap AS (SELECT ord.*, (c * (n - j + 1) <= t - pre) AS capped FROM ord, tgt),
agg AS (
  SELECT coalesce(sum(CASE WHEN capped THEN c END), 0) AS cap_sum,
         sum(CASE WHEN NOT capped THEN 1 ELSE 0 END) AS open_n
  FROM cap),
fin AS (
  SELECT lang, c,
         CASE WHEN capped THEN CAST(1152921504606846976 AS BIGINT)
              ELSE CAST(round(((CAST(t - cap_sum AS DOUBLE) / open_n) / c)
                              * 1152921504606846976) AS BIGINT) END AS bound
  FROM cap, tgt, agg)
SELECT fin.lang, fin.bound,
       CAST(count(*) AS BIGINT) AS kept_docs,
       CAST(sum(tok.nt) AS BIGINT) AS kept_tokens
FROM tok JOIN fin USING (lang)
WHERE {_MIX_HASH} < fin.bound
GROUP BY fin.lang, fin.bound
"""


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment (operators.temporal.asof_join): every click
    gets the user's most recent prior-or-simultaneous purchase — the general
    as-of join whose "as of now" degenerate case is the reference's
    latest-state QC join (daily_qc_airflow/row_counts.py:85-102). Spark
    plan: union-marker + one running-frame window — ONE shuffle on user_id,
    no range/cross join. Oracle: DuckDB's native ASOF LEFT JOIN, an
    independent implementation of the same inclusive (>=) semantics."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = temporal_ops.asof_join(
        clicks, purchases, on="user_id", left_ts="ts",
        right_cols=["value"], suffix="_purchase",
    )
    return j.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("click_ts_epoch"),
        F.round(F.col("value"), 2).alias("click_value"),
        F.round(F.col("value_purchase"), 2).alias("purchase_value"),
        F.unix_timestamp("ts_purchase").alias("purchase_ts_epoch"),
    )


SQL_ASOF_ENRICH = """
WITH c AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT c.user_id,
       c.event_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_epoch,
       round(c.value, 2) AS click_value,
       round(p.value, 2) AS purchase_value,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts_epoch
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""

def q_asof_enrich_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """direction='forward' (next-event attribution: every click gets the
    user's NEXT purchase at-or-after it) — new in r5 alongside the
    forward bucket_sec plan. Oracle: DuckDB ASOF LEFT JOIN with the
    mirrored inequality (``c.ts <= p.ts``), an independent implementation
    of the same inclusive semantics; the bucketed forward plan is
    property-tested equal (tests/test_temporal_props.py)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = temporal_ops.asof_join(
        clicks, purchases, on="user_id", left_ts="ts",
        right_cols=["value"], suffix="_purchase", direction="forward",
    )
    return j.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("click_ts_epoch"),
        F.round(F.col("value"), 2).alias("click_value"),
        F.round(F.col("value_purchase"), 2).alias("purchase_value"),
        F.unix_timestamp("ts_purchase").alias("purchase_ts_epoch"),
    )


SQL_ASOF_ENRICH_FWD = """
WITH c AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT c.user_id,
       c.event_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_epoch,
       round(c.value, 2) AS click_value,
       round(p.value, 2) AS purchase_value,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts_epoch
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
"""


def q_asof_enrich_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME point-in-time join through the hot-key physical plan
    (``bucket_sec``: parallel prefix scan over day buckets) — value-gated
    against the identical DuckDB ASOF oracle, so BOTH plans are
    driver-verified, not just pytest-equal. BENCH.md records the regime
    this plan exists for (2.5-7.3× on a single hot key, linear-vs-flat
    divergence)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = temporal_ops.asof_join(
        clicks, purchases, on="user_id", left_ts="ts",
        right_cols=["value"], suffix="_purchase", bucket_sec=86400.0,
    )
    return j.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("click_ts_epoch"),
        F.round(F.col("value"), 2).alias("click_value"),
        F.round(F.col("value_purchase"), 2).alias("purchase_value"),
        F.unix_timestamp("ts_purchase").alias("purchase_ts_epoch"),
    )


_SESSION_GAP_SEC = 21600  # 6h — shared literal, Spark and SQL mirrors


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (operators.temporal.session_stats): per-user sessions
    under a 6h inactivity gap, with per-session event count, span and money
    total. Lag + running-sum share ONE window spec (single shuffle+sort;
    Catalyst collapses the two Window nodes), then a groupBy whose keys are
    a superset of the window key. Epochs floored to BIGINT, money as BIGINT
    cents (cross-engine determinism rules in the module docstring)."""
    ev = _t(spark, sf_dir, "events")
    st = temporal_ops.session_stats(
        ev, ["user_id"], "ts", gap_sec=_SESSION_GAP_SEC, order_cols=["event_id"],
        extra_aggs=[_money_cents_sum("value").alias("value_cents")],
    )
    return st.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
        F.unix_timestamp("start_ts").alias("start_epoch"),
        F.unix_timestamp("end_ts").alias("end_epoch"),
        (F.unix_timestamp("end_ts") - F.unix_timestamp("start_ts")).alias(
            "duration_sec"
        ),
        F.col("value_cents").cast("long").alias("value_cents"),
    )


SQL_SESSION_STATS = f"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), s AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > {_SESSION_GAP_SEC}
                 THEN 1 ELSE 0 END AS is_new
  FROM o
), t AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM s
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT)
         - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
       {_sql_money_cents_sum('value')} AS value_cents
FROM t GROUP BY user_id, session_idx
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history intervals (operators.temporal.scd2_intervals): every
    event becomes a version row with [valid_from, valid_to) — the
    slowly-changing-dimension shape whose point-in-time consumer is
    asof_join. One per-key window, lead() streaming frame."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    iv = temporal_ops.scd2_intervals(
        ev, ["user_id"], "ts", order_cols=["event_id"]
    )
    return iv.select(
        "user_id",
        "event_id",
        F.round(F.col("value"), 2).alias("value"),
        F.unix_timestamp("valid_from").alias("valid_from_epoch"),
        F.unix_timestamp("valid_to").alias("valid_to_epoch"),
        F.col("is_current").cast("boolean").alias("is_current"),
    )


SQL_SCD2_INTERVALS = """
SELECT user_id,
       event_id,
       round(value, 2) AS value,
       CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_epoch,
       CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_epoch,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_sample_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic stratified sample (curation.sample_k_per_stratum):
    25 docs per language by seeded md5 rank — the eval-set constructor;
    stable across runs/partitioning, uncorrelated with split/pack seeds."""
    d = _t(spark, sf_dir, "documents")
    return curation_ops.sample_k_per_stratum(d, k=25).select(
        "doc_id", "lang", "source"
    )


SQL_SAMPLE_K = (
    "SELECT doc_id, lang, source FROM ("
    + curation_ops.sample_k_per_stratum_sql("documents", k=25)
    + ") _sk"
)


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew detector (operators.profile.key_distribution): top-25
    heaviest lineitem supplier keys with row share and skew factor — the
    report that decides salting/broadcast before a 100 TB shuffle. Plan:
    one partial-aggregated groupBy, 1-row totals broadcast back,
    TakeOrderedAndProject for the top-N (no global sort)."""
    li = _t(spark, sf_dir, "lineitem")
    return profile_ops.key_distribution(li, ["l_suppkey"], top_n=25)


SQL_KEY_SKEW = """
WITH counts AS (SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
     tot AS (SELECT sum(n_rows) AS t, count(*) AS g FROM counts),
     ranked AS (
       SELECT l_suppkey, n_rows,
              row_number() OVER (ORDER BY n_rows DESC, l_suppkey) AS rank
       FROM counts
     )
SELECT l_suppkey,
       CAST(n_rows AS BIGINT) AS n_rows,
       round(n_rows / t, 6) AS share,
       round(n_rows * g / t, 4) AS x_mean,
       CAST(rank AS BIGINT) AS rank
FROM ranked, tot
WHERE rank <= 25
"""

_HIST_BINS = 20


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (operators.profile.equi_width_histogram) of
    events.value over observed min/max, 20 bins. The bin expression
    ``floor((v - lo) * n / (hi - lo))`` uses one fixed association so the
    independent SQL mirror computes bit-identical doubles; v == hi clamps
    into the last bin."""
    ev = _t(spark, sf_dir, "events")
    return profile_ops.equi_width_histogram(ev, "value", n_bins=_HIST_BINS)


SQL_VALUE_HISTOGRAM = f"""
WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
     b AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
     binned AS (
       SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                   ELSE least(CAST(floor((v - lo) * {_HIST_BINS} / (hi - lo)) AS BIGINT),
                              {_HIST_BINS - 1}) END AS bin_idx, lo, hi
       FROM v, b
     )
SELECT bin_idx,
       round(lo + bin_idx * (hi - lo) / {_HIST_BINS}, 6) AS bin_lo,
       round(lo + (bin_idx + 1) * (hi - lo) / {_HIST_BINS}, 6) AS bin_hi,
       CAST(count(*) AS BIGINT) AS n_rows
FROM binned GROUP BY bin_idx, lo, hi
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators.text.redact_pii): URLs → emails → IPs, staged
    counts attributed to exactly one class. The synthetic corpus carries no
    PII, so both engines PLANT it identically as a pure function of doc_id
    (every 3rd doc gets an email+URL, every 5th an IP — overlapping classes
    exercise the staged ordering); the oracle replays the same regexes in
    RE2 (patterns written in the Java∩RE2 subset). Redacted text compared
    by md5."""
    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"), sid,
                    F.lit("@example.com via https://ex.com/u/"), sid,
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" from 10.0.0.1")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    out = text_ops.redact_pii(planted)
    return out.select(
        "doc_id", "n_urls", "n_emails", "n_ips",
        F.md5(F.col("text_redacted")).alias("redacted_md5"),
    )


SQL_REDACT_PII = f"""
WITH planted AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com via https://ex.com/u/'
                        || CAST(doc_id AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.0.1' ELSE '' END
           AS text
  FROM documents),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{text_ops.PII_URL}')) AS BIGINT) AS n_urls,
         regexp_replace(text, '{text_ops.PII_URL}', '<URL>', 'g') AS t1
  FROM planted),
s2 AS (
  SELECT doc_id, n_urls,
         CAST(len(regexp_extract_all(t1, '{text_ops.PII_EMAIL}')) AS BIGINT) AS n_emails,
         regexp_replace(t1, '{text_ops.PII_EMAIL}', '<EMAIL>', 'g') AS t2
  FROM s1)
SELECT doc_id, n_urls, n_emails,
       CAST(len(regexp_extract_all(t2, '{text_ops.PII_IP}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(t2, '{text_ops.PII_IP}', '<IP>', 'g')) AS redacted_md5
FROM s2
"""

_CONTAIN_N = 5  # word n-gram width shared by Spark and the SQL mirror


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (operators.text.ngram_containment):
    per-document fraction of distinct word 5-grams present anywhere in the
    probe set (docs 0-9 standing in for a held-out eval suite). Probe
    n-gram hashes broadcast; the corpus is never shuffled by n-gram."""
    d = _t(spark, sf_dir, "documents")
    probe = d.where(F.col("doc_id") < 10)
    return text_ops.ngram_containment(d, probe, n=_CONTAIN_N)


SQL_NGRAM_CONTAINMENT = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(w) - {_CONTAIN_N - 1} + 1),
           i -> substr(md5(array_to_string(w[i:i + {_CONTAIN_N - 1}], ' ')), 1, 15)
         ))) AS gram
  FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents)
  WHERE len(w) >= {_CONTAIN_N}),
p AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
j AS (
  SELECT g.doc_id, CASE WHEN p.gram IS NULL THEN 0 ELSE 1 END AS hit
  FROM g LEFT JOIN p USING (gram))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(hit) AS BIGINT) AS n_matched,
       round(CAST(sum(hit) AS BIGINT) / CAST(count(*) AS BIGINT), 4) AS containment
FROM j GROUP BY doc_id
"""


def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group percentiles (operators.profile.group_percentiles): p50/p90/
    p99 of event value per event type, DISCRETE (``percentile_disc`` picks
    an actual input element — zero interpolation arithmetic, so the doubles
    are bit-identical to DuckDB's ``quantile_disc``; the continuous variant
    is NOT hash-stable and stays out of the gate)."""
    ev = _t(spark, sf_dir, "events")
    return profile_ops.group_percentiles(
        ev, "value", ["event_type"], ps=(0.5, 0.9, 0.99)
    )


SQL_GROUP_PERCENTILES = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.9) AS p90,
       quantile_disc(value, 0.99) AS p99
FROM events GROUP BY event_type
"""


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-probe LSH (4 probes over the least-confident
    planes; recall measured ≥0.9 vs brute force on clustered corpora in
    tests/test_similarity_ops.py). Approximate vs BRUTE FORCE, but fully
    deterministic given the md5-seeded planes — so it IS oracle-expressible
    (``_ann_topk_lsh_sql`` replays planes, probe selection and re-rank)."""
    return sim_ops.ann_topk_lsh(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5, n_probes=4
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-probe IVF (4 nearest cells; recall ≥0.9 vs brute
    force pytest-measured). Approximate vs BRUTE FORCE, but deterministic
    given the seeded centroids — oracle-expressible (``_ann_topk_ivf_sql``
    replays cells, rounded assignment, probe selection and re-rank)."""
    return sim_ops.ann_topk_ivf(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(20, 30)), k=5,
        n_probes=4,
    )


# Materialization paths for the synthesized change log: the engine queries
# write them, then their DuckDB oracles read them back — making the engine's
# replay claims driver-verified instead of self-verified. Content is a pure
# function of (seed=42, n=20000), independent of sf and parallelism.
#
# The paths live under a PER-PROCESS mkdtemp (mode 0700), resolved once at
# import: the oracle SQL strings below embed the same path at build time, so
# Spark-write-then-DuckDB-read stays coherent within a process while two
# concurrent driver/crosscheck runs can no longer clobber each other's log
# (and the location is not a predictable world-writable /tmp name).
import os as _os
import tempfile as _tempfile

_LOG_TMPDIR = _tempfile.mkdtemp(prefix="sonic_etl_spark_logs_")
CDC_LOG_PATH = _os.path.join(_LOG_TMPDIR, "cdc_log.parquet")
POISON_LOG_PATH = _os.path.join(_LOG_TMPDIR, "cdc_log_poison.parquet")


def _materialize_log(spark: SparkSession, path: str, **kw) -> DataFrame:
    from sonic_etl_spark.log.synthesis import synthesize_change_events

    log = synthesize_change_events(spark, 20_000, n_partitions=4, **kw)
    log.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)  # replay the materialized bytes


def q_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CDC engine end-to-end on a synthesized change log:
    synthesize → materialize to parquet → plan → decode → salted LWW reduce
    → idempotent MERGE → converged table state.

    The log is written to :data:`CDC_LOG_PATH` so the DuckDB oracle can
    replay the SAME input independently (from_base64 + sha256 decode, window
    LWW over (offset, partition_id, commit), tombstone filter). Requires the
    Spark side to run before the oracle (the driver's order)."""
    import tempfile

    from sonic_etl_spark.sources.table import TransactionalParquetTable
    from sonic_etl_spark.streaming.replay import replay

    log = _materialize_log(spark, CDC_LOG_PATH)
    tbl = TransactionalParquetTable(
        spark, tempfile.mkdtemp(prefix="cdc_replay_"), n_buckets=8
    )
    replay(log, tbl, chunk_size=2000)
    return tbl.read().select(
        "repo", "path", "commit", "lang", "content_sha256", "size_bytes",
        "last_offset", "last_partition_id",
    )


SQL_CDC_REPLAY = f"""
WITH log AS (SELECT * FROM read_parquet('{CDC_LOG_PATH}/*.parquet')),
dec AS (
  SELECT repo, path, commit, lang,
         -- Spark base64() is MIME-chunked (CRLF every 76 chars); strip before decode
         sha256(decode(from_base64(regexp_replace(
             json_extract_string(content_raw, '$.content_b64'), '\\s', '', 'g')))) AS content_sha256,
         CAST(CAST(json_extract_string(content_raw, '$.size') AS UBIGINT) AS BIGINT) AS size_bytes,
         "offset" AS last_offset, partition_id AS last_partition_id, op
  FROM log),
w AS (
  SELECT *, row_number() OVER (
    PARTITION BY repo, path
    ORDER BY last_offset DESC, last_partition_id DESC, commit DESC) AS rn
  FROM dec)
SELECT repo, path, commit, lang, content_sha256, size_bytes,
       last_offset, last_partition_id
FROM w WHERE rn = 1 AND op <> 'delete'
"""


def q_fanout_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 multi-table fan-out, driver-verified: one decode pass committed to
    source_code + file_versions + quarantine under ONE shared manifest
    (streaming/fanout.py; mod.rs:305-314 / streampublisher.rs:29-76 analog),
    then the row_counts.py:85-102-style parent/child profile per repo:
    converged path count vs distinct version count. The oracle recomputes
    both from the materialized log independently."""
    import tempfile

    from sonic_etl_spark.sources.multitable import TransactionalTableSet
    from sonic_etl_spark.streaming.fanout import replay_fanout

    log = _materialize_log(spark, CDC_LOG_PATH)
    ts = TransactionalTableSet(
        spark, tempfile.mkdtemp(prefix="cdc_fanout_"), n_buckets=8
    )
    replay_fanout(log, ts, chunk_size=2000, on_error="quarantine")
    paths = (
        ts.read("source_code")
        .groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    versions = (
        ts.read("file_versions", include_tombstones=True)
        .groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n_versions"))
    )
    return paths.join(versions, "repo", "full").select(
        "repo",
        F.coalesce("n_paths", F.lit(0)).alias("n_paths"),
        F.coalesce("n_versions", F.lit(0)).alias("n_versions"),
    )


SQL_FANOUT_INVARIANTS = f"""
WITH log AS (SELECT * FROM read_parquet('{CDC_LOG_PATH}/*.parquet')),
state AS (
  SELECT repo, path, op, row_number() OVER (
    PARTITION BY repo, path
    ORDER BY "offset" DESC, partition_id DESC, commit DESC) AS rn
  FROM log),
paths AS (
  SELECT repo, count(*) AS n_paths FROM state
  WHERE rn = 1 AND op <> 'delete' GROUP BY repo),
vers AS (
  SELECT repo, count(DISTINCT path || '#' || commit) AS n_versions
  FROM log GROUP BY repo)
SELECT coalesce(p.repo, v.repo) AS repo,
       coalesce(n_paths, 0) AS n_paths,
       coalesce(n_versions, 0) AS n_versions
FROM paths p FULL JOIN vers v ON p.repo = v.repo
"""


def q_quarantine_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter path, driver-verified (dataflow.tf:1-31 / err.rs:1-31
    analog): replay a log with deterministically-poisoned payloads under
    on_error='quarantine'; bad rows land in the quarantine table with
    field-attributed errors instead of wedging their partition. The oracle
    classifies the same corruption from the raw log in SQL."""
    import tempfile

    from sonic_etl_spark.sources.multitable import TransactionalTableSet
    from sonic_etl_spark.streaming.fanout import replay_fanout

    log = _materialize_log(spark, POISON_LOG_PATH, poison_fraction=0.05)
    ts = TransactionalTableSet(
        spark, tempfile.mkdtemp(prefix="cdc_quarantine_"), n_buckets=8
    )
    replay_fanout(log, ts, chunk_size=2000, on_error="quarantine")
    return (
        ts.read("quarantine")
        .groupBy("decode_error")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


SQL_QUARANTINE = f"""
WITH log AS (SELECT * FROM read_parquet('{POISON_LOG_PATH}/*.parquet')),
cls AS (
  SELECT CASE
           WHEN NOT json_valid(content_raw) THEN 'payload: malformed json'
           WHEN CAST(json_extract_string(content_raw, '$.size') AS UBIGINT)
                <> octet_length(from_base64(regexp_replace(
                     json_extract_string(content_raw, '$.content_b64'), '\\s', '', 'g')))
             THEN 'size: mismatch vs content'
         END AS decode_error
  FROM log)
SELECT decode_error, count(*) AS n_rows
FROM cls WHERE decode_error IS NOT NULL GROUP BY 1
"""


# Registry ORDER is load-bearing: the driver executes only the FIRST 50
# entries each round (the r4 lesson — the flagship gates sat at positions
# 51-56 and got no CORRECTNESS_r4 row). Discipline: flagship end-to-end
# claims first, new-this-round gates next, the rest by family; the tail
# past position 50 holds ONLY queries whose operator is also verified by an
# in-window sibling (same oracle or a superset query) and that were
# triple-green in a prior driver round — tools/crosscheck.py still covers
# them locally.
QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    # flagship end-to-end claims (converged CDC replay, atomic fan-out,
    # dead-letter, media plumbing, IVF ANN) — driver-verified EVERY round
    "cdc_replay_converged": (q_cdc_replay, SQL_CDC_REPLAY),
    "fanout_invariants": (q_fanout_invariants, SQL_FANOUT_INVARIANTS),
    "quarantine_by_class": (q_quarantine_by_class, SQL_QUARANTINE),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "ann_topk_ivf": (q_ann_topk_ivf, _ann_topk_ivf_sql()),
    # new in r5
    "incremental_curation": (q_incremental_curation, _incr_curation_sql()),
    "corpus_mix": (q_corpus_mix, SQL_CORPUS_MIX),
    # CDC / SURVEY §2 core
    "lww_converge": (q_lww_converge, SQL_LWW),
    "gap_missing": (q_gap_missing, SQL_GAP),
    "gap_islands": (q_gap_islands, SQL_ISLANDS),
    "parent_child_counts": (q_parent_child, SQL_PARENT_CHILD),
    "seg_nation_revenue": (q_seg_nation_revenue, SQL_SEG_REV),
    "time_buckets_30m": (q_time_buckets, SQL_TIME_BUCKETS),
    "topk_per_group": (q_topk_orders, SQL_TOPK_ORDERS),
    "hex_roundtrip": (q_hex_roundtrip, SQL_HEX),
    "typed_transform_dual": (q_typed_transform, SQL_TYPED),
    "numeric_checked": (q_numeric_checked, SQL_NUMERIC_CHECKED),
    "uint256_dual_decode": (q_uint256_dual, SQL_UINT256_DUAL),
    "user_activity": (q_user_activity, SQL_USER_ACTIVITY),
    "struct_array_transform": (q_struct_array_transform, SQL_STRUCT_ARRAY),
    # text analysis
    "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "lang_id": (q_lang_id, _lang_id_sql()),
    "catalog_decode": (q_catalog_decode, _catalog_decode_sql()),
    "catalog_args_json": (q_catalog_args_json, _catalog_args_sql()),
    # dedup
    "distinct_sketch": (q_distinct_sketch, SQL_DISTINCT_SKETCH),
    "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "ngram_jaccard_top_pairs": (q_ngram_top_pairs, SQL_NGRAM_PAIRS),
    "minhash_lsh_buckets": (q_minhash_buckets, _minhash_sql()),
    "simhash16": (q_simhash, _simhash_sql()),
    # similarity
    "emb_cosine_topk": (q_emb_topk, SQL_EMB_TOPK),
    "incremental_ivf": (q_incremental_ivf, SQL_INCR_IVF),
    "near_dup_pairs": (q_near_dup_pairs, _near_dup_sql()),
    "dup_clusters": (q_dup_clusters, _dup_clusters_sql()),
    "corpus_curation": (q_corpus_curation, _curation_sql()),
    "dataset_split": (q_dataset_split, SQL_DATASET_SPLIT),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "ann_topk_lsh": (q_ann_topk_lsh, _ann_topk_lsh_sql()),
    # temporal / profiling
    "asof_enrich": (q_asof_enrich, SQL_ASOF_ENRICH),
    "asof_enrich_fwd": (q_asof_enrich_fwd, SQL_ASOF_ENRICH_FWD),
    "session_stats": (q_session_stats, SQL_SESSION_STATS),
    "scd2_intervals": (q_scd2_intervals, SQL_SCD2_INTERVALS),
    "sample_k_per_lang": (q_sample_k_per_lang, SQL_SAMPLE_K),
    "key_skew": (q_key_skew, SQL_KEY_SKEW),
    "value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    "group_percentiles": (q_group_percentiles, SQL_GROUP_PERCENTILES),
    "redact_pii": (q_redact_pii, SQL_REDACT_PII),
    "ngram_containment": (q_ngram_containment, SQL_NGRAM_CONTAINMENT),
    # ---- position 51+ (outside the driver's 50-query window); crosscheck.py
    # keeps every entry below honest. Each has an in-window sibling verifying
    # the same operator and was triple-green in CORRECTNESS_r04.
    # json_props_decode's get_json_object decode of events.props runs
    # in-window inside catalog_args_json (the same U4 family)
    "json_props_decode": (q_json_props, SQL_JSON),
    "asof_enrich_bucketed": (q_asof_enrich_bucketed, SQL_ASOF_ENRICH),
    "pack_stats": (q_pack_stats, SQL_PACK_STATS),
    "kmv_overlap": (q_kmv_overlap, SQL_KMV_OVERLAP),
    "emb_top_pairs": (q_emb_top_pairs, SQL_EMB_PAIRS),
    "ann_lsh_buckets": (q_ann_buckets, _ann_buckets_sql()),
    "ivf_assign": (q_ivf_assign, SQL_IVF_ASSIGN),
    "winnow_overlap_pairs": (q_winnow_overlap, _winnow_sql()),
    # doc_fingerprint's operator (text.fingerprint) is exercised in-window
    # inside incremental_curation's exact-dedup stage and by exact_dedup
    "doc_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
}

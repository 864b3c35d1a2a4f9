"""Text-analysis operators for training-data pipelines.

These are the document-table analogs of the reference's per-row typed
transform (extractor_transformer/src/sonic_config/transformation/common.rs):
pure column expressions, JVM-side, whole-stage-codegen friendly — no Python
in the hot path. Each operator is usable standalone and is exposed through
``__spark_entry__.queries()`` with a DuckDB oracle.

Scale notes (100 TB): every function here is a narrow map — no shuffle, no
UDF, so it runs at parquet scan speed and parallelizes embarrassingly. The
only wide op in this module is ``language_id``'s none (it is also narrow).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# deterministic marker lexicons for the n-gram/stopword language heuristic.
# (The reference's analog of a static decode catalog: events/erc.rs:13-187 —
# a fixed table of signatures compiled into the engine.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "value", "fast"],
    "de": ["der", "und", "nicht", "ist"],
    "fr": ["le", "et", "les", "des"],
    "es": ["el", "y", "los", "las"],
    "zh": ["de", "shi", "bu", "le"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# BPE-ish tokenizer regex: runs of letters, runs of digits, or single
# non-alphanumeric-non-space chars (a common pre-tokenization split).
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def words(col: Column) -> Column:
    """Whitespace tokens (empty-string safe)."""
    return F.split(F.trim(col), " +")


def word_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(words(col))
    )


def token_count_regex(col: Column) -> Column:
    """Token count under the BPE-ish regex split."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0))


def stopword_ratio(col: Column, stopwords: list[str] = STOPWORDS) -> Column:
    """Fraction of whitespace tokens that are stopwords, 4dp."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_sw = F.size(F.filter(words(col), lambda w: F.array_contains(sw, w)))
    return F.round(n_sw / F.greatest(word_count(col), F.lit(1)), 4)


def avg_word_len(col: Column) -> Column:
    """Mean token length, 4dp: (chars excluding spaces) / word_count."""
    chars = F.length(F.regexp_replace(col, " ", ""))
    return F.round(chars / F.greatest(word_count(col), F.lit(1)), 4)


def normalized(col: Column) -> Column:
    """Lower-cased, trimmed, single-spaced text: the form fingerprints hash."""
    return F.regexp_replace(F.lower(F.trim(col)), " +", " ")


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space, 4dp."""
    n_punct = F.length(F.regexp_replace(col, "[a-zA-Z0-9 ]", ""))
    return F.round(n_punct / F.greatest(F.length(col), F.lit(1)), 4)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality scoring features (length / punct / stopword)."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars_actual"),
        word_count(t).alias("n_words"),
        avg_word_len(t).alias("avg_word_len"),
        stopword_ratio(t).alias("stopword_ratio"),
        punct_ratio(t).alias("punct_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-lexicon language ID.

    Scores each language by the count of its marker words among the
    document's tokens; predicts the max-scoring language, ties broken by
    language code ascending, all-zero → 'unknown'. Deterministic by
    construction so the DuckDB oracle can reproduce it exactly.
    """
    t = F.col(text_col)
    w = words(t)
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        score = F.size(F.filter(w, lambda x: F.array_contains(markers, x)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # max_by over (score, -lang) — implement tie-break as min lang among max
    # score via array sort: sort by score desc then lang asc, take first.
    arr = F.array(*scores)
    best = F.array_sort(
        arr,
        lambda a, b: F.when(a["score"] > b["score"], F.lit(-1))
        .when(a["score"] < b["score"], F.lit(1))
        .when(a["lang"] < b["lang"], F.lit(-1))
        .when(a["lang"] > b["lang"], F.lit(1))
        .otherwise(F.lit(0)),
    )[0]
    return df.select(
        "doc_id",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown")).alias(
            "lang_pred"
        ),
        best["score"].alias("marker_hits"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: sha256 + md5-64 of whitespace-normalized text.

    The content-hash invariant of the engine (BASELINE.json input_hint:
    per-row content sha256 equality) applied to the documents table.
    """
    norm = normalized(F.col(text_col))
    return df.select(
        "doc_id",
        F.sha2(norm, 256).alias("fp_sha256"),
        F.substring(F.md5(norm), 1, 16).alias("fp_md5_64"),
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing fingerprints (the MOSS rolling-hash scheme): hash every
    char ``k``-gram, keep the MINIMUM hash of each ``w``-wide window, dedup.

    Guarantees of the scheme: any shared substring of length ≥ ``k + w - 1``
    contributes at least one shared fingerprint, while only ~2/(w+1) of all
    k-gram hashes are kept — position-robust partial-overlap detection at a
    fraction of the shingle volume. Fixed-width hex md5 prefixes keep
    hash-min == lexicographic-min so the DuckDB oracle reproduces it
    exactly (same convention as the MinHash signatures).

    All column expressions (sequence/transform/slice/array_min/explode) —
    no UDF; output (doc_id, fp) rows.
    """
    from sonic_etl_spark.operators.dedup import _fanout

    norm = normalized(F.col(text_col))
    n_kgrams = F.length(norm) - (k - 1)
    # STAGED: the k-gram hash array is materialized by its own projection so
    # the window pass slices a bound column. Referencing the transform
    # expression from inside the second lambda would re-inline (and
    # re-evaluate) the whole hash array once PER WINDOW — O(len²) md5s, the
    # same expression-duplication trap as the codec withColumn chains
    # (measured 83s → 3s on sf0.01 documents).
    hashed = _fanout(df).select(
        "doc_id",
        F.length(norm).alias("_len"),
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_kgrams, F.lit(1))),
            lambda i: F.substring(F.md5(norm.substr(i, F.lit(k))), 1, 15),
        ).alias("_hs"),
    )
    hs = F.col("_hs")
    mins = F.transform(
        F.sequence(F.lit(1), F.size(hs) - (w - 1)),
        lambda j: F.array_min(F.slice(hs, j, w)),
    )
    # guard: sequence(1, n<1) counts DOWN (same pitfall as dedup.shingles) —
    # a doc shorter than k+w-1 chars has no full window and yields no rows
    fps = F.when(
        F.col("_len") < (k + w - 1), F.array().cast("array<string>")
    ).otherwise(F.array_distinct(mins))
    return hashed.select("doc_id", F.explode(fps).alias("fp")).distinct()


def winnow_overlap_pairs(
    df: DataFrame, text_col: str = "text", k: int = 5, w: int = 4,
    top_k: int | None = 20, max_doc_freq: int = 1000,
) -> DataFrame:
    """Partial-overlap detection: pairs ranked by shared winnowing
    fingerprints. Same scale shape as the shingle Jaccard join — candidates
    only materialize where fingerprints collide, with the same df-cap
    guarding corpus-wide stop-fingerprints."""
    fp = winnow_fingerprints(df, text_col, k, w)
    hot = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_doc_freq)
        .select("fp")
    )
    fp = fp.join(F.broadcast(hot), "fp", "left_anti")
    a, b = fp.alias("a"), fp.alias("b")
    pairs = (
        a.join(b, on="fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    if top_k is not None:
        pairs = pairs.orderBy(F.desc("n_shared"), "doc_a", "doc_b").limit(top_k)
    return pairs


# PII redaction patterns — deliberately conservative, and written in the
# common subset of Java regex (Spark) and RE2 (DuckDB) so the oracle replays
# the exact same semantics. Order matters and is part of the contract:
# URL → EMAIL → IP (an email inside a URL is redacted once, as a URL).
PII_URL = r"https?://[^\s]+"
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub URLs, emails and IPv4s (training-corpus decontamination step):
    adds ``text_redacted`` + per-class match counts (BIGINT).

    Counts are taken on the text AS EACH STAGE SEES IT (URL count on the
    original, email count on the URL-redacted text, ...), so overlapping
    matches are attributed to exactly one class. Narrow map, no UDF; each
    staged regex is referenced from one projection (whole-stage CSE
    evaluates it once per row).
    """
    t0 = F.col(text_col)
    st1 = df.select(
        "*",
        F.size(F.regexp_extract_all(t0, F.lit(PII_URL), 0)).cast("long").alias("n_urls"),
        F.regexp_replace(t0, PII_URL, "<URL>").alias("_t1"),
    )
    st2 = st1.select(
        "*",
        F.size(F.regexp_extract_all(F.col("_t1"), F.lit(PII_EMAIL), 0)).cast("long").alias("n_emails"),
        F.regexp_replace(F.col("_t1"), PII_EMAIL, "<EMAIL>").alias("_t2"),
    )
    return st2.select(
        "*",
        F.size(F.regexp_extract_all(F.col("_t2"), F.lit(PII_IP), 0)).cast("long").alias("n_ips"),
        F.regexp_replace(F.col("_t2"), PII_IP, "<IP>").alias("text_redacted"),
    ).drop("_t1", "_t2")


def ngram_containment(
    df: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination check: per document, the fraction of its
    distinct word ``n``-grams that appear ANYWHERE in the probe corpus
    (the held-out eval set). Output: (id, n_ngrams, n_matched, containment
    [round 4]); documents shorter than ``n`` words are excluded.

    Scale shape: the probe set is eval-suite sized (≪ corpus), so its
    distinct n-gram hashes BROADCAST; the corpus side is one explode +
    broadcast-hash semi-probe + one groupBy(id) — the corpus is never
    shuffled by n-gram. N-grams join on 15-hex md5 prefixes (portable to
    the SQL oracle; 60-bit collisions are noise at eval-set scale).
    """
    def grams(frame: DataFrame, keep_id: bool) -> DataFrame:
        w = words(F.col(text_col))
        staged = frame.select(
            *( [F.col(id_col)] if keep_id else [] ),
            F.when(F.size(w) >= n, w).alias("_w"),
        ).where(F.col("_w").isNotNull())
        g = F.transform(
            F.sequence(F.lit(1), F.size(F.col("_w")) - (n - 1)),
            lambda i: F.substring(
                F.md5(F.concat_ws(" ", F.slice(F.col("_w"), i, n))), 1, 15
            ),
        )
        cols = ([F.col(id_col)] if keep_id else []) + [
            F.explode(F.array_distinct(g)).alias("gram")
        ]
        return staged.select(*cols)

    probe_grams = grams(probe, keep_id=False).distinct()
    doc_grams = grams(df, keep_id=True)
    hit = F.broadcast(probe_grams.withColumn("_hit", F.lit(1)))
    joined = doc_grams.join(hit, "gram", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_matched"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_matched",
            F.round(F.col("n_matched") / F.col("n_ngrams"), 4).alias("containment"),
        )
    )

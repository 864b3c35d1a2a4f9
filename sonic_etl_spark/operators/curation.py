"""End-to-end corpus curation: the composed training-data pipeline.

One operator chaining the engine's LLM-pipeline stages the way a real
pretraining-corpus build does — each stage is an already-verified operator,
this module only composes them:

1. **quality gate** — drop documents below a word-count floor or above a
   punctuation ceiling (``operators.text.quality_features``);
2. **exact dedup** — keep the smallest doc_id per normalized-content
   fingerprint (``operators.text.fingerprint``; one shuffle on the hash);
3. **near-dup dedup** — hyperplane-LSH candidate pairs over the survivors'
   embeddings → connected components → keep the smallest member
   (``operators.similarity.near_dup_pairs`` +
   ``operators.dedup.dedup_keep_canonical``);
4. **corpus stats** — per predicted language (``operators.text.language_id``):
   surviving doc count and total whitespace tokens.

Scale shape: stages 1-2 are narrow maps plus one hash shuffle; stage 3 is
the bucketed pair path (never all-pairs) over an already-filtered corpus;
stage 4 is a narrow map + one small aggregation. Nothing here collects data
rows to the driver.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sonic_etl_spark.operators import dedup as dedup_ops
from sonic_etl_spark.operators import similarity as sim_ops
from sonic_etl_spark.operators import text as text_ops


def curate_corpus(
    docs: DataFrame,
    emb: DataFrame | None = None,
    *,
    min_words: int = 5,
    max_punct_ratio: float = 0.3,
    near_dup_threshold: float = 0.2,
    near_dup_on: str = "embedding",
    text_jaccard_threshold: float = 0.6,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    return_docs: bool = False,
) -> DataFrame:
    """Curated per-language corpus stats
    (lang_pred, n_docs, total_tokens) — or, with ``return_docs=True``, the
    curated DOCUMENTS themselves (original columns, survivors only): the
    frame a pipeline actually writes out as its training corpus.

    ``near_dup_on``: 'embedding' (default) finds near-dup pairs through
    the hyperplane-LSH bucket join over ``emb``; 'text' needs no
    embeddings — it uses the df-capped shingle-Jaccard join over the
    documents themselves (pairs with Jaccard ≥ ``text_jaccard_threshold``).
    Both paths feed the same connected-component canonical-keep."""
    q = text_ops.quality_features(docs)
    survivors = docs.join(
        q.select(id_col, "n_words", "punct_ratio"), id_col
    ).where(
        (F.col("n_words") >= min_words)
        & (F.col("punct_ratio") <= max_punct_ratio)
    )

    fp = text_ops.fingerprint(survivors)
    keep_exact = fp.groupBy("fp_sha256").agg(F.min(id_col).alias(id_col))
    survivors = survivors.join(keep_exact.select(id_col), id_col)

    if near_dup_on == "embedding":
        if emb is None:
            raise ValueError(
                "near_dup_on='embedding' needs an embeddings frame; "
                "pass emb= or use near_dup_on='text'"
            )
        surv_emb = emb.join(
            survivors.select(F.col(id_col).alias(emb_id_col)), emb_id_col
        )
        pairs = sim_ops.near_dup_pairs(surv_emb, threshold=near_dup_threshold)
    elif near_dup_on == "text":
        pairs = dedup_ops.ngram_jaccard_pairs(
            survivors, threshold=text_jaccard_threshold
        ).select(
            F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
        )
    else:
        raise ValueError("near_dup_on must be 'embedding' or 'text'")
    final = dedup_ops.dedup_keep_canonical(survivors, pairs, id_col=id_col)

    if return_docs:
        return final.select(*docs.columns)

    lang = text_ops.language_id(final)
    toks = final.select(
        id_col, text_ops.word_count(F.col("text")).cast("long").alias("n_toks")
    )
    return (
        final.select(id_col)
        .join(lang, id_col)
        .join(toks, id_col)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
    )


# 2^60 — split thresholds live in the 60-bit md5-prefix hash space (the same
# portable hash as operators.sketch; exact integer literals on both engines)
_TWO_POW_60 = 1 << 60


def _split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(name, exclusive upper bound in hash space) per split, cumulative in
    the dict's insertion order; weights are normalized so any positive
    numbers work (98/1/1 == 0.98/0.01/0.01). Computed ONCE driver-side and
    embedded as integer literals in both engines' expressions — no
    cross-engine float rounding can disagree."""
    if not weights:
        raise ValueError("split_dataset: weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"split_dataset: weights must be positive, got {weights}")
    total = float(sum(weights.values()))
    out, acc = [], 0.0
    for name, w in weights.items():
        acc += w / total
        out.append((name, int(acc * _TWO_POW_60)))
    out[-1] = (out[-1][0], _TWO_POW_60)  # exact cover of the hash space
    return out


def _split_hash(id_col: str, seed: str) -> F.Column:
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")


def split_dataset(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every training
    pipeline needs, as a pure column function (no sampling state, no RNG).

    Each row's split is a function of (seed, id) ONLY: stable across runs,
    partitioning, cluster size, and row order; disjoint and exhaustive by
    construction (cumulative thresholds partition the 60-bit hash space);
    changing ``seed`` re-rolls the whole assignment, changing nothing else.
    A narrow map — zero shuffles, zero actions — so it composes anywhere in
    a pipeline at any scale. md5-based like the engine's other portable
    hashes, so a DuckDB oracle replays the assignment bit-for-bit
    (:func:`split_dataset_sql`).
    """
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    h = _split_hash(id_col, seed)
    expr = None
    for name, bound in _split_thresholds(weights):
        cond = h < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def split_dataset_sql(
    table: str,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "split-v1",
) -> str:
    """DuckDB mirror of :func:`split_dataset` (same hash, same thresholds)."""
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    h = (
        "CAST(CAST(('0x' || substr(md5('"
        + seed
        + f":' || CAST({id_col} AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
    )
    cases = " ".join(
        f"WHEN {h} < {bound} THEN '{name}'"
        for name, bound in _split_thresholds(weights)
    )
    return f"SELECT *, CASE {cases} END AS split FROM {table}"


PACK_SCHEMA = (
    "doc_id bigint, pack_group int, pack_index bigint, pack_offset bigint, "
    "n_tokens bigint"
)


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_groups: int | None = None,
    seed: str = "pack-v1",
) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed-token-budget
    training sequences ("packs"), the step that turns a curated corpus into
    padded-batch-free pretraining samples.

    Global greedy packing is inherently sequential, so the distributed
    formulation shards first: every doc hashes to one of ``n_groups`` pack
    groups (same seeded 60-bit md5 hash as :func:`split_dataset` — the
    shard AND the in-shard order are pure functions of (seed, id), so the
    result is identical at any partitioning or cluster size). Within a
    group, docs are packed first-fit-in-hash-order by one Arrow-batched
    ``applyInPandas`` pass: a doc joins the current pack unless that would
    exceed ``budget``, else it starts the next pack. Sharding costs one
    shuffle and loses at most one partial pack per group vs the sequential
    ideal — negligible waste for n_groups ≪ n_docs/docs-per-pack.

    Memory model: each group's pandas frame holds corpus/n_groups rows of
    FOUR long columns (doc_id, n_tokens, pack_group, _ord — the text never
    enters pandas), ~32 bytes/row plus Arrow overhead. ``n_groups=None``
    (default) derives ``max(2 × defaultParallelism, 64)`` so the per-group
    frame shrinks as the cluster grows; a 10^10-doc corpus should pass
    ``n_groups >= n_docs / 10^8`` explicitly (~32 GB of longs per group is
    the ceiling you are sizing against). NOTE the assignment is a pure
    function of (seed, id, n_groups) — the DERIVED default varies with
    cluster size, so pin ``n_groups`` explicitly whenever byte-identical
    packs across cluster sizes matter (the curate job and the driver gate
    both do).

    A doc longer than ``budget`` gets a pack of its own (the only packs
    that can exceed budget — truncation is the tokenizer's job, not the
    packer's). ``token_col`` uses a precomputed length column; default
    counts whitespace tokens of ``text_col`` (same expression as the
    token-count operator, so the oracle can replay it).

    Output, one row per doc: (doc_id, pack_group, pack_index within group,
    pack_offset tokens before this doc in its pack, n_tokens).
    """
    import pandas as pd

    from sonic_etl_spark.operators.text import word_count

    if budget <= 0:
        raise ValueError(f"pack_sequences: budget must be positive, got {budget}")
    if n_groups is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        n_groups = max(2 * par, 64)
        warnings.warn(
            f"pack_sequences: derived n_groups={n_groups} from defaultParallelism="
            f"{par}; pack assignment then depends on cluster size, so pass "
            "n_groups explicitly for packs that match across clusters",
            stacklevel=2,
        )
    if n_groups <= 0:
        raise ValueError(f"pack_sequences: n_groups must be positive, got {n_groups}")
    toks = (
        F.col(token_col) if token_col is not None else word_count(F.col(text_col))
    )
    h = _split_hash(id_col, seed)
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        toks.cast("long").alias("n_tokens"),
        F.pmod(h, F.lit(n_groups)).cast("int").alias("pack_group"),
        h.alias("_ord"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_ord", "doc_id"], kind="mergesort")
        pack_index, pack_offset = [], []
        idx, filled = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if filled > 0 and filled + n > budget:
                idx += 1
                filled = 0
            pack_index.append(idx)
            pack_offset.append(filled)
            filled += n
        out = pdf[["doc_id", "pack_group", "n_tokens"]].copy()
        out["pack_index"] = pd.Series(pack_index, index=pdf.index, dtype="int64")
        out["pack_offset"] = pd.Series(pack_offset, index=pdf.index, dtype="int64")
        return out[
            ["doc_id", "pack_group", "pack_index", "pack_offset", "n_tokens"]
        ]

    return base.groupBy("pack_group").applyInPandas(pack, PACK_SCHEMA)


def pack_stats(
    packed: DataFrame,
    budget: int,
) -> DataFrame:
    """Packing-efficiency report over a :func:`pack_sequences` assignment —
    the number a pipeline owner actually looks at before training: how full
    the fixed-budget sequences are and how much compute padding would waste.

    One row per ``pack_group``: ``n_packs``, ``n_docs``, ``total_tokens``,
    ``waste_tokens`` (budget minus fill, summed over packs that are UNDER
    budget — the padding a trainer must insert), ``oversize_packs`` (packs
    exceeding budget, i.e. single docs longer than the budget — the
    truncation workload), and ``util_pct`` (total fill / total capacity,
    rounded to 4dp).

    Two tiny aggregations: packs per (group, index) — same key prefix the
    packer already grouped by — then groups. Output is O(n_groups) rows;
    nothing here depends on corpus size beyond the first shuffle.
    """
    if budget <= 0:
        raise ValueError(f"pack_stats: budget must be positive, got {budget}")
    per_pack = packed.groupBy("pack_group", "pack_index").agg(
        F.sum("n_tokens").alias("pack_tokens"),
        F.count(F.lit(1)).alias("pack_docs"),
    )
    b = F.lit(budget)
    return (
        per_pack.groupBy("pack_group")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("pack_docs").alias("n_docs"),
            F.sum("pack_tokens").alias("total_tokens"),
            F.sum(F.greatest(b - F.col("pack_tokens"), F.lit(0))).alias(
                "waste_tokens"
            ),
            F.sum(
                F.when(F.col("pack_tokens") > b, F.lit(1)).otherwise(F.lit(0))
            ).alias("oversize_packs"),
        )
        .withColumn(
            "util_pct",
            F.round(
                F.col("total_tokens") / (F.col("n_packs") * b).cast("double"), 4
            ),
        )
    )


def pack_stats_sql(
    table: str,
    budget: int,
    n_groups: int = 64,
    seed: str = "pack-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`pack_sequences` → :func:`pack_stats`
    composed (the packing subquery is :func:`pack_sequences_sql` verbatim,
    so any greedy-scan divergence fails this gate too)."""
    inner = pack_sequences_sql(
        table, budget, n_groups=n_groups, seed=seed,
        id_col=id_col, text_col=text_col,
    )
    return f"""
SELECT pack_group, CAST(count(*) AS BIGINT) AS n_packs,
       CAST(sum(pack_docs) AS BIGINT) AS n_docs,
       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(greatest({budget} - pack_tokens, 0)) AS BIGINT) AS waste_tokens,
       CAST(sum(CASE WHEN pack_tokens > {budget} THEN 1 ELSE 0 END) AS BIGINT)
           AS oversize_packs,
       round(sum(pack_tokens) / (count(*) * CAST({budget} AS DOUBLE)), 4)
           AS util_pct
FROM (
  SELECT pack_group, pack_index,
         CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         CAST(count(*) AS BIGINT) AS pack_docs
  FROM ({inner}) _packed
  GROUP BY pack_group, pack_index) _per_pack
GROUP BY pack_group
"""


def sample_stratified(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: str = "sample-v1",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the "10% of English, all of
    the low-resource languages" step of a corpus mix, as a pure column
    filter (no RNG state, no ``sample()`` nondeterminism).

    A row survives iff its seeded 60-bit md5 hash (same portable hash as
    :func:`split_dataset`) falls below ``rate × 2^60`` for its stratum;
    strata missing from ``rates`` use ``default_rate``. Like the split,
    membership is a pure function of (seed, id): stable across runs,
    partitioning and cluster size, and — because the hash is shared with
    ``split_dataset`` under a DIFFERENT seed namespace — uncorrelated with
    split assignment. A narrow filter, zero shuffles; thresholds are
    integer literals computed once driver-side so the DuckDB mirror
    (:func:`sample_stratified_sql`) replays membership bit-for-bit.
    """
    thresholds = _sample_thresholds(rates, default_rate)
    h = _split_hash(id_col, seed)
    expr = None
    for name, bound in thresholds.items():
        cond = F.col(stratum_col) == F.lit(name)
        expr = F.when(cond, F.lit(bound)) if expr is None else expr.when(
            cond, F.lit(bound)
        )
    default_bound = _rate_to_bound(default_rate, "default_rate")
    bound_col = (
        F.lit(default_bound) if expr is None else expr.otherwise(default_bound)
    )
    return df.where(h < bound_col)


def mix_rates(
    token_counts: dict[str, int],
    target_tokens: int,
    temperature: float = 1.0,
) -> dict[str, float]:
    """Per-stratum keep RATES that hit a total token budget under a
    temperature-reweighted mix — the multilingual-sampling step (p_l ∝
    n_l^τ; τ < 1 upweights low-resource strata, τ = 1 is proportional,
    τ = 0 an equal split). Feed the result straight into
    :func:`sample_stratified`.

    Water-filling: a stratum whose share exceeds what it HAS caps at rate
    1.0 and its unused budget is redistributed over the remaining strata
    (iterated to fixpoint — at most one stratum leaves per round), so the
    expected kept tokens equal ``min(target_tokens, total_tokens)`` rather
    than silently undershooting. Pure driver-side arithmetic on the
    (tiny) per-stratum count dict — deterministic, no data pass; get the
    counts from one groupBy (e.g. token_count + groupBy(lang).sum()).
    """
    if target_tokens <= 0:
        raise ValueError(f"mix_rates: target_tokens must be positive, got {target_tokens}")
    if temperature < 0:
        raise ValueError(f"mix_rates: temperature must be >= 0, got {temperature}")
    counts = {k: int(v) for k, v in token_counts.items() if v > 0}
    if not counts:
        return {}
    rates = {k: 1.0 for k in counts}
    budget = float(target_tokens)
    open_set = set(counts)
    while open_set and budget > 0:
        weights = {k: counts[k] ** temperature for k in open_set}
        total_w = sum(weights.values())
        capped = []
        for k in sorted(open_set):  # sorted: deterministic tie handling
            want = budget * weights[k] / total_w
            if want >= counts[k]:
                capped.append(k)
        if not capped:
            for k in open_set:
                rates[k] = (budget * weights[k] / total_w) / counts[k]
            break
        for k in capped:
            rates[k] = 1.0
            budget -= counts[k]
            open_set.discard(k)
    else:
        for k in open_set:
            rates[k] = 0.0
    return rates


def sample_k_per_stratum(
    df: DataFrame,
    k: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "samplek-v1",
) -> DataFrame:
    """Exactly min(k, stratum size) rows per stratum, deterministically:
    rank rows within each stratum by their seeded 60-bit md5 hash (the
    same portable hash as :func:`split_dataset`, its own seed namespace —
    uncorrelated with split/sample/pack assignment) and keep the k
    smallest. The eval-set constructor: "50 docs per language, stable
    across runs and clusters".

    Unlike :func:`sample_stratified` (rate-based, size varies with the
    stratum), membership here depends on the stratum's OTHER members, so
    it costs one shuffle (window per stratum) instead of zero — rank by
    (hash, id) so ties are impossible and the pick is total-order stable.
    """
    if k <= 0:
        raise ValueError(f"sample_k_per_stratum: k must be positive, got {k}")
    from pyspark.sql.window import Window

    h = _split_hash(id_col, seed)
    w = Window.partitionBy(stratum_col).orderBy(
        h.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def sample_k_per_stratum_sql(
    table: str,
    k: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "samplek-v1",
) -> str:
    """DuckDB mirror of :func:`sample_k_per_stratum` (same md5 rank)."""
    h = (
        "CAST(CAST(('0x' || substr(md5('"
        + seed
        + f":' || CAST({id_col} AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
    )
    return f"""
SELECT * EXCLUDE (_rk) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {stratum_col} ORDER BY {h}, {id_col}
  ) AS _rk
  FROM {table}
) WHERE _rk <= {k}
"""


def _rate_to_bound(rate: float, what: str) -> int:
    if not (0.0 <= rate <= 1.0):
        raise ValueError(f"sample_stratified: {what} must be in [0,1], got {rate}")
    return int(round(rate * _TWO_POW_60))


def _sample_thresholds(
    rates: dict[str, float], default_rate: float
) -> dict[str, int]:
    if not rates:
        raise ValueError("sample_stratified: rates must be non-empty")
    return {name: _rate_to_bound(r, f"rates[{name!r}]") for name, r in rates.items()}


def sample_stratified_sql(
    table: str,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: str = "sample-v1",
) -> str:
    """DuckDB mirror of :func:`sample_stratified` (same hash, same integer
    thresholds)."""
    thresholds = _sample_thresholds(rates, default_rate)
    h = (
        "CAST(CAST(('0x' || substr(md5('"
        + seed
        + f":' || CAST({id_col} AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
    )
    cases = " ".join(
        f"WHEN {stratum_col} = '{name}' THEN CAST({bound} AS BIGINT)"
        for name, bound in thresholds.items()
    )
    default_bound = _rate_to_bound(default_rate, "default_rate")
    return (
        f"SELECT * FROM {table} WHERE {h} < "
        f"(CASE {cases} ELSE CAST({default_bound} AS BIGINT) END)"
    )


def pack_sequences_sql(
    table: str,
    budget: int,
    n_groups: int = 64,
    seed: str = "pack-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`pack_sequences` (default whitespace tokens):
    the greedy scan is a recursive CTE stepping one row per group per
    iteration — all groups advance in parallel, so recursion depth is the
    LARGEST group, not the corpus."""
    h = (
        "CAST(CAST(('0x' || substr(md5('"
        + seed
        + f":' || CAST({id_col} AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
    )
    ntok = (
        f"CASE WHEN length(trim({text_col})) = 0 THEN 0 "
        f"ELSE len(string_split_regex(trim({text_col}), ' +')) END"
    )
    return f"""
WITH RECURSIVE _pk_base AS (
  SELECT {id_col} AS doc_id, CAST({ntok} AS BIGINT) AS n_tokens,
         CAST({h} % {n_groups} AS INTEGER) AS pack_group, {h} AS _ord
  FROM {table}),
_pk_t AS (
  SELECT *, row_number() OVER (
      PARTITION BY pack_group ORDER BY _ord, doc_id) AS rn
  FROM _pk_base),
_pk_rec(pack_group, rn, doc_id, n_tokens, pack_index, pack_offset, filled) AS (
  SELECT pack_group, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tokens
  FROM _pk_t WHERE rn = 1
  UNION ALL
  SELECT t.pack_group, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN r.filled > 0 AND r.filled + t.n_tokens > {budget}
              THEN r.pack_index + 1 ELSE r.pack_index END,
         CASE WHEN r.filled > 0 AND r.filled + t.n_tokens > {budget}
              THEN 0 ELSE r.filled END,
         CASE WHEN r.filled > 0 AND r.filled + t.n_tokens > {budget}
              THEN t.n_tokens ELSE r.filled + t.n_tokens END
  FROM _pk_rec r JOIN _pk_t t
    ON t.pack_group = r.pack_group AND t.rn = r.rn + 1)
SELECT doc_id, pack_group, pack_index, pack_offset, n_tokens FROM _pk_rec
"""

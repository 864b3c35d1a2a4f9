"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline dedup over the ``documents`` table, Spark-first:

- **exact**: hash-groupBy on sha256(text) — one shuffle on the hash key.
- **n-gram Jaccard**: 3-word shingles → explode → self-join on shingle →
  |A∩B| / (|A|+|B|-|A∩B|). The shingle join is the scalable path: candidate
  pairs only materialize where shingles actually collide (vs. the O(n²)
  cross join a naive cosine/jaccard would need).
- **MinHash**: k portable hash functions H_j(s) = md5(j ':' s); the
  signature keeps the lexicographic min of the fixed-width hex digests
  (hex min == numeric min at fixed width, so the oracle can reproduce it
  without 128-bit ints). LSH bands group signature rows so that near-dups
  collide in ≥1 band bucket — the classic shingle→minhash→band→bucket-join.
- **SimHash**: 16-bit variant; bit b of a token's md5 is the high bit of hex
  nibble b, contribution ±1, document bit = sign of the sum. Portable to SQL
  (strpos into '89abcdef') so DuckDB can verify it.

Everything is built-in column functions — no Python UDFs — so at 100 TB the
only costs are the explode fan-out (bounded: ~n_words shingles/doc) and one
shuffle per groupBy. MinHash constants k=8, bands=4 keep signatures tiny;
raise k for tighter similarity estimates at scale.

Reference parity: the reference's dedup is key-based MERGE
(daily_qc_airflow/daily_dedupe_mainnet.py:26-81); content-similarity dedup is
the training-data extension required by the task brief.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

MINHASH_K = 8
LSH_BANDS = 4  # rows per band = MINHASH_K / LSH_BANDS = 2


def shingles(text_col: Column, n: int = 3) -> Column:
    """Word-level n-gram shingles as an array<string> (distinct not applied).

    Guarded for short docs: Spark's ``sequence(1, 0)`` counts *down*, so the
    < n-token case must return an empty array explicitly.
    """
    toks = F.split(F.trim(text_col), " +")
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
            ),
        )
    )


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: one row per distinct content hash."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_sha256"), "doc_id")
        .groupBy("content_sha256")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def _fanout(df: DataFrame) -> DataFrame:
    """Give an explode-heavy stage parallelism proportional to its OUTPUT.

    A small input (one parquet file → one task) serializes the ~n_words×
    per-row fan-out plus the per-shingle hashing onto a single core; the
    cheap pre-explode repartition buys full-cluster parallelism (measured
    9s → 0.85s for minhash at sf0.1 on local[32]). No-op when the input is
    already at least defaultParallelism partitions (the 100 TB case).

    The partition probe goes through the JVM plan directly (``_jdf.rdd()``)
    when available: plan-only, and skips ``DataFrame.rdd``'s Python-facing
    conversion wrapper. Falls back to the public accessor elsewhere (e.g.
    Spark Connect)."""
    sc = df.sparkSession.sparkContext
    jdf = getattr(df, "_jdf", None)
    n_in = (jdf.rdd() if jdf is not None else df.rdd).getNumPartitions()
    if n_in < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def doc_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) pairs, distinct — the join key for Jaccard/MinHash."""
    return (
        _fanout(df)
        .select("doc_id", F.explode(shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )


DEFAULT_MAX_DOC_FREQ = 1000


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", n: int = 3, top_k: int | None = None,
    threshold: float | None = None, max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Pairwise n-gram Jaccard similarity via shingle co-occurrence join.

    Returns (doc_a, doc_b, jaccard) for doc_a < doc_b. With ``top_k``, keeps
    the k most-similar pairs (ties broken by (doc_a, doc_b)); with
    ``threshold``, keeps pairs ≥ threshold.

    ``max_doc_freq`` caps shingle document-frequency BEFORE the self-join:
    a stop-shingle shared by 10^6 docs contributes 10^6² candidate rows to
    its bucket — quadratic blowup on exactly the shingles that carry no
    similarity signal (same reason the band buckets at
    :func:`lsh_band_buckets` stay uniform). Capped shingles are dropped
    from BOTH the intersection and the per-doc sizes, so the measure is the
    Jaccard of the capped shingle sets (consistent, deterministic; standard
    df-cut practice). None disables.
    """
    sh = doc_shingles(df, text_col, n)
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        # hot set is tiny by construction → broadcast anti-join, no shuffle
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_shingles", "sz_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_shingles", "sz_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    if threshold is not None:
        out = out.where(F.col("jaccard") >= threshold)
    if top_k is not None:
        out = (
            out.orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(top_k)
        )
    return out


def _minhash_cols(k: int = MINHASH_K) -> list[Column]:
    """k portable min-hash aggregate columns over an exploded shingle column."""
    return [
        F.min(F.substring(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle"))), 1, 15)).alias(
            f"mh{j}"
        )
        for j in range(k)
    ]


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """Per-doc MinHash signature (k fixed-width hex min-hashes)."""
    return doc_shingles(df, text_col, n).groupBy("doc_id").agg(*_minhash_cols(k))


def lsh_band_buckets(
    sig: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """(doc_id, band, bucket) rows: bucket = md5 of the band's signature slice.

    Emitted in ONE pass via an inline explode of (band, bucket) structs —
    a per-band union would re-evaluate the whole upstream minhash
    aggregation ``bands`` times (each union leg re-reads/aggregates the
    shingle relation; measured the dominant cost of the minhash query)."""
    rows_per_band = k // bands
    entries = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        entries.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bucket")
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("_e")
    ).select("doc_id", F.col("_e.band").alias("band"), F.col("_e.bucket").alias("bucket"))


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """MinHash-LSH near-dup candidates: pairs sharing ≥1 band bucket."""
    buckets = lsh_band_buckets(minhash_signatures(df, text_col))
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash16(df: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash over distinct whitespace tokens.

    bit b of token t = high bit of hex nibble b of md5(t); document bit b is
    1 iff sum over tokens of (2*bit - 1) > 0. Ties (sum == 0) → 0.
    """
    toks = (
        _fanout(df)
        .select("doc_id", F.explode(F.split(F.trim(F.col(text_col)), " +")).alias("tok"))
        .distinct()
        .withColumn("h", F.md5(F.col("tok")))
    )
    contribs = [
        F.sum(
            F.when(
                F.substring(F.col("h"), b + 1, 1).isin(list("89abcdef")), F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(16)
    ]
    agg = toks.groupBy("doc_id").agg(*contribs)
    sim = None
    for b in range(16):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def duplicate_clusters(
    pairs: DataFrame, a_col: str = "vec_a", b_col: str = "vec_b"
) -> DataFrame:
    """Near-duplicate PAIRS → duplicate CLUSTERS: connected components with
    cluster_id = the smallest member id (deterministic canonical label).

    The last mile of content dedup: pair finders (near_dup_pairs,
    ngram_jaccard, minhash buckets) emit edges; keeping one doc per
    connected component — not per pair — is what actually dedupes A~B~C
    chains. Components come from alternating large-star / small-star
    contraction (:func:`_cc_star`): O(log²n) rounds independent of
    component diameter, so a 400-node path converges as fast as a pair.

    The caller's pair lineage (often a similarity self-join) is evaluated
    ONCE: the ids are cast to ``(src, dst)`` and that frame is
    ``localCheckpoint``-ed before anything reads it, so the null check, the
    node set and the seed edge set all scan the materialized pairs.

    Output: (member_id, cluster_id) for every node that appears in a pair.
    Singletons never enter the edge list — see :func:`dedup_keep_canonical`
    for whole-corpus assignment.

    ids must be numeric (the long cast is what makes min() the canonical
    label and lets the DuckDB oracle replay it); a non-castable id would
    become NULL and downstream ``dedup_keep_canonical`` would then keep
    every document — so any null src/dst after the cast raises ValueError.
    """
    half = pairs.select(
        F.col(a_col).try_cast("long").alias("src"),
        F.col(b_col).try_cast("long").alias("dst"),
    ).localCheckpoint(eager=True)
    n_null = half.where(F.col("src").isNull() | F.col("dst").isNull()).count()
    if n_null:
        raise ValueError(
            f"duplicate_clusters: {n_null} pair(s) have null/non-numeric "
            f"ids after cast to long ({a_col}/{b_col}); numeric doc ids "
            "are required for min-label canonicalization"
        )
    return _cc_star(half)


def _cc_star(half: DataFrame, safety_cap: int = 64) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris, Lattanzi,
    Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce and
    Beyond", SoCC 2014) over a materialized ``(src, dst)`` frame: each round
    reattaches nodes to their neighborhood minimum, halving component
    height — O(log²n) rounds w.h.p. regardless of diameter.

    Per round (both stars are one groupBy-min + one equi-join on node id):

    - LARGE-STAR over the symmetrized edges: every node u computes
      m = min(Γ(u) ∪ {u}) and re-points its LARGER neighbors at m.
    - SMALL-STAR over max→min oriented edges: u re-points its smaller
      neighbors (and itself) at m.

    Edges stay max→min oriented by construction after a round, components
    shrink toward stars centered on their minimum; convergence = edge set
    unchanged (cheap (count, xor-of-hash) signature per round, confirmed
    with an exact exceptAll check before exiting). Each round's edge set is
    ``localCheckpoint``-ed, not merely cached: caching avoids recomputation
    but the LOGICAL plan still grows per round and OOMs the driver's plan
    tree past ~15 rounds; the checkpoint keeps the plan O(1). Superseded
    checkpoint blocks are dropped by Spark's ContextCleaner once the
    previous round's frame goes out of scope. ``safety_cap`` rounds is far
    above the O(log²n) bound; reaching it raises.

    Labels: in a converged forest of stars every member edge points at its
    component minimum; every endpoint of ``half`` is unioned back with a
    self label so no node can drop out of the answer (self-loop-only nodes
    included).
    """
    edges = (
        half.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(e: DataFrame):
        # xor-fold of row hashes: order-independent over the distinct edge
        # set and can't overflow (a sum of int64 hashes trips ANSI mode)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = signature(edges)
    for _ in range(safety_cap):
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # large-star: bigger neighbors v > u attach to u's minimum (v > u >= m,
        # so the emitted (v, m) pairs are already max->min oriented)
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star over the re-oriented result: smaller neighbors (and u
        # itself) attach to the minimum
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
        )
        new_edges = small.distinct().localCheckpoint(eager=True)
        new_sig = signature(new_edges)
        if new_sig == sig:
            # signatures are probabilistic — confirm exactly before exiting
            if (
                new_edges.exceptAll(edges).isEmpty()
                and edges.exceptAll(new_edges).isEmpty()
            ):
                edges = new_edges
                break
        edges, sig = new_edges, new_sig
    else:
        raise RuntimeError(
            f"_cc_star did not converge in {safety_cap} rounds — "
            "not expected for any input (bound is O(log^2 n)); file a bug"
        )
    labels = (
        edges.select(F.col("u").alias("id"), F.col("v").alias("label"))
        .union(half.select(F.col("src").alias("id"), F.col("src").alias("label")))
        .union(half.select(F.col("dst").alias("id"), F.col("dst").alias("label")))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    return labels.select(
        F.col("id").alias("member_id"), F.col("label").alias("cluster_id")
    )


def dedup_keep_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    a_col: str = "vec_a", b_col: str = "vec_b",
) -> DataFrame:
    """Whole-corpus dedup: keep exactly one representative per duplicate
    cluster (the smallest id), pass singletons through untouched.

    One left join of the corpus against the cluster map, which is
    broadcast: it holds only docs that appear in some pair, so it is small
    next to the corpus and the corpus is never shuffled for the join. A doc
    survives iff its id IS its cluster id (or it has no cluster). The
    dropped set is exactly "non-canonical members of some cluster"."""
    clusters = F.broadcast(duplicate_clusters(pairs, a_col, b_col))
    joined = df.join(
        clusters,
        df[id_col] == clusters["member_id"],
        "left",
    )
    keep = F.col("cluster_id").isNull() | (
        F.col("cluster_id") == F.col(id_col).cast("long")
    )
    return joined.where(keep).drop("member_id", "cluster_id")

"""Dedup operator unit tests (exact, shingles, Jaccard, MinHash, SimHash,
duplicate clusters)."""

import pyspark.sql.functions as F

from sonic_etl_spark.operators import dedup as dedup_ops


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "one two"), (2, "a b c d")])
    rows = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", dedup_ops.shingles(F.col("text")).alias("sh")
        ).collect()
    }
    assert rows[1] == []
    assert rows[2] == ["a b c", "b c d"]


def test_exact_duplicates_groups(spark):
    df = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    out = {r["keep_doc_id"]: r for r in dedup_ops.exact_duplicates(df).collect()}
    assert out[1]["n_docs"] == 2
    assert out[3]["n_docs"] == 1


def test_jaccard_identical_is_one(spark):
    df = _docs(
        spark,
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ops.ngram_jaccard_pairs(df).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) not in pairs  # no shared shingles → no candidate pair


def test_minhash_identical_docs_same_signature(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f"), (3, "q r s t u v")])
    sig = {r["doc_id"]: r for r in dedup_ops.minhash_signatures(df).collect()}
    for j in range(dedup_ops.MINHASH_K):
        assert sig[1][f"mh{j}"] == sig[2][f"mh{j}"]
    assert any(
        sig[1][f"mh{j}"] != sig[3][f"mh{j}"] for j in range(dedup_ops.MINHASH_K)
    )
    cand = {
        (r["doc_a"], r["doc_b"]) for r in dedup_ops.lsh_candidate_pairs(df).collect()
    }
    assert (1, 2) in cand


def test_simhash_deterministic_and_equal_for_dups(spark):
    df = _docs(spark, [(1, "merge into table"), (2, "merge into table")])
    out = {r["doc_id"]: r["simhash"] for r in dedup_ops.simhash16(df).collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < (1 << 16)
    # stable across runs (portable md5-based hashing, no RNG)
    out2 = {r["doc_id"]: r["simhash"] for r in dedup_ops.simhash16(df).collect()}
    assert out == out2


def test_jaccard_df_cap_bounds_hot_shingle_blowup(spark):
    """A stop-shingle shared by every doc must not make the self-join
    quadratic: with max_doc_freq it is cut from candidates AND sizes."""
    common = "the quick brown"  # one shingle all docs share
    rows = [(i, f"{common} unique{i} tail{i} end{i}") for i in range(30)]
    df = _docs(spark, rows)
    # uncapped: the shared shingle alone creates C(30,2)=435 candidate pairs
    uncapped = dedup_ops.ngram_jaccard_pairs(df, max_doc_freq=None)
    assert uncapped.count() == 435
    # capped at 10: the hot shingle is dropped; remaining shingles are
    # doc-unique, so NO candidate pairs survive
    capped = dedup_ops.ngram_jaccard_pairs(df, max_doc_freq=10)
    assert capped.count() == 0


def test_jaccard_df_cap_keeps_true_near_dups(spark):
    """Near-identical docs still pair under the cap (their shingles are
    rare); only corpus-wide stop-shingles are cut."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),  # near-dup of 1
    ] + [(i, f"filler{i} words{i} here{i} now{i}") for i in range(3, 20)]
    out = dedup_ops.ngram_jaccard_pairs(_docs(spark, rows), max_doc_freq=10)
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.4


def test_duplicate_clusters_components_and_chains(spark):
    """Pairs -> connected components: A~B~C chains collapse to one cluster
    labeled by the smallest member; disjoint components stay separate; a
    long chain (diameter 5) still converges."""
    pairs = spark.createDataFrame(
        # component {1,2,3} (chain), component {10,11}, chain 20..25
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24),
         (24, 25)],
        "vec_a bigint, vec_b bigint",
    )
    got = {
        r["member_id"]: r["cluster_id"]
        for r in dedup_ops.duplicate_clusters(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20, 24: 20, 25: 20,
    }


def test_dedup_keep_canonical_drops_non_representatives(spark):
    docs = _docs(spark, [(i, f"doc {i}") for i in range(6)])
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5)], "vec_a bigint, vec_b bigint"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_ops.dedup_keep_canonical(
            docs, pairs, id_col="doc_id"
        ).collect()
    )
    # cluster {0,3,5} keeps 0; singletons 1,2,4 pass through
    assert kept == [0, 1, 2, 4]


def test_duplicate_clusters_rejects_non_numeric_ids(spark):
    """String ids that don't cast to long, and NULL ids, must raise, not
    silently become NULL edges (which would make dedup_keep_canonical keep
    everything)."""
    import pytest

    for bad in ([("docA", "docB")], [("1", None)]):
        pairs = spark.createDataFrame(bad, "vec_a string, vec_b string")
        with pytest.raises(ValueError, match="non-numeric"):
            dedup_ops.duplicate_clusters(pairs)
    # numeric strings are fine — the cast is exact
    ok = spark.createDataFrame([("1", "2")], "vec_a string, vec_b string")
    got = {
        r["member_id"]: r["cluster_id"]
        for r in dedup_ops.duplicate_clusters(ok).collect()
    }
    assert got == {1: 1, 2: 1}


def test_duplicate_clusters_raises_past_max_iter(spark):
    """The contraction loop's round cap is a hard stop: a 26-node path
    cannot contract to a star in one round, so a cap of 1 RAISES (partial
    labels would silently under-dedup); the default cap converges to one
    component labeled 0."""
    import pytest

    half = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        dedup_ops._cc_star(half, safety_cap=1)
    got = {
        r["member_id"]: r["cluster_id"]
        for r in dedup_ops._cc_star(half).collect()
    }
    assert got == {i: 0 for i in range(26)}


def test_star_contraction_rejects_non_numeric_ids(spark):
    """One non-castable id among many valid pairs still raises before any
    contraction round runs, and the message counts the bad pairs."""
    import pytest

    pairs = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(30)] + [("7", "docB")],
        "vec_a string, vec_b string",
    )
    with pytest.raises(ValueError, match=r"1 pair\(s\) have null/non-num"):
        dedup_ops.duplicate_clusters(pairs)


def _hashmin_labels(edges):
    """Reference hash-min label propagation: every node starts as its own
    label and takes the smallest label among its neighbors until no label
    moves (one round per hop, so a path needs its diameter in rounds)."""
    label = {x: x for e in edges for x in e}
    moved = True
    while moved:
        moved = False
        for a, b in edges:
            m = min(label[a], label[b])
            for x in (a, b):
                if label[x] != m:
                    label[x], moved = m, True
    return label


def test_star_contraction_matches_hashmin_and_handles_deep_chains(spark):
    """Star contraction gives exactly the hash-min labels on a random graph
    and on a 400-node path whose ids are shuffled along the path, so every
    hop's neighbor minimum points a different way. Both graphs live in
    their own id blocks and are clustered in one call."""
    import random

    rng = random.Random(7)
    nodes = list(range(0, 120, 3))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    order = [10_000 + i for i in range(401)]
    rng.shuffle(order)
    edges += list(zip(order, order[1:]))
    pairs = spark.createDataFrame(edges, "vec_a bigint, vec_b bigint")
    got = {
        r["member_id"]: r["cluster_id"]
        for r in dedup_ops.duplicate_clusters(pairs).collect()
    }
    assert got == _hashmin_labels(edges)
    assert all(got[10_000 + i] == 10_000 for i in range(401))


def _union_find_labels(edges):
    """Reference components: each node -> smallest id in its component
    (union by smaller root keeps every root its component's minimum)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def test_duplicate_clusters_matches_union_find_and_handles_deep_chains(spark):
    """Labels equal a pure-Python union-find on seeded random graphs with
    self-loops and repeated (also reversed) edges, and on 26- and 400-node
    paths, whose diameter is far past any per-round propagation budget.
    Every graph lives in its own id block, so one call checks them all."""
    import random

    edges = []
    for seed in range(3):
        rng = random.Random(seed)
        base = seed * 1000
        nodes = [base + i for i in range(0, 120, 3)]
        g = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
        g += [(n, n) for n in rng.sample(nodes, 5)]  # self-loops
        g += [(b, a) for a, b in rng.sample(g, 20)] + rng.sample(g, 20)
        edges += g
    edges += [(5000 + i, 5000 + i + 1) for i in range(25)]  # path-26
    path400 = [(6000 + i, 6000 + i + 1) for i in range(400)]
    edges += path400[::2] + path400[1::2]  # path-400, interleaved order
    edges.append((9999, 9999))  # a node whose only pair is a self-loop
    pairs = spark.createDataFrame(edges, "vec_a bigint, vec_b bigint")
    got = {
        r["member_id"]: r["cluster_id"]
        for r in dedup_ops.duplicate_clusters(pairs).collect()
    }
    assert got == _union_find_labels(edges)
    assert all(got[5000 + i] == 5000 for i in range(26))
    assert all(got[6000 + i] == 6000 for i in range(401))
    assert got[9999] == 9999


def test_duplicate_clusters_reads_pairs_once(spark):
    """The caller's pair lineage (a similarity self-join in production) is
    evaluated exactly once: a Python UDF inside ``pairs`` counts the rows it
    sees, and after clustering and collecting the labels it has seen each
    pair once."""
    from pyspark.sql.types import LongType

    seen = spark.sparkContext.accumulator(0)

    def tap(x):
        seen.add(1)
        return x

    raw = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 3), (7, 7)]
    pairs = spark.createDataFrame(raw, "a bigint, b bigint").select(
        F.udf(tap, LongType())("a").alias("vec_a"), F.col("b").alias("vec_b")
    )
    got = dedup_ops.duplicate_clusters(pairs).collect()
    assert len(got) == 40
    assert seen.value == len(raw)

"""Text-analysis operator unit tests (quality, lang-id, fingerprint)."""

import hashlib

import pyspark.sql.functions as F

from sonic_etl_spark.operators import text as text_ops


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_quality_features(spark):
    df = _docs(spark, [(1, "the cat sat"), (2, "a b, c!")])
    out = {r["doc_id"]: r.asDict() for r in text_ops.quality_features(df).collect()}
    r1 = out[1]
    assert r1["n_chars_actual"] == 11
    assert r1["n_words"] == 3
    # chars excl spaces = 9; 9/3 = 3.0
    assert r1["avg_word_len"] == 3.0
    # 'the' is a stopword → 1/3
    assert r1["stopword_ratio"] == round(1 / 3, 4)
    assert r1["punct_ratio"] == 0.0
    r2 = out[2]
    assert r2["n_words"] == 3
    # ',' and '!' are punct among 7 chars
    assert r2["punct_ratio"] == round(2 / 7, 4)


def test_quality_empty_text(spark):
    df = _docs(spark, [(1, ""), (2, "   ")])
    rows = {r["doc_id"]: r.asDict() for r in text_ops.quality_features(df).collect()}
    assert rows[1]["n_words"] == 0
    assert rows[2]["n_words"] == 0
    assert rows[1]["stopword_ratio"] == 0.0


def test_language_id_markers_and_tiebreak(spark):
    df = _docs(
        spark,
        [
            (1, "der hund und die katze ist"),  # de markers
            (2, "xyz qqq zzz"),  # no markers → unknown
            (3, "le el"),  # es(el)=1, fr(le)=1 tie → 'es' (asc)
        ],
    )
    out = {r["doc_id"]: r for r in text_ops.language_id(df).collect()}
    assert out[1]["lang_pred"] == "de" and out[1]["marker_hits"] == 3
    assert out[2]["lang_pred"] == "unknown" and out[2]["marker_hits"] == 0
    assert out[3]["lang_pred"] == "es" and out[3]["marker_hits"] == 1


def test_fingerprint_matches_hashlib(spark):
    df = _docs(spark, [(1, "  Hello   World  ")])
    row = text_ops.fingerprint(df).first()
    norm = b"hello world"
    assert row["fp_sha256"] == hashlib.sha256(norm).hexdigest()
    assert row["fp_md5_64"] == hashlib.md5(norm).hexdigest()[:16]


def test_token_count_regex(spark):
    df = _docs(spark, [(1, "ab 12 cd-ef!")])
    n = df.select(text_ops.token_count_regex(F.col("text")).alias("n")).first()["n"]
    # ab, 12, cd, -, ef, !
    assert n == 6


def test_winnowing_guarantee_and_short_doc(spark):
    """The winnowing guarantee: docs sharing a substring of length
    >= k + w - 1 share at least one fingerprint; docs shorter than that
    produce none; disjoint docs share none."""
    from sonic_etl_spark.operators.text import winnow_fingerprints, winnow_overlap_pairs

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "cccc " + shared + " dddd"),          # same substring, new position
        (3, "entirely different words here now"),
        (4, "tiny"),                               # < k+w-1 chars -> no fps
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = winnow_fingerprints(df)
    per_doc = {r["doc_id"] for r in fps.select("doc_id").distinct().collect()}
    assert 4 not in per_doc
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnow_overlap_pairs(df, top_k=None).collect()
    }
    assert pairs.get((1, 2), 0) >= 1          # guarantee holds
    assert (1, 3) not in pairs or pairs[(1, 3)] < pairs[(1, 2)]


def test_curate_corpus_stages_compose(spark):
    """Quality gate drops junk, exact dedup keeps one of identical texts,
    near-dup keeps one per embedding cluster, stats aggregate the rest."""
    from sonic_etl_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat today", "en", "s", 0),
            (1, "the cat sat on the mat today", "en", "s", 0),   # exact dup of 0
            (2, "le chat est sur le tapis aujourd'hui", "fr", "s", 0),
            (3, "!!! ???", "en", "s", 0),                        # punct junk
            (4, "too short", "en", "s", 0),                      # < min_words
            (5, "the dog ran in the park all day", "en", "s", 0),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    # embeddings: 0 and 5 near-identical -> near-dup pair -> keep 0
    base = [1.0] + [0.0] * 7
    emb = spark.createDataFrame(
        [
            (0, base), (1, [0.5] * 8), (2, [-1.0] + [0.0] * 7),
            (3, [0.0] * 7 + [1.0]), (4, [0.3] * 8),
            (5, [x * 1.001 for x in base]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = {
        r["lang_pred"]: (r["n_docs"], r["total_tokens"])
        for r in curate_corpus(
            docs, emb, min_words=3, near_dup_threshold=0.999
        ).collect()
    }
    # survivors: 0 (keeps over exact-dup 1 and near-dup 5), 2
    assert sum(n for n, _ in out.values()) == 2
    assert out["en"][0] == 1 and out["en"][1] == 7
    assert out["fr"][0] == 1


def test_curate_corpus_return_docs(spark):
    from sonic_etl_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat today", "en", "s", 0),
            (1, "the cat sat on the mat today", "en", "s", 0),
            (2, "le chat est sur le tapis aujourd'hui", "fr", "s", 0),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    emb = spark.createDataFrame(
        [(i, [float(i + 1)] * 4) for i in range(3)],
        "vec_id bigint, embedding array<float>",
    )
    out = curate_corpus(docs, emb, min_words=3, near_dup_threshold=1.1,
                        return_docs=True)
    assert out.columns == docs.columns
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 2]  # exact dup 1 gone


def test_curate_corpus_text_near_dup_mode(spark):
    """No embeddings needed: shingle-Jaccard pairs feed the same
    cluster-canonical keep."""
    from sonic_etl_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today", "en", "s", 0),
            (1, "the quick brown fox jumps over the lazy cat today", "en", "s", 0),
            (2, "entirely different text about spark shuffle partitions", "en", "s", 0),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    out = curate_corpus(
        docs, near_dup_on="text", text_jaccard_threshold=0.5,
        min_words=3, return_docs=True,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 2]  # 1 ~ 0 dropped

    import pytest as _pytest
    with _pytest.raises(ValueError, match="embedding"):
        curate_corpus(docs, near_dup_on="embedding")


def test_split_dataset_deterministic_exhaustive_proportional(spark):
    """split_dataset: pure function of (seed, id) — stable under
    repartitioning, disjoint+exhaustive, proportions near the weights at
    n=20k, and a different seed re-rolls the assignment."""
    from sonic_etl_spark.operators.curation import split_dataset

    ids = spark.range(20_000).withColumnRenamed("id", "doc_id")
    out = split_dataset(ids, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}  # exhaustive, no NULL
    assert sum(counts.values()) == 20_000
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01
    assert abs(counts["test"] / 20_000 - 0.1) < 0.01

    # partitioning-invariant: same assignment at any layout
    a = dict(out.select("doc_id", "split").collect())
    b = dict(
        split_dataset(ids.repartition(13), {"train": 0.8, "val": 0.1, "test": 0.1})
        .select("doc_id", "split").collect()
    )
    assert a == b

    # integer weights normalize like fractions; seed change re-rolls
    c = dict(
        split_dataset(ids, {"train": 8, "val": 1, "test": 1})
        .select("doc_id", "split").collect()
    )
    assert c == a
    d = dict(
        split_dataset(ids, {"train": 0.8, "val": 0.1, "test": 0.1}, seed="v2")
        .select("doc_id", "split").collect()
    )
    assert d != a and set(d.values()) == {"train", "val", "test"}


def test_split_dataset_rejects_bad_weights(spark):
    import pytest

    from sonic_etl_spark.operators.curation import split_dataset

    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="positive"):
        split_dataset(ids, {"train": 1.0, "val": 0.0})
    with pytest.raises(ValueError, match="non-empty"):
        split_dataset(ids, {})


def test_pack_sequences_invariants(spark):
    """pack_sequences: every doc exactly once; no pack over budget unless it
    is a single oversize doc; offsets are the running token sum within the
    pack; assignment is partitioning-invariant."""
    from collections import defaultdict

    from sonic_etl_spark.operators.curation import pack_sequences

    rows = [(i, "w " * ((i * 37) % 90 + 1)) for i in range(400)]
    rows.append((1000, "w " * 500))  # oversize: 500 tokens > budget 128
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = pack_sequences(docs, budget=128, n_groups=8).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(i for i, _ in rows)

    packs = defaultdict(list)
    for r in out:
        packs[(r["pack_group"], r["pack_index"])].append(r)
    for members in packs.values():
        members.sort(key=lambda r: r["pack_offset"])
        total, off = 0, 0
        for m in members:
            assert m["pack_offset"] == off
            off += m["n_tokens"]
            total += m["n_tokens"]
        if total > 128:  # only a lone oversize doc may exceed the budget
            assert len(members) == 1 and members[0]["n_tokens"] > 128

    again = pack_sequences(docs.repartition(7), budget=128, n_groups=8).collect()
    key = lambda rs: sorted(
        (r["doc_id"], r["pack_group"], r["pack_index"], r["pack_offset"])
        for r in rs
    )
    assert key(again) == key(out)


def test_pack_sequences_rejects_bad_budget(spark):
    import pytest

    from sonic_etl_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="positive"):
        pack_sequences(docs, budget=0)


def test_pack_sequences_precomputed_token_col(spark):
    """token_col path: a precomputed length column drives packing (no text
    needed), same greedy invariants."""
    from sonic_etl_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, (i % 7) * 10 + 5) for i in range(60)],
        "doc_id bigint, n_tok bigint",
    )
    out = pack_sequences(
        docs, budget=64, token_col="n_tok", n_groups=4
    ).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(60))
    from collections import defaultdict
    packs = defaultdict(list)
    for r in out:
        packs[(r["pack_group"], r["pack_index"])].append(r["n_tokens"])
    for members in packs.values():
        # only a lone oversize doc (65 > 64 here) may exceed the budget
        if sum(members) > 64:
            assert members == [65]


def test_pack_stats_matches_manual_report(spark):
    """pack_stats: per-group numbers equal a hand-computed report over the
    same pack assignment; util/waste/oversize reconcile exactly."""
    from collections import defaultdict

    from sonic_etl_spark.operators.curation import pack_sequences, pack_stats

    rows = [(i, "w " * ((i * 37) % 90 + 1)) for i in range(300)]
    rows.append((1000, "w " * 300))  # oversize vs budget 128
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    packed = pack_sequences(docs, budget=128, n_groups=8)
    assignment = packed.collect()
    got = {r["pack_group"]: r.asDict() for r in pack_stats(packed, 128).collect()}

    packs = defaultdict(int)
    docs_per_group = defaultdict(int)
    toks_per_group = defaultdict(int)
    for r in assignment:
        packs[(r["pack_group"], r["pack_index"])] += r["n_tokens"]
        docs_per_group[r["pack_group"]] += 1
        toks_per_group[r["pack_group"]] += r["n_tokens"]
    want_packs = defaultdict(int)
    want_waste = defaultdict(int)
    want_over = defaultdict(int)
    for (g, _i), tot in packs.items():
        want_packs[g] += 1
        want_waste[g] += max(128 - tot, 0)
        want_over[g] += 1 if tot > 128 else 0

    assert set(got) == set(want_packs)
    for g, row in got.items():
        assert row["n_packs"] == want_packs[g]
        assert row["n_docs"] == docs_per_group[g]
        assert row["total_tokens"] == toks_per_group[g]
        assert row["waste_tokens"] == want_waste[g]
        assert row["oversize_packs"] == want_over[g]
        assert row["util_pct"] == round(
            toks_per_group[g] / (want_packs[g] * 128.0), 4
        )


def test_pack_stats_rejects_bad_budget(spark):
    import pytest

    from sonic_etl_spark.operators.curation import pack_sequences, pack_stats

    docs = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="positive"):
        pack_stats(pack_sequences(docs, budget=8, n_groups=8), budget=0)


def test_sample_stratified_rates_and_determinism(spark):
    """sample_stratified: rate 1.0 keeps the whole stratum, 0.0 drops it,
    fractional rates land near target, unlisted strata use default_rate,
    and membership is invariant to partitioning."""
    from sonic_etl_spark.operators.curation import sample_stratified

    rows = [(i, ("a", "b", "c")[i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = sample_stratified(
        df, {"a": 1.0, "b": 0.0}, stratum_col="lang", default_rate=0.5
    )
    kept = out.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in kept}
    assert by_lang["a"] == 1000
    assert "b" not in by_lang
    assert 400 <= by_lang["c"] <= 600  # 0.5 of 1000, hash-uniform

    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in sample_stratified(
            df.repartition(11),
            {"a": 1.0, "b": 0.0},
            stratum_col="lang",
            default_rate=0.5,
        ).collect()
    )
    assert ids1 == ids2

    # a different seed re-rolls membership of the fractional stratum
    reseeded = sample_stratified(
        df, {"a": 1.0, "b": 0.0}, stratum_col="lang",
        default_rate=0.5, seed="sample-v2",
    )
    ids3 = sorted(r["doc_id"] for r in reseeded.collect())
    assert ids1 != ids3


def test_sample_stratified_rejects_bad_rates(spark):
    import pytest

    from sonic_etl_spark.operators.curation import sample_stratified

    df = spark.createDataFrame([(1, "a")], "doc_id bigint, lang string")
    with pytest.raises(ValueError, match=r"rates\['a'\]"):
        sample_stratified(df, {"a": 1.5})
    with pytest.raises(ValueError, match="default_rate"):
        sample_stratified(df, {"a": 0.5}, default_rate=-0.1)
    with pytest.raises(ValueError, match="non-empty"):
        sample_stratified(df, {})


def test_redact_pii_staged_attribution(spark):
    from sonic_etl_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and https://x.io/a@b.com plus 10.0.0.1 end"),
            (2, "clean text only"),
            (3, "two mails a@b.co b@c.io"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    r1 = out[1]
    # the email inside the URL is consumed by the URL stage — counted ONCE
    assert (r1["n_urls"], r1["n_emails"], r1["n_ips"]) == (1, 1, 1)
    assert r1["text_redacted"] == "mail <EMAIL> and <URL> plus <IP> end"
    assert out[2]["text_redacted"] == "clean text only"
    assert (out[2]["n_urls"], out[2]["n_emails"], out[2]["n_ips"]) == (0, 0, 0)
    assert out[3]["n_emails"] == 2


def test_ngram_containment_bounds(spark):
    from sonic_etl_spark.operators.text import ngram_containment

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),        # probe member
            (1, "a b c d e z"),        # shares 2-of-3 3-grams with probe
            (2, "q r s t u v"),        # disjoint
            (3, "x y"),                # shorter than n — excluded
        ],
        "doc_id int, text string",
    )
    probe = docs.where("doc_id = 0")
    out = {r["doc_id"]: r for r in ngram_containment(docs, probe, n=3).collect()}
    assert 3 not in out                       # too short: no row
    assert out[0]["containment"] == 1.0        # probe member fully contained
    assert out[2]["containment"] == 0.0
    assert out[1]["n_ngrams"] == 4 and out[1]["n_matched"] == 3
    assert out[1]["containment"] == 0.75


def test_pack_sequences_auto_n_groups_scales_with_parallelism(spark):
    """Default n_groups derives from defaultParallelism (≥ 64 floor) so the
    per-group pandas frame shrinks as the cluster grows, and warns that the
    assignment then depends on cluster size; explicit n_groups keeps the
    pure-(seed,id) assignment contract byte-identical and stays silent."""
    import warnings

    import pytest as _p

    from sonic_etl_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * 10) for i in range(300)], "doc_id long, text string"
    )
    with _p.warns(UserWarning, match="n_groups"):
        auto = pack_sequences(docs, budget=64)
    par = spark.sparkContext.defaultParallelism
    expect = max(2 * par, 64)
    groups = {r["pack_group"] for r in auto.select("pack_group").distinct().collect()}
    assert groups <= set(range(expect))
    assert max(groups) >= 8  # spread across many groups, not collapsed
    # explicit n_groups: assignment unchanged vs itself under repartition
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        pinned = pack_sequences(docs, budget=64, n_groups=8)
    a = pinned.collect()
    b = pack_sequences(docs.repartition(13), budget=64, n_groups=8).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}
    with _p.raises(ValueError, match="n_groups"):
        pack_sequences(docs, budget=64, n_groups=0)

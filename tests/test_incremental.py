"""Incremental curation (operators/incremental.py): the 3-batch arrival
sequence must converge to the SAME per-doc verdicts as one global recompute
of the order-independent rule (hash equality), stay idempotent under
redelivery, heal a crash inside its one commit, and tail a source table's
CDC-out stream through read_changes."""

import pyspark.sql.functions as F
import pytest

from sonic_etl_spark.operators.incremental import IncrementalCurator, curate_full

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen curious "
    "researchers carefully measure every single token frequency in this "
    "deliberately verbose synthetic paragraph about data pipelines"
)


def _corpus():
    """(doc_id, text, off) rows covering every verdict class; arrival order
    (off) deliberately differs from doc_id order."""
    rows = []
    for i in range(30):
        rows.append((i, f"{BASE} variant {i}", 100 + i))
    # exact dups of doc 3 (same normalized text), arriving LATER
    rows.append((40, f"{BASE} variant 3", 200))
    rows.append((41, f"  {BASE} variant 3 ", 201))  # normalization dup
    # near dup: one token changed → shares most shingles/bands with doc 5
    rows.append((42, f"{BASE} variant 5 extra", 202))
    # quality fails: too short / too punctuated
    rows.append((43, "tiny", 203))
    rows.append((44, "!!! ??? ;;; ::: @@@ ###", 204))
    # a dup whose CANONICAL arrives later in doc_id but earlier in off
    rows.append((45, "completely unique text with many plain words here ok", 50))
    rows.append((46, "completely unique text with many plain words here ok", 60))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, off long")


def _verdict_map(df):
    return {r["doc_id"]: (r["off"], r["kept"], r["reason"]) for r in df.collect()}


@pytest.fixture(scope="module")
def full(spark):
    return _verdict_map(curate_full(_df(spark, _corpus())))


def test_incremental_matches_full_recompute(spark, tmp_path, full, spark_jobs):
    rows = sorted(_corpus(), key=lambda r: r[2])  # arrival order
    batches = [rows[:12], rows[12:25], rows[25:]]
    cur = IncrementalCurator(spark, str(tmp_path / "c1"), n_buckets=4).create()
    for b in batches:
        res = cur.apply(_df(spark, b))
        assert res["status"] == "committed"
    got = _verdict_map(cur.verdicts.read())
    assert got == full
    # the corpus exercises every verdict class
    reasons = {v[2] for v in got.values()}
    assert reasons == {"kept", "exact_dup", "near_dup", "quality"}
    # earliest ARRIVAL is canonical, not smallest doc_id
    assert got[45][2] == "kept" and got[46][2] == "exact_dup"

    # point reads of the state run no Spark job and match the Spark path:
    # every verdict (bigint key) plus an absent id, then one row of each
    # minima member (string key; int + string key)
    looked, jobs = spark_jobs(
        lambda: {d: _verdict_map(cur.verdicts.lookup(doc_id=d)) for d in [*full, 999]}
    )
    assert jobs == []
    assert looked == {**{d: {d: v} for d, v in full.items()}, 999: {}}
    for name in ("hash_minima", "bucket_minima"):
        kc = cur.state.latest()["tables"][name]["key_cols"]
        key = cur.state.read(name).select(*kc).first().asDict()
        hit, jobs = spark_jobs(lambda: cur.state.lookup(name, **key).collect())
        assert len(hit) == 1 and jobs == []
        assert hit == cur.state._lookup_spark(name, key).collect()


def test_incremental_redelivery_is_noop(spark, tmp_path, full):
    rows = sorted(_corpus(), key=lambda r: r[2])
    b1, b2 = rows[:20], rows[20:]
    cur = IncrementalCurator(spark, str(tmp_path / "c2"), n_buckets=4).create()
    cur.apply(_df(spark, b1))
    cur.apply(_df(spark, b2))
    sid = cur.verdicts.latest()["snapshot_id"]
    res = cur.apply(_df(spark, b2))  # full redelivery
    assert res["status"] == "skipped"
    assert cur.verdicts.latest()["snapshot_id"] == sid
    assert _verdict_map(cur.verdicts.read()) == full


def test_incremental_heals_crash_inside_the_commit(
    spark, tmp_path, monkeypatch, full
):
    """A crash while the batch's files are written (here: the verdicts
    member's write) commits nothing — not even the minima written before it
    — and the redelivered batch commits and converges to the full
    recompute."""
    from pyspark.sql.readwriter import DataFrameWriter

    rows = sorted(_corpus(), key=lambda r: r[2])
    b1, b2 = rows[:20], rows[20:]
    cur = IncrementalCurator(spark, str(tmp_path / "c3"), n_buckets=4).create()
    cur.apply(_df(spark, b1))
    sid = cur.hash_minima.latest()["snapshot_id"]

    orig = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        if "verdicts" in path:
            raise RuntimeError("injected crash writing verdicts")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="injected"):
        cur.apply(_df(spark, b2))
    assert cur.hash_minima.latest()["snapshot_id"] == sid
    monkeypatch.undo()
    res = cur.apply(_df(spark, b2))  # redelivery heals
    assert res["status"] == "committed"
    assert _verdict_map(cur.verdicts.read()) == full


def test_curator_state_is_one_table_set(spark, tmp_path):
    """One snapshot log for all three members: the root holds exactly one
    ``_latest.json`` and every committed apply advances it by exactly 1."""
    import os

    rows = sorted(_corpus(), key=lambda r: r[2])
    root = tmp_path / "c7"
    cur = IncrementalCurator(spark, str(root), n_buckets=4).create()
    sid = cur.verdicts.latest()["snapshot_id"]
    for b in (rows[:12], rows[12:25], rows[25:]):
        assert cur.apply(_df(spark, b))["status"] == "committed"
        sid += 1
        for member in (cur.hash_minima, cur.bucket_minima, cur.verdicts):
            assert member.latest()["snapshot_id"] == sid
    assert cur.apply(_df(spark, rows[25:]))["status"] == "skipped"
    assert cur.verdicts.latest()["snapshot_id"] == sid
    pointers = [d for d, _, files in os.walk(root) if "_latest.json" in files]
    assert pointers == [str(root)]
    assert sorted(cur.verdicts.latest()["tables"]) == [
        "bucket_minima", "hash_minima", "verdicts"
    ]


def test_sync_tails_source_table_cdc_out(spark, tmp_path, full):
    from sonic_etl_spark.sources.table import TransactionalParquetTable

    src = TransactionalParquetTable(spark, str(tmp_path / "src"), n_buckets=4)
    src.create(
        [("doc_id", "bigint"), ("text", "string"), ("last_offset", "bigint")],
        key_cols=["doc_id"],
        order_cols=["last_offset"],
    )
    rows = sorted(_corpus(), key=lambda r: r[2])
    cur = IncrementalCurator(spark, str(tmp_path / "c4"), n_buckets=4).create()
    for i, lo in enumerate(range(0, len(rows), 13)):
        chunk = rows[lo : lo + 13]
        src.merge(
            spark.createDataFrame(
                chunk, "doc_id long, text string, last_offset long"
            ),
            [(0, i * 1000, i * 1000 + 999)],
        )
        res = cur.sync(src)
        assert res["status"] == "committed"
    assert cur.sync(src)["status"] == "noop"  # frontier caught up
    assert _verdict_map(cur.verdicts.read()) == full


def test_apply_refuses_two_versions_of_one_doc(spark, tmp_path):
    """The per-batch joins key on doc_id alone: a batch with two rows of one
    doc_id is refused before anything is written."""
    cur = IncrementalCurator(spark, str(tmp_path / "c8"), n_buckets=2).create()
    sid = cur.verdicts.latest()["snapshot_id"]
    two = _df(spark, [(1, f"{BASE} variant 1", 10), (1, f"{BASE} variant 2", 11)])
    with pytest.raises(ValueError, match="doc_id"):
        cur.apply(two)
    assert cur.verdicts.latest()["snapshot_id"] == sid


def test_sync_curates_latest_version_in_window(spark, tmp_path):
    """A doc written twice within one sync window reaches apply once, as its
    latest version (the sync delta is LWW-reduced per key)."""
    from sonic_etl_spark.sources.table import TransactionalParquetTable

    src = TransactionalParquetTable(spark, str(tmp_path / "src"), n_buckets=2)
    src.create(
        [("doc_id", "bigint"), ("text", "string"), ("last_offset", "bigint")],
        key_cols=["doc_id"],
        order_cols=["last_offset"],
    )
    ddl = "doc_id long, text string, last_offset long"
    src.merge(spark.createDataFrame(
        [(1, f"{BASE} variant 1", 10), (2, "tiny", 11)], ddl), [(0, 10, 11)])
    other = "completely unique text with many plain words here ok"
    src.merge(spark.createDataFrame([(2, other, 20)], ddl), [(0, 20, 20)])
    cur = IncrementalCurator(spark, str(tmp_path / "c9"), n_buckets=2).create()
    assert cur.sync(src)["status"] == "committed"
    assert _verdict_map(cur.verdicts.read()) == {
        1: (10, True, "kept"), 2: (20, True, "kept")
    }


def test_sync_after_state_rollback_reapplies_undone_rows(spark, tmp_path):
    """The sync frontier commits with the consumer's state, so rolling the
    state back rolls the frontier back too: the next sync re-applies the
    undone rows (curator and IVF). An empty delta commits the frontier
    alone, so the sync after it is a noop."""
    from sonic_etl_spark.operators.incremental import IncrementalIvfIndex
    from sonic_etl_spark.sources.table import TransactionalParquetTable

    src = TransactionalParquetTable(spark, str(tmp_path / "src"), n_buckets=2)
    src.create(
        [("doc_id", "bigint"), ("text", "string"), ("embedding", "array<double>"),
         ("last_offset", "bigint")],
        key_cols=["doc_id"],
        order_cols=["last_offset"],
    )
    ddl = "doc_id long, text string, embedding array<double>, last_offset long"
    cur = IncrementalCurator(spark, str(tmp_path / "cur"), n_buckets=2).create()
    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_buckets=2).create(
        spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id long, cv array<double>"
        )
    )
    consumers = [(cur.state, lambda: cur.sync(src)),
                 (idx.postings, lambda: idx.sync(src, id_col="doc_id"))]

    def statuses():
        return [sync()["status"] for _state, sync in consumers]

    src.merge(spark.createDataFrame([(1, f"{BASE} variant 1", [1.0, 0.1], 10)], ddl),
              [(0, 10, 10)])
    assert statuses() == ["committed", "committed"]
    after_doc1 = [state.latest()["snapshot_id"] for state, _sync in consumers]
    other = "completely unique text with many plain words here ok"
    src.merge(spark.createDataFrame([(2, other, [0.1, 1.0], 20)], ddl), [(0, 20, 20)])
    assert statuses() == ["committed", "committed"]
    for (state, _sync), sid in zip(consumers, after_doc1):
        state.rollback(sid)
    assert statuses() == ["committed", "committed"]
    assert _verdict_map(cur.verdicts.read()) == {
        1: (10, True, "kept"), 2: (20, True, "kept")
    }
    assert {r["vec_id"]: r["centroid_id"] for r in idx.cells().collect()} == {1: 0, 2: 1}
    src.evolve(add=[("note", "string")])  # a source snapshot with no new rows
    assert statuses() == ["no_data", "no_data"]
    assert statuses() == ["noop", "noop"]


def test_apply_empty_batch_and_all_quality_fail(spark, tmp_path):
    cur = IncrementalCurator(spark, str(tmp_path / "c5"), n_buckets=2).create()
    empty = spark.createDataFrame([], "doc_id long, text string, off long")
    assert cur.apply(empty)["status"] == "no_data"
    bad = _df(spark, [(1, "x", 10), (2, "??!", 11)])
    res = cur.apply(bad)
    assert res["status"] == "committed"
    got = _verdict_map(cur.verdicts.read())
    assert got == {1: (10, False, "quality"), 2: (11, False, "quality")}


def test_incremental_curate_job_cli(spark, tmp_path, full):
    """jobs/incremental_curate_job.py: per-arrival CLI twin of curate_job —
    two invocations over a growing source table converge to the full
    recompute; a third is a frontier noop."""
    from jobs.incremental_curate_job import main
    from sonic_etl_spark.sources.table import TransactionalParquetTable

    src = TransactionalParquetTable(spark, str(tmp_path / "src"), n_buckets=4)
    src.create(
        [("doc_id", "bigint"), ("text", "string"), ("last_offset", "bigint")],
        key_cols=["doc_id"],
        order_cols=["last_offset"],
    )
    rows = sorted(_corpus(), key=lambda r: r[2])
    args = ["--source", str(tmp_path / "src"), "--state", str(tmp_path / "st"),
            "--n-buckets", "4"]
    for i, lo in enumerate(range(0, len(rows), 19)):
        src.merge(
            spark.createDataFrame(
                rows[lo : lo + 19], "doc_id long, text string, last_offset long"
            ),
            [(0, i * 1000, i * 1000 + 999)],
        )
        rep = main(args)
        assert rep["sync"]["status"] == "committed"
    rep = main(args)
    assert rep["sync"]["status"] == "noop"
    got = _verdict_map(
        IncrementalCurator(spark, str(tmp_path / "st"), n_buckets=4)
        .verdicts.read()
    )
    assert got == full
    assert sum(rep["verdict_totals"].values()) == len(rows)


def test_stream_curate_matches_full_and_rebatched_redelivery(spark, tmp_path, full):
    """Structured-Streaming twin (streaming/curate.stream_curate): draining
    the arrival directory converges to the full-recompute verdicts; a
    FRESH-checkpoint redelivery with a different maxFilesPerTrigger (the
    re-batched case) leaves the verdict stream byte-identical — the rule is
    idempotent by value, not just by manifest."""
    import os

    from sonic_etl_spark.streaming.curate import stream_curate

    rows = sorted(_corpus(), key=lambda r: r[2])
    docs_dir = str(tmp_path / "arrivals")
    os.makedirs(docs_dir)
    # producer contract: files written in offset order
    for i, lo in enumerate(range(0, len(rows), 9)):
        _df(spark, rows[lo : lo + 9]).coalesce(1).write.mode("append").parquet(
            docs_dir
        )
    cur = IncrementalCurator(spark, str(tmp_path / "c6"), n_buckets=4).create()
    q = stream_curate(
        spark, docs_dir, cur,
        checkpoint_dir=str(tmp_path / "ck1"), max_files_per_trigger=2,
    )
    q.awaitTermination()
    assert _verdict_map(cur.verdicts.read()) == full

    # fresh checkpoint + different batching → re-delivers everything,
    # re-batched; verdicts and state must not change
    before = _verdict_map(cur.verdicts.read())
    q2 = stream_curate(
        spark, docs_dir, cur,
        checkpoint_dir=str(tmp_path / "ck2"), max_files_per_trigger=5,
    )
    q2.awaitTermination()
    assert _verdict_map(cur.verdicts.read()) == before == full


def test_incremental_ivf_matches_one_shot_assign(spark, tmp_path):
    """IncrementalIvfIndex: 3-batch maintained postings == one-shot
    ivf_assign with the same pinned quantizer; a re-written vector follows
    its latest offset's cell; redelivery no-ops; sync tails a table."""
    import random

    from sonic_etl_spark.operators.incremental import IncrementalIvfIndex
    from sonic_etl_spark.operators.similarity import ivf_assign, seed_centroids

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], 100 + i) for i in range(120)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, off long"
    )
    cents = seed_centroids(emb, 16)
    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_buckets=4).create(cents)
    for k in range(3):
        res = idx.apply(emb.where(F.col("vec_id") % 3 == k))
        assert res["status"] == "committed"
    got = {r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
           for r in idx.cells().collect()}
    want = {r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
            for r in ivf_assign(emb, centroids=cents).collect()}
    assert got == want and len(got) == 120

    # redelivery no-op
    assert idx.apply(emb.where(F.col("vec_id") % 3 == 0))["status"] == "skipped"
    # re-written vector (same id, higher offset, different embedding):
    # LWW keeps the LATEST assignment
    upd = spark.createDataFrame(
        [(7, [1.0] + [0.0] * 7, 10_000)], "vec_id long, embedding array<double>, off long"
    )
    idx.apply(upd)
    new_cell = ivf_assign(upd.select("vec_id", "embedding"), centroids=cents).first()
    hit = [r for r in idx.cells().collect() if r["vec_id"] == 7]
    assert len(hit) == 1 and hit[0]["centroid_id"] == new_cell["centroid_id"]


def test_incremental_ivf_sync_frontier(spark, tmp_path):
    from sonic_etl_spark.operators.incremental import IncrementalIvfIndex
    from sonic_etl_spark.operators.similarity import seed_centroids
    from sonic_etl_spark.sources.table import TransactionalParquetTable

    src = TransactionalParquetTable(spark, str(tmp_path / "esrc"), n_buckets=4)
    src.create(
        [("vec_id", "bigint"), ("embedding", "array<double>"),
         ("last_offset", "bigint")],
        key_cols=["vec_id"], order_cols=["last_offset"],
    )
    rows = [(i, [float(i % 5), 1.0, 0.5], i) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, last_offset long"
    )
    src.merge(df.where("vec_id < 16"), [(0, 0, 15)])
    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf2"), n_buckets=4).create(
        seed_centroids(src.read(), 8)
    )
    assert idx.sync(src)["status"] == "committed"
    src.merge(df.where("vec_id >= 16"), [(0, 16, 39)])
    assert idx.sync(src)["status"] == "committed"
    assert idx.sync(src)["status"] == "noop"
    assert idx.cells().count() == 40


def test_incremental_ivf_refuses_two_versions_of_one_vector(spark, tmp_path):
    from sonic_etl_spark.operators.incremental import IncrementalIvfIndex
    from sonic_etl_spark.operators.similarity import seed_centroids

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 10), (1, [0.0, 1.0], 11), (2, [1.0, 1.0], 12)],
        "vec_id long, embedding array<double>, off long",
    )
    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf3"), n_buckets=2).create(
        seed_centroids(emb, 2)
    )
    with pytest.raises(ValueError, match="vec_id"):
        idx.apply(emb)


def test_incremental_random_corpora_and_batchings_converge(spark, tmp_path):
    """Seeded fuzz of the order-independence claim: random corpora (heavy
    exact/near dup rates, random arrival permutations, random batch cuts)
    must make the incremental verdicts equal the global recompute — the
    property the fixed corpus can't fully pin (rank ties, dup chains
    crossing batch cuts, bucket collisions between batches)."""
    import random

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet"]
    for trial in range(3):
        rng = random.Random(100 + trial)
        rows = []
        base_texts = [
            " ".join(rng.choices(words, k=12)) for _ in range(12)
        ]
        offs = rng.sample(range(1000, 9000), 40)
        for i in range(40):
            r = rng.random()
            if r < 0.3:
                text = base_texts[rng.randrange(len(base_texts))]  # exact dup pool
            elif r < 0.5:
                text = base_texts[rng.randrange(len(base_texts))] + " tail"
            elif r < 0.6:
                text = "x"  # quality fail
            else:
                text = " ".join(rng.choices(words, k=12))
            rows.append((i, text, offs[i]))
        rows.sort(key=lambda r: r[2])  # arrival order
        cuts = sorted(rng.sample(range(1, 39), rng.randrange(2, 5)))
        batches, prev = [], 0
        for c in [*cuts, 40]:
            batches.append(rows[prev:c])
            prev = c
        cur = IncrementalCurator(
            spark, str(tmp_path / f"fz{trial}"), n_buckets=4
        ).create()
        for b in batches:
            cur.apply(_df(spark, b))
        got = _verdict_map(cur.verdicts.read())
        want = _verdict_map(curate_full(_df(spark, rows)))
        assert got == want, trial


def test_null_text_fails_quality_on_every_side(spark, tmp_path):
    """A NULL-text doc fails the quality step on every side: apply(), the
    curate_full oracle and the driver gate's DuckDB SQL all say ``quality``."""
    import duckdb

    from sonic_etl_spark.driver_queries import _incr_curation_sql

    rows = [(1, f"{BASE} variant 1", 1), (2, None, 2), (3, "tiny", 3)]
    want = {1: "kept", 2: "quality", 3: "quality"}
    cur = IncrementalCurator(spark, str(tmp_path / "cn"), n_buckets=2).create()
    cur.apply(_df(spark, rows))
    assert {k: v[2] for k, v in _verdict_map(cur.verdicts.read()).items()} == want
    full = _verdict_map(curate_full(_df(spark, rows)))
    assert {k: v[2] for k, v in full.items()} == want
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", [r[:2] for r in rows])
    assert {r[0]: r[2] for r in con.execute(_incr_curation_sql()).fetchall()} == want


# Succeeded Spark jobs of the warm apply below, on this suite's local[4]
# session: 97-98 when every read_for_keys collect and merge re-ran the
# batch's text pipeline (quality, sha256, MinHash); 41 with the narrow
# per-doc facts materialized once.
WARM_APPLY_MAX_JOBS = 64


def test_warm_apply_computes_batch_facts_once(spark, tmp_path):
    rows = sorted(_corpus(), key=lambda r: r[2])
    cur = IncrementalCurator(spark, str(tmp_path / "cw"), n_buckets=4).create()
    cur.apply(_df(spark, rows[:20]))
    sc = spark.sparkContext
    group = f"warm-apply-{tmp_path.name}"
    sc.setJobGroup(group, "warm apply")
    try:
        assert cur.apply(_df(spark, rows[20:]))["status"] == "committed"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    n_jobs = sum(i is not None and i.status == "SUCCEEDED" for i in infos)
    assert n_jobs <= WARM_APPLY_MAX_JOBS, n_jobs

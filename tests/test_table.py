"""Transactional-table contract: atomic commits, idempotent manifests,
LWW merge, schema evolution by field id (SURVEY.md §7.1 M2/M3)."""

import json
import os

import pytest

from sonic_etl_spark.sources.table import CommitConflict, TransactionalParquetTable

FIELDS = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("content", "string"),
    ("op", "string"),
    ("last_offset", "bigint"),
    ("last_partition_id", "int"),
]
SCHEMA = (
    "repo string, path string, commit string, content string, op string,"
    " last_offset bigint, last_partition_id int"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(tab):
    return {
        (r["repo"], r["path"]): (r["commit"], r["content"], r["last_offset"])
        for r in tab.read().collect()
    }


def test_merge_lww_and_idempotency(spark, tmp_path):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)

    u1 = _df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0),
                     ("r", "b", "c2" * 20, "w1", "upsert", 2, 0)])
    assert tab.merge(u1, [(0, 0, 9)])["status"] == "committed"
    assert _state(tab)[("r", "a")][1] == "v1"

    # newer offset wins; older offset loses even if applied later
    u2 = _df(spark, [("r", "a", "c3" * 20, "v2", "upsert", 5, 0)])
    tab.merge(u2, [(0, 10, 19)])
    u3 = _df(spark, [("r", "a", "c4" * 20, "v0-late", "upsert", 3, 0)])
    tab.merge(u3, [(0, 20, 29)])
    assert _state(tab)[("r", "a")] == ("c3" * 20, "v2", 5)

    # idempotent: re-applying a committed range is a no-op
    res = tab.merge(u1, [(0, 0, 9)])
    assert res["status"] == "skipped"
    assert _state(tab)[("r", "a")] == ("c3" * 20, "v2", 5)


def test_tombstone_delete(spark, tmp_path):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    tab.merge(_df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0)]), [(0, 0, 0)])
    tab.merge(_df(spark, [("r", "a", "c2" * 20, None, "delete", 2, 0)]), [(0, 1, 1)])
    assert ("r", "a") not in _state(tab)
    # tombstone retained so an older replayed upsert cannot resurrect the key
    assert tab.read(include_tombstones=True).filter("op = 'delete'").count() == 1
    tab.merge(_df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0)]), [(0, 2, 2)])
    assert ("r", "a") not in _state(tab)


def test_merge_on_read_delta_granularity(spark, tmp_path):
    """MOR granularity: a merge touching one key appends a delta to only its
    bucket (O(batch) writes), and the reader resolves LWW across files."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=8)
    tab.create(FIELDS)
    many = _df(
        spark,
        [("r%d" % i, "p%d" % i, ("c%038d" % i)[:40], "v", "upsert", i, 0) for i in range(200)],
    )
    tab.merge(many, [(0, 0, 199)])
    assert len(tab.latest()["tables"]["t"]["buckets"]) == 8
    one = _df(spark, [("r7", "p7", "d" * 40, "v2", "upsert", 1000, 0)])
    res = tab.merge(one, [(0, 200, 200)])
    assert res["buckets_written"] == 1
    assert tab.read().count() == 200
    assert _state(tab)[("r7", "p7")][1] == "v2"
    # exactly one bucket has a 2-file delta chain
    fpb = tab.files_per_bucket()
    assert sorted(fpb.values()) == [1] * 7 + [2]


def test_compaction_folds_deltas_and_preserves_state(spark, tmp_path):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    for i in range(5):
        tab.merge(
            _df(spark, [("r", "a", ("c%038d" % i)[:40], f"v{i}", "upsert", i, 0)]),
            [(0, i, i)],
        )
    assert max(tab.files_per_bucket().values()) == 5
    before = _state(tab)
    res = tab.compact(max_files_per_bucket=2)
    assert res["status"] == "compacted"
    assert max(tab.files_per_bucket().values()) == 1
    assert _state(tab) == before
    assert _state(tab)[("r", "a")][1] == "v4"
    # tombstones survive compaction so late lower-order upserts stay dead
    tab.merge(
        _df(spark, [("r", "a", "e" * 40, None, "delete", 99, 0)]), [(0, 99, 99)]
    )
    tab.compact(force=True)
    assert ("r", "a") not in _state(tab)
    tab.merge(
        _df(spark, [("r", "a", "f" * 40, "old", "upsert", 50, 0)]), [(0, 100, 100)]
    )
    assert ("r", "a") not in _state(tab)


def test_schema_evolution_add_and_rename(spark, tmp_path):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    tab.merge(_df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0)]), [(0, 0, 0)])

    tab.evolve(add=[("branch", "string")], rename={"content": "body"})
    # old files (written pre-evolution) read under the new schema by field id
    row = tab.read().first()
    assert row["body"] == "v1" and row["branch"] is None

    # writer still emitting the pre-rename name routes by field id
    newer = _df(spark, [("r", "a", "c2" * 20, "v2", "upsert", 9, 0)])
    tab.merge(newer, [(0, 1, 1)])
    row = tab.read().first()
    assert row["body"] == "v2" and row["branch"] is None

    # writer emitting the new name + added column
    evolved = spark.createDataFrame(
        [("r", "a", "c3" * 20, "v3", "upsert", 12, 0, "main")],
        "repo string, path string, commit string, body string, op string,"
        " last_offset bigint, last_partition_id int, branch string",
    )
    tab.merge(evolved, [(0, 2, 2)])
    row = tab.read().first()
    assert row["body"] == "v3" and row["branch"] == "main"
    # lineage: 5 snapshots (create, 2 merges, evolve, merge)
    assert len(tab.history()) == 5


def test_commit_conflict_detection(spark, tmp_path):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tab.create(FIELDS)
    snap = tab.latest()
    stale = dict(snap, snapshot_id=99, parent_id=0)
    with pytest.raises(CommitConflict):
        tab._commit_snapshot(stale, expected_parent=0)


def test_crash_before_pointer_flip_is_invisible(spark, tmp_path):
    """Orphan snapshot json without the pointer flip must not change reads."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tab.create(FIELDS)
    tab.merge(_df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0)]), [(0, 0, 0)])
    latest_before = tab.latest()["snapshot_id"]
    # simulate: crash wrote snap json but never flipped _latest.json
    orphan = dict(tab.latest(), snapshot_id=latest_before + 1, parent_id=latest_before)
    with open(os.path.join(str(tmp_path / "t"), "_snapshots", f"snap-{orphan['snapshot_id']}.json"), "w") as f:
        json.dump(orphan, f)
    assert tab.latest()["snapshot_id"] == latest_before
    assert tab.read().count() == 1


def test_reopen_with_different_n_buckets_is_safe(spark, tmp_path):
    """merge()/compact() must adopt the SNAPSHOT's bucket count: reopening
    with a different constructor n_buckets used to rehash victim rows into
    non-victim bucket ids during compaction and silently drop delta files."""
    path = str(tmp_path / "t")
    tab = TransactionalParquetTable(spark, path, n_buckets=8)
    tab.create(FIELDS)
    rows = [(f"r{i}", f"p{i}", f"c{i:02d}" * 10, f"v{i}", "upsert", i, 0) for i in range(40)]
    for i in range(0, 40, 10):
        tab.merge(_df(spark, rows[i : i + 10]), [(0, i, i + 9)])
    before = _state(tab)
    assert len(before) == 40

    # reopen with a MISMATCHED constructor value; merge + forced compaction
    reopened = TransactionalParquetTable(spark, path, n_buckets=3)
    extra = [("rX", "pX", "cX" * 10, "vX", "upsert", 99, 0)]
    reopened.merge(_df(spark, extra), [(0, 99, 99)])
    reopened.compact(force=True)
    assert reopened.latest()["n_buckets"] == 8  # snapshot layout preserved
    after = _state(reopened)
    assert len(after) == 41
    assert all(after[k] == v for k, v in before.items())


def test_null_op_rows_survive_read(spark, tmp_path):
    """Rows whose op is NULL (producer lacked the column; backfilled by the
    field-id projection) are NOT tombstones and must not vanish."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tab.create(FIELDS)
    df = spark.createDataFrame(
        [("r", "a", "c1" * 20, "v1", 1, 0)],
        "repo string, path string, commit string, content string,"
        " last_offset bigint, last_partition_id int",
    )  # no op column at all -> projected to NULL
    tab.merge(df, [(0, 0, 0)])
    assert tab.read().count() == 1


def test_expire_snapshots_reclaims_and_preserves_state(spark, tmp_path):
    """Retention maintenance (Iceberg expire_snapshots + remove_orphan_files
    analog): old snapshot JSONs and unreferenced data roots are deleted,
    converged state and the exactly-once manifest set are untouched, time
    travel works inside the horizon and fails loudly beyond it."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    for i in range(4):
        u = _df(spark, [("r", f"p{i}", f"c{i}" * 20, f"v{i}", "upsert", i, 0)])
        tab.merge(u, [(0, i * 10, i * 10 + 9)])
    tab.compact(force=True)  # supersedes every delta root
    before = _state(tab)
    n_roots_before = len(os.listdir(str(tmp_path / "t" / "data")))
    assert len(tab.history()) == 6  # create + 4 merges + compaction

    # age guard first: nothing is old enough -> nothing happens
    res = tab.expire_snapshots(keep_last=1, min_age_sec=3600)
    assert res["snapshots_expired"] == 0
    assert len(tab.history()) == 6

    # keep_last=2 retains the pre-compaction snapshot, which still
    # references every delta root -> snapshots go, data stays (safety)
    res = tab.expire_snapshots(keep_last=2)
    assert res["snapshots_expired"] == 4
    assert res["data_roots_removed"] == 0
    assert _state(tab) == before

    # keep_last=1 retains only the compacted snapshot -> deltas reclaimed
    res = tab.expire_snapshots(keep_last=1)
    assert res["snapshots_expired"] == 1
    assert res["data_roots_removed"] > 0
    assert res["bytes_reclaimed"] > 0
    assert len(os.listdir(str(tmp_path / "t" / "data"))) < n_roots_before

    # state, manifests, and history-walk survive
    assert _state(tab) == before
    assert len(tab.history()) == 1
    assert tab.is_committed(0, 0, 9)  # manifest set preserved in retained snap
    re = tab.merge(
        _df(spark, [("r", "p0", "cX" * 20, "dup", "upsert", 0, 0)]),
        [(0, 0, 9)],
    )
    assert re["status"] == "skipped"  # exactly-once guard intact

    # time travel: retained snapshot readable, expired one raises
    retained = tab.history()[0]
    assert tab.read(retained).count() >= 0
    with pytest.raises(FileNotFoundError):
        tab.snapshot(2)

    # keep_last floors at 1: the latest always survives
    res2 = tab.expire_snapshots(keep_last=0)
    assert tab.latest() is not None
    assert _state(tab) == before


def test_read_changes_incremental_scan(spark, tmp_path):
    """Incremental reads return exactly the rows appended after the anchor
    snapshot (O(new data) for consumers), LWW-reduce on request, and refuse
    to silently replay history across a compaction boundary."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    tab.merge(_df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0)]),
              [(0, 0, 9)])
    anchor = tab.latest()["snapshot_id"]
    tab.merge(_df(spark, [("r", "a", "c2" * 20, "v2", "upsert", 2, 0),
                          ("r", "b", "c3" * 20, "w1", "upsert", 3, 0)]),
              [(0, 10, 19)])
    tab.merge(_df(spark, [("r", "a", "c4" * 20, "v3", "upsert", 4, 0)]),
              [(0, 20, 29)])

    # raw changes since anchor: the 3 appended rows, not the base row
    raw = tab.read_changes(from_snapshot_id=anchor)
    assert raw.count() == 3
    assert {r["path"] for r in raw.collect()} == {"a", "b"}

    # reduced: latest state per key among the changes only
    red = {r["path"]: r["content"]
           for r in tab.read_changes(from_snapshot_id=anchor, reduced=True).collect()}
    assert red == {"a": "v3", "b": "w1"}

    # since creation == full raw history (4 rows)
    assert tab.read_changes().count() == 4

    # bounded window (anchor -> next snapshot) sees only batch 2
    mid = anchor + 1
    assert tab.read_changes(from_snapshot_id=anchor, to_snapshot_id=mid).count() == 2

    # compaction boundary: refuse rather than replay history as changes
    tab.compact(force=True)
    with pytest.raises(ValueError, match="compaction"):
        tab.read_changes(from_snapshot_id=anchor)
    # re-anchored consumer works again
    new_anchor = tab.latest()["snapshot_id"]
    tab.merge(_df(spark, [("r", "c", "c5" * 20, "x1", "upsert", 5, 0)]),
              [(0, 30, 39)])
    assert tab.read_changes(from_snapshot_id=new_anchor).count() == 1


def _bucket_ids(paths):
    return {p.split("_pb=")[1].split("/")[0] for p in paths}


def test_driver_bucket_equals_bucket_expr(spark):
    """The driver-side bucket id (py4j XXH64 chain) equals the writer's
    ``pmod(xxhash64(...), n)`` over random and edge int, bigint and string
    values, single- and multi-column keys, the fan-out ``file_versions``
    prefix bucket columns and several bucket counts."""
    import random

    from sonic_etl_spark.sources.multitable import _bucket_expr, _driver_bucket
    from sonic_etl_spark.streaming.fanout import FANOUT_SPECS

    rng = random.Random(2024)
    ints = [0, -1, 1, 2**31 - 1, -(2**31)] + [
        rng.randint(-(2**31), 2**31 - 1) for _ in range(20)
    ]
    longs = [0, -1, 2**63 - 1, -(2**63), 2**31] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(20)
    ]
    alphabet = "az09 -_/é日本語\U0001f600\x00"
    strs = ["", "a", "é", "日本語", "\U0001f600", "a\x00b"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12))) for _ in range(19)
    ]
    rows = [
        (ints[i], longs[i], strs[i], strs[-1 - i], strs[(7 * i) % len(strs)])
        for i in range(len(ints))
    ]
    types = {"i": "int", "b": "bigint", "repo": "string", "path": "string", "commit": "string"}
    df = spark.createDataFrame(rows, ", ".join(f"{c} {t}" for c, t in types.items()))
    prefix = FANOUT_SPECS["file_versions"].bucket_cols
    assert prefix == ["repo", "path"] != FANOUT_SPECS["file_versions"].key_cols
    col_sets = [["i"], ["b"], ["repo"], prefix, ["b", "i"], ["commit", "b", "i", "path"]]
    n_sizes = [1, 2, 7, 8, 32, 1009]
    exprs = [
        _bucket_expr(n, cols).alias(f"h{j}_{n}")
        for j, cols in enumerate(col_sets)
        for n in n_sizes
    ]
    got = df.select("*", *exprs).collect()
    for r in got:
        for j, cols in enumerate(col_sets):
            for n in n_sizes:
                typed = [(types[c], r[c]) for c in cols]
                assert _driver_bucket(spark, n, typed) == r[f"h{j}_{n}"], (cols, n, r)
    # values the JVM hash does not cover by type or range: no bucket
    assert _driver_bucket(spark, 8, [("double", 1.5)]) is None
    assert _driver_bucket(spark, 8, [("int", 2**31)]) is None
    assert _driver_bucket(spark, 8, [("bigint", "7")]) is None
    assert _driver_bucket(spark, 8, [("bigint", True)]) is None


def test_lookup_reads_single_bucket(spark, tmp_path, spark_jobs, opened_paths):
    """Point reads touch only the key's bucket (1/n_buckets of the files),
    launch no Spark job, respect LWW and tombstones, and survive a
    key-column rename (bucketing follows the snapshot's key columns, not
    hardcoded names)."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=8)
    tab.create(FIELDS)
    many = _df(
        spark,
        [(f"r{i}", f"p{i}", (f"c{i:038d}")[:40], f"v{i}", "upsert", i, 0)
         for i in range(200)],
    )
    tab.merge(many, [(0, 0, 199)])

    rows, jobs = spark_jobs(lambda: tab.lookup(repo="r7", path="p7").collect())
    assert len(rows) == 1 and rows[0]["content"] == "v7"
    assert jobs == []
    total_files = sum(tab.files_per_bucket().values())
    assert 0 < len(opened_paths) < total_files
    assert len(_bucket_ids(opened_paths)) == 1
    # the Spark reference path scans the same single bucket
    ref = tab._lookup_spark("t", {"repo": "r7", "path": "p7"})
    assert ref.collect() == rows
    assert 0 < len(ref.inputFiles()) < total_files
    assert _bucket_ids(ref.inputFiles()) == _bucket_ids(opened_paths)

    # LWW: newer offset wins in the same bucket
    tab.merge(_df(spark, [("r7", "p7", "d" * 40, "v7b", "upsert", 999, 0)]),
              [(0, 200, 200)])
    assert tab.lookup(repo="r7", path="p7").first()["content"] == "v7b"

    # tombstone: lookup of a deleted key is empty
    tab.merge(_df(spark, [("r8", "p8", "e" * 40, None, "delete", 1000, 0)]),
              [(0, 201, 201)])
    assert tab.lookup(repo="r8", path="p8").count() == 0

    # wrong key set is an explicit error
    with pytest.raises(KeyError, match="key columns"):
        tab.lookup(repo="r7")

    # rename a key column: writes and lookups keep routing consistently
    tab.evolve(rename={"path": "file_path"})
    tab.merge(_df(spark, [("r7", "p7", "f" * 40, "v7c", "upsert", 2000, 0)]),
              [(0, 202, 202)])
    assert tab.lookup(repo="r7", file_path="p7").first()["content"] == "v7c"
    assert tab.read().count() == 199  # 200 - 1 deleted


def test_metrics_history_surfaces_lineage(spark, tmp_path):
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    for i in range(3):
        tab.merge(
            _df(spark, [("r", f"p{i}", f"c{i}" * 20, "v", "upsert", i, 0)]),
            [(0, i * 10, i * 10 + 9)],
            metrics={"rows": 10},
        )
    mh = tab.metrics_history()
    rows = {r["snapshot_id"]: r for r in mh.collect()}
    assert len(rows) == 4  # create + 3 merges
    assert all(rows[i]["parent_id"] == i - 1 for i in (2, 3, 4))
    assert rows[4]["rows"] == 10 and rows[4]["apply_sec"] > 0
    assert rows[4]["events_per_sec"] > 0
    import json as _json
    assert _json.loads(rows[4]["metrics_json"])["buckets_written"] >= 1


def test_random_op_interleaving_matches_model(spark, tmp_path):
    """Model-based check: a seeded random interleaving of merge / compact /
    expire_snapshots / evolve must keep the table equal to a plain-dict LWW
    model — the lifecycle ops are state-transparent in any order."""
    import random

    rng = random.Random(1234)
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    model: dict[tuple, tuple] = {}  # (repo,path) -> (order_tuple, content, op)
    offset = 0
    content_col = "content"

    for step in range(18):
        op = rng.choice(["merge", "merge", "merge", "compact", "expire", "evolve"])
        if op == "merge":
            rows, n = [], rng.randint(1, 4)
            for _ in range(n):
                k = (f"r{rng.randint(0, 2)}", f"p{rng.randint(0, 5)}")
                kind = "delete" if rng.random() < 0.2 else "upsert"
                commit = f"c{rng.randint(0, 99):02d}" * 10
                val = None if kind == "delete" else f"v{step}-{offset}"
                rows.append((k[0], k[1], commit[:40], val, kind, offset, 0))
                order = (offset, 0, commit[:40])
                if k not in model or order > model[k][0]:
                    model[k] = (order, val, kind)
                offset += 1
            df = spark.createDataFrame(
                rows,
                f"repo string, path string, commit string, {content_col} string,"
                " op string, last_offset bigint, last_partition_id int",
            )
            tab.merge(df, [(0, offset - n, offset - 1)])
        elif op == "compact":
            tab.compact(force=rng.random() < 0.5)
        elif op == "expire":
            tab.expire_snapshots(keep_last=rng.randint(1, 3))
        else:
            new = f"{content_col}_r{step}"
            tab.evolve(rename={content_col: new})
            content_col = new

    got = {
        (r["repo"], r["path"]): r[content_col] for r in tab.read().collect()
    }
    want = {
        k: v for k, (order, v, kind) in model.items() if kind != "delete"
    }
    assert got == want


def test_schema_evolution_widen_and_drop(spark, tmp_path):
    """Iceberg-style widen (lossless promotions only) + drop (field id
    retired forever — re-adding the name must NOT resurrect old bytes)."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    tab.merge(_df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0)]),
              [(0, 0, 0)])

    # widen int -> bigint: old files cast up on read, new writer goes wide
    tab.evolve(widen={"last_partition_id": "bigint"})
    assert dict(tab.read().dtypes)["last_partition_id"] == "bigint"
    wide = spark.createDataFrame(
        [("r", "a", "c2" * 20, "v2", "upsert", 2, 1 << 40)],
        "repo string, path string, commit string, content string, op string,"
        " last_offset bigint, last_partition_id bigint",
    )
    tab.merge(wide, [(0, 1, 1)])
    row = tab.read().first()
    assert row["last_partition_id"] == 1 << 40 and row["content"] == "v2"

    # narrowing / lossy promotions refused; key/order columns undropppable
    with pytest.raises(ValueError, match="lossless"):
        tab.evolve(widen={"last_offset": "int"})
    with pytest.raises(ValueError, match="key/order"):
        tab.evolve(drop=["repo"])
    with pytest.raises(KeyError):
        tab.evolve(drop=["nope"])

    # drop then re-add the same NAME: fresh field id, old data stays dead
    old_id = next(
        f["id"] for f in tab.latest()["tables"]["t"]["schemas"][-1]["fields"]
        if f["name"] == "content"
    )
    tab.evolve(drop=["content"])
    assert "content" not in tab.read().columns
    tab.evolve(add=[("content", "string")])
    new_id = next(
        f["id"] for f in tab.latest()["tables"]["t"]["schemas"][-1]["fields"]
        if f["name"] == "content"
    )
    assert new_id != old_id  # retired id never reused
    row = tab.read().first()
    assert row["content"] is None          # v2 bytes NOT resurrected
    assert row["last_partition_id"] == 1 << 40  # rest of the row intact

    # a post-re-add writer fills the new column for new winners only
    tab.merge(_df(spark, [("r", "a", "c3" * 20, "v3", "upsert", 9, 0)]),
              [(0, 2, 2)])
    assert tab.read().first()["content"] == "v3"


def test_rollback_and_read_asof(spark, tmp_path):
    """Iceberg-style rollback: history moves forward, bytes move back, and
    the undone manifest ranges leave the committed set so replay re-applies
    them; read_asof = timestamp-spelled time travel."""
    import time as _time

    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    u1 = _df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0)])
    u2 = _df(spark, [("r", "a", "c2" * 20, "v2", "upsert", 5, 0)])
    tab.merge(u1, [(0, 0, 9)])
    sid1 = tab.latest()["snapshot_id"]
    s1 = _state(tab)
    t1 = _time.time()
    _time.sleep(0.05)
    tab.merge(u2, [(0, 10, 19)])
    s2 = _state(tab)
    assert s1 != s2

    # timestamp time travel reads the pre-u2 state
    asof = {
        (r["repo"], r["path"]): (r["commit"], r["content"], r["last_offset"])
        for r in tab.read_asof(t1).collect()
    }
    assert asof == s1

    # rollback: state back, manifest range uncommitted, history forward
    res = tab.rollback(sid1)
    assert res["status"] == "rolled_back"
    assert _state(tab) == s1
    assert not tab.is_committed(0, 10, 19)
    assert tab.latest()["snapshot_id"] > sid1
    assert tab.rollback(tab.latest()["snapshot_id"])["status"] == "noop"

    # replaying the undone batch reconverges to the original final state
    tab.merge(u2, [(0, 10, 19)])
    assert _state(tab) == s2

    # beyond the retention horizon both spellings refuse
    tab.expire_snapshots(keep_last=1, min_age_sec=0.0)
    with pytest.raises(FileNotFoundError):
        tab.rollback(sid1)
    with pytest.raises(FileNotFoundError):
        tab.read_asof(0.0)


def test_zone_map_stats_prune_incremental_reads(spark, tmp_path):
    """Opt-in per-file min/max stats (field-id keyed) let read_changes skip
    non-overlapping new files at plan time; state reads never stats-prune."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    with pytest.raises(ValueError, match="numeric"):
        tab.create(FIELDS, stats_cols=["content"])
    tab.create(FIELDS, stats_cols=["last_offset"])
    base_id = tab.latest()["snapshot_id"]

    def batch(lo):
        rows = [(f"r{lo}", f"p{i}", f"c{i:02d}" * 10, f"v{lo}", "upsert", lo + i, 0)
                for i in range(10)]
        return _df(spark, rows)

    for lo in (0, 100, 200):
        tab.merge(batch(lo), [(0, lo, lo + 9)])

    # every new file entry carries [min, max] for the stats column
    snap = tab.latest()["tables"]["t"]
    fid = str(next(f["id"] for f in snap["schemas"][-1]["fields"]
                   if f["name"] == "last_offset"))
    ents = [f for ent in snap["buckets"].values() for f in ent["files"]]
    assert ents and all(fid in f.get("stats", {}) for f in ents)

    # range hitting only the middle batch: rows exact AND files pruned to
    # that batch's snapshot dir (plan-time skip, not just a row filter)
    ch = tab.read_changes(base_id, where_between=("last_offset", 100, 109))
    assert sorted(r["last_offset"] for r in ch.collect()) == list(range(100, 110))
    mid_snap = base_id + 2  # create, merge0, merge100
    assert ch.inputFiles() and all(f"snap-{mid_snap}" in p for p in ch.inputFiles())
    # unpruned incremental read touches all three merges' files
    allch = tab.read_changes(base_id)
    assert len(allch.inputFiles()) > len(ch.inputFiles())

    # rename keeps stats working: they are keyed by field id, and
    # stats_cols follows the rename
    tab.evolve(rename={"last_offset": "off"})
    assert tab.latest()["tables"]["t"]["stats_cols"] == ["off"]
    tab.merge(
        _df(spark, [("rX", "pX", "cX" * 10, "vX", "upsert", 300, 0)]),
        [(0, 300, 300)],  # snapshot's remapped key/order cols apply
    )
    ch2 = tab.read_changes(base_id, where_between=("off", 300, 400))
    assert [r["off"] for r in ch2.collect()] == [300]
    assert all(f"snap-{tab.latest()['snapshot_id']}" in p for p in ch2.inputFiles())

    # unknown column refused; state read unaffected by stats machinery
    with pytest.raises(KeyError):
        tab.read_changes(base_id, where_between=("nope", 0, 1))
    assert tab.read().count() == 31


def test_rebucket_partition_evolution(spark, tmp_path):
    """Rebucket = full LWW rewrite into a new bucket count: state hash
    identical, manifests carried (replay resumption unaffected), lookups
    route through the new layout, incremental reads refuse the boundary."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS, stats_cols=["last_offset"])
    rows = [(f"r{i}", f"p{i}", f"c{i:02d}" * 10, f"v{i}", "upsert", i, 0)
            for i in range(40)]
    for i in range(0, 40, 10):
        tab.merge(_df(spark, rows[i:i + 10]), [(0, i, i + 9)])
    pre_id = tab.latest()["snapshot_id"]
    before = _state(tab)

    res = tab.rebucket(16)
    assert res["status"] == "rebucketed"
    assert tab.latest()["n_buckets"] == 16
    assert _state(tab) == before
    assert max(int(b) for b in tab.latest()["tables"]["t"]["buckets"]) < 16
    # manifests preserved: re-applying an old range is still a no-op
    assert tab.merge(_df(spark, rows[:10]), [(0, 0, 9)])["status"] == "skipped"
    # point lookup routes through the NEW layout (single bucket read)
    hit = tab.lookup(repo="r7", path="p7")
    assert hit.count() == 1 and hit.first()["content"] == "v7"
    # rewritten files keep zone-map stats
    ents = [f for e in tab.latest()["tables"]["t"]["buckets"].values() for f in e["files"]]
    assert all("stats" in f for f in ents)
    # incremental read across the rewrite refuses (file-identity boundary)
    with pytest.raises(ValueError, match="boundary"):
        tab.read_changes(pre_id)
    assert tab.rebucket(16)["status"] == "noop"
    with pytest.raises(ValueError, match="positive"):
        tab.rebucket(0)
    # a post-rebucket merge keeps converging under the new layout
    tab.merge(_df(spark, [("r7", "p7", "cZ" * 10, "v7b", "upsert", 99, 0)]),
              [(0, 99, 99)])
    assert tab.lookup(repo="r7", path="p7").first()["content"] == "v7b"


def test_random_lifecycle_with_rollback_rebucket_matches_model(spark, tmp_path, spark_jobs):
    """Model-based check over the FULL lifecycle vocabulary: merge /
    compact / expire / rename-evolve / widen / rebucket / rollback in a
    seeded random interleaving must track a plain-dict LWW model — with
    rollback restoring both the model state AND the schema epoch (a
    rollback across a rename reverts the column name too). After every
    step the driver-side ``lookup`` of a sampled live, deleted and absent
    key equals the model and the Spark reference path, and a NULL key part
    reads empty."""
    import random

    rng = random.Random(4321)
    pick = random.Random(99)  # key sampling; keeps rng's step sequence
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    tab.create(FIELDS)
    model: dict[tuple, tuple] = {}
    content_col = "content"
    offset = 0
    widened = False
    # model state per committed snapshot id (rollback restores from here)
    snaps = {tab.latest()["snapshot_id"]: (dict(model), content_col)}

    for step in range(24):
        op = rng.choice(
            ["merge", "merge", "merge", "compact", "expire", "evolve",
             "rebucket", "widen", "rollback"]
        )
        if op == "merge":
            rows, n = [], rng.randint(1, 4)
            for _ in range(n):
                k = (f"r{rng.randint(0, 2)}", f"p{rng.randint(0, 5)}")
                kind = "delete" if rng.random() < 0.2 else "upsert"
                commit = (f"c{rng.randint(0, 99):02d}" * 10)[:40]
                val = None if kind == "delete" else f"v{step}-{offset}"
                rows.append((k[0], k[1], commit, val, kind, offset, 0))
                order = (offset, 0, commit)
                if k not in model or order > model[k][0]:
                    model[k] = (order, val, kind)
                offset += 1
            df = spark.createDataFrame(
                rows,
                f"repo string, path string, commit string, {content_col} string,"
                " op string, last_offset bigint, last_partition_id int",
            )
            tab.merge(df, [(0, offset - n, offset - 1)])
        elif op == "compact":
            tab.compact(force=rng.random() < 0.5)
        elif op == "expire":
            tab.expire_snapshots(keep_last=rng.randint(2, 4))
        elif op == "evolve":
            new = f"{content_col}_r{step}"
            tab.evolve(rename={content_col: new})
            content_col = new
        elif op == "rebucket":
            tab.rebucket(rng.choice([2, 4, 8]))
        elif op == "widen" and not widened:
            tab.evolve(widen={"last_partition_id": "bigint"})
            widened = True
        elif op == "rollback":
            latest = tab.latest()["snapshot_id"]
            targets = [
                s["snapshot_id"] for s in tab.history()
                if s["snapshot_id"] in snaps and s["snapshot_id"] != latest
            ]
            if targets:
                t = rng.choice(targets)
                tab.rollback(t)
                saved_model, saved_col = snaps[t]
                model = dict(saved_model)
                content_col = saved_col
                # schema epoch may have reverted past the widen
                latest_snap = tab.latest()["tables"]["t"]
                cur = next(
                    s for s in latest_snap["schemas"]
                    if s["schema_id"] == latest_snap["current_schema_id"]
                )
                widened = any(
                    f["name"] == "last_partition_id" and f["type"] == "bigint"
                    for f in cur["fields"]
                )
        snaps[tab.latest()["snapshot_id"]] = (dict(model), content_col)

        live = [k for k, (_, _, kind) in model.items() if kind != "delete"]
        deleted = [k for k, (_, _, kind) in model.items() if kind == "delete"]
        for k in [pick.choice(ks) for ks in (live, deleted) if ks] + [("r9", "p9")]:
            key = {"repo": k[0], "path": k[1]}
            fast = [r.asDict() for r in tab.lookup(**key).collect()]
            assert fast == [r.asDict() for r in tab._lookup_spark("t", key).collect()]
            want_v = [model[k][1]] if k in live else []
            assert [r[content_col] for r in fast] == want_v, (step, op, k)
        assert spark_jobs(lambda: tab.lookup(repo="r0", path=None).collect()) == ([], [])

    got = {(r["repo"], r["path"]): r[content_col] for r in tab.read().collect()}
    want = {k: v for k, (o, v, kind) in model.items() if kind != "delete"}
    assert got == want


def test_evolve_drop_stats_col_keeps_merges_working(spark, tmp_path):
    """r4 ADVICE: dropping a stats column used to leave its stale name in
    stats_cols (the rename remap falls back to the old name once the field
    id vanishes), so every later merge raised UNRESOLVED_COLUMN inside
    _collect_file_stats and orphaned its written files each attempt."""
    fields = [("k", "string"), ("off", "bigint"), ("score", "double")]
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tab.create(fields, key_cols=["k"], order_cols=["off"],
               stats_cols=["off", "score"])
    base = tab.latest()["snapshot_id"]

    def b(lo):
        rows = [(f"k{lo + i}", lo + i, float(i)) for i in range(3)]
        return spark.createDataFrame(rows, "k string, off bigint, score double")

    tab.merge(b(0), [(0, 0, 9)])
    tab.evolve(drop=["score"])
    assert tab.latest()["tables"]["t"]["stats_cols"] == ["off"]  # retired name left the list
    upd = spark.createDataFrame(
        [(f"k{10 + i}", 10 + i) for i in range(3)], "k string, off bigint"
    )
    assert tab.merge(upd, [(0, 10, 19)])["status"] == "committed"  # used to raise
    assert tab.read().count() == 6
    # the surviving stats col still collects and prunes
    ch = tab.read_changes(base, where_between=("off", 10, 19))
    assert sorted(r["off"] for r in ch.collect()) == [10, 11, 12]


def test_read_changes_reduced_with_range_is_lww_among_in_range(spark, tmp_path):
    """Documented semantic (r4 ADVICE): reduced + where_between = LWW among
    the IN-RANGE changes only. A key whose newest change falls outside the
    range reports its newest in-range change — NOT its global latest (the
    only semantic consistent with zone-map file pruning). Consumers wanting
    'latest state of keys touched in range' reduce first, then filter."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=2)
    tab.create(FIELDS)
    base = tab.latest()["snapshot_id"]
    tab.merge(_df(spark, [("r", "a", "c1" * 20, "v1", "upsert", 1, 0)]),
              [(0, 0, 9)])
    tab.merge(_df(spark, [("r", "a", "c2" * 20, "v2", "upsert", 100, 0)]),
              [(0, 10, 19)])
    got = tab.read_changes(
        base, reduced=True, where_between=("last_offset", 0, 50)
    ).collect()
    assert [(r["content"], r["last_offset"]) for r in got] == [("v1", 1)]
    # without the range the same reduced read reports the global latest
    allr = tab.read_changes(base, reduced=True).collect()
    assert [r["content"] for r in allr] == ["v2"]


def test_read_for_keys_prunes_to_touched_buckets(spark, tmp_path):
    """Batch point-read: only the storage buckets the key frame hashes into
    are opened — the primitive that makes incremental joins O(batch)."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=16)
    tab.create(FIELDS)
    rows = [(f"r{i}", f"p{i}", f"c{i:02d}" * 10, f"v{i}", "upsert", i, 0)
            for i in range(64)]
    tab.merge(_df(spark, rows), [(0, 0, 63)])

    keys = spark.createDataFrame([("r7", "p7"), ("r9", "p9")],
                                 "repo string, path string")
    hit = tab.read_for_keys(keys)
    got = {(r["repo"], r["path"]): r["content"] for r in hit.collect()}
    assert got[("r7", "p7")] == "v7" and got[("r9", "p9")] == "v9"
    # strictly fewer files than the full state read (bucket pruning, not a
    # post-hoc filter) — 2 keys touch ≤ 2 of 16 buckets
    assert 0 < len(hit.inputFiles()) < len(tab.read().inputFiles())
    # LWW semantics preserved inside the touched bucket
    tab.merge(_df(spark, [("r7", "p7", "cZ" * 10, "v7b", "upsert", 99, 0)]),
              [(0, 99, 99)])
    again = tab.read_for_keys(keys)
    assert {r["content"] for r in again.where("repo = 'r7'").collect()} == {"v7b"}
    # missing key columns refused
    with pytest.raises(KeyError, match="key columns"):
        tab.read_for_keys(spark.createDataFrame([("r1",)], "repo string"))

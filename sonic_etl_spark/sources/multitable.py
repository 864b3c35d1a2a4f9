"""Transactional table sets: N merge-on-read tables under ONE snapshot log.

The reference's core dataflow produces several typed tables from one
extraction pass — ``PerBlockRecords`` carries 6 record vectors
(extractor_transformer/src/sonic_config/mod.rs:305-314), each published to
its own named sink (mod.rs:501-574, streampublisher.rs:29-76) — but each
table is acked independently, so a crash mid-publish leaves the tables
mutually inconsistent until the nightly QC DAGs reconcile them
(daily_qc_airflow/row_counts.py:16-22 joins parent↔child counts to find the
drift). This module upgrades that: all fan-out tables commit under ONE
snapshot pointer flip, so every (partition, offset-range) manifest entry is
either applied to ALL tables or NONE — cross-table atomicity by
construction, no reconciliation DAG needed.

This is the one storage core: the single table
(:class:`~sonic_etl_spark.sources.table.TransactionalParquetTable`) is a
set of one. The snapshot JSON carries a ``tables`` map (per member: field-id
schemas, key/order/bucket/stats columns, bucket → file entries) next to the
shared ``n_buckets`` and ``manifests``; data files live under
``data/snap-N/<member>/_pb=K``. See ``sources/table.py`` for the contract
(snapshot log, merge-on-read buckets, idempotent manifests, field-id
evolution, LWW semantics).

At 100 TB: each entry of ``tables`` becomes its own Iceberg table and the
shared snapshot becomes a multi-table transaction (Iceberg REST catalog
``commitTransaction`` across tables); the engine-side dataflow — decode once,
project N ways, one atomic commit — is unchanged.
"""

from __future__ import annotations

import json
import operator
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from functools import reduce

import pyarrow as pa
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

LATEST = "_latest.json"
SNAP_DIR = "_snapshots"
DATA_DIR = "data"

# lossless type promotions (Iceberg evolution rule): widening only — a
# narrowing or int→float would corrupt order/key comparisons on old rows
_TYPE_ALIASES = {"long": "bigint", "integer": "int", "real": "float"}
_WIDEN_OK = {("int", "bigint"), ("float", "double")}

# column types eligible for per-file zone-map stats (JSON-safe, totally
# ordered; timestamps/strings are excluded to keep manifest stats portable)
_STATS_TYPES = {"int", "bigint", "double", "float", "smallint", "tinyint"}


def _norm_type(t: str) -> str:
    t = t.strip().lower()
    return _TYPE_ALIASES.get(t, t)


class CommitConflict(Exception):
    """Another writer advanced the table between our read and our commit."""


@dataclass
class TableSpec:
    """Schema + merge identity of one member table."""

    fields: list[tuple[str, str]]  # [(name, ddl_type)]
    key_cols: list[str]
    order_cols: list[str]
    # bucket the data by these columns (default: key_cols) so upserts are
    # co-located; quarantine-style append-mostly tables can bucket wider
    bucket_cols: list[str] = field(default_factory=list)
    # opt-in zone-map columns (numeric): per-file min/max in the manifest,
    # consumed by read_changes(where_between=...)
    stats_cols: list[str] = field(default_factory=list)


def _bucket_expr(n_buckets: int, cols: list[str]) -> F.Column:
    """Bucket id = xxhash64 of the member's bucket columns mod n_buckets.
    Always fed the SNAPSHOT's (possibly renamed) columns and bucket count:
    the writer and the point readers must hash the same way."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_buckets)).cast("int")


def _driver_bucket(
    spark: SparkSession, n_buckets: int, typed: list[tuple[str, object]]
) -> int | None:
    """The bucket :func:`_bucket_expr` gives a row holding these
    ``(ddl_type, value)`` pairs, computed on the driver by the JVM's own
    ``XXH64`` (no Spark job). ``xxhash64`` chains the columns: each one's
    hash seeds the next, from 42. Over py4j the static ``hashInt``/
    ``hashLong`` overloads are unreachable (instance methods share the
    names), so ints go through an instance seeded with the running hash.
    Python's ``%`` is ``pmod`` for a positive modulus. ``None`` when a
    type or value is outside int/bigint/string. The classes are named by
    their full names, which costs no py4j round trip (walking
    ``spark._jvm.org...`` costs one per package)."""
    client = spark._jvm._gateway_client
    xxh = JavaClass("org.apache.spark.sql.catalyst.expressions.XXH64", client)
    utf8 = JavaClass("org.apache.spark.unsafe.types.UTF8String", client)
    h = 42
    for ddl_type, v in typed:
        t = _norm_type(ddl_type)
        bits = {"int": 32, "bigint": 64}.get(t)
        if bits and type(v) is int and -(1 << bits - 1) <= v < 1 << bits - 1:
            h = xxh(h).hashInt(v) if bits == 32 else xxh(h).hashLong(v)
        elif t == "string" and isinstance(v, str):
            h = xxh.hashUTF8String(utf8.fromString(v), h)
        else:
            return None
    return h % n_buckets


def _lww_reduce(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """One winning row per key: max_by over the total order (map-side partial
    aggregation; no row_number/full-sort shuffle). Read-time resolution and
    the batch reduce (``operators.merge.salted_lww``, both phases) share
    this one definition, so both pick the same winner."""
    payload = [c for c in df.columns if c not in key_cols]
    return (
        df.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*payload), F.struct(*[F.col(c) for c in order_cols])
            ).alias("_r")
        )
        .select(*key_cols, "_r.*")
    )


def _live(df: DataFrame) -> DataFrame:
    """Drop delete tombstones. Null-safe: a NULL op (producer lacked the
    column; backfilled by the field-id projection) is NOT a tombstone."""
    return df.filter(~F.col("op").eqNullSafe("delete")) if "op" in df.columns else df


def _schema(tbl: dict, schema_id: int | None = None) -> dict:
    """A member's schema by id (default: its current schema)."""
    sid = tbl["current_schema_id"] if schema_id is None else schema_id
    for s in tbl["schemas"]:
        if s["schema_id"] == sid:
            return s
    raise KeyError(f"schema_id {sid} not found")


def _ddl(schema: dict) -> str:
    return ", ".join(f"`{f['name']}` {f['type']}" for f in schema["fields"])


def _files(tbl: dict) -> list[dict]:
    return [f for ent in tbl["buckets"].values() for f in ent["files"]]


def _validate_stats_cols(fields: list[tuple[str, str]], stats_cols: list[str]) -> None:
    """stats_cols must name numeric columns of ``fields`` (zone-map rule)."""
    types = dict(fields)
    for c in stats_cols:
        if c not in types:
            raise KeyError(f"stats_cols: no column {c!r}")
        if _norm_type(types[c]) not in _STATS_TYPES:
            raise ValueError(
                f"stats_cols: {c!r} is {types[c]} — only numeric columns "
                f"carry zone-map stats ({sorted(_STATS_TYPES)})"
            )


class _TableSetCore:
    """Snapshot log + bucketed merge-on-read files for named member tables.

    Every lifecycle operation exists once, here. Member-addressed operations
    are private and take the member name; :class:`TransactionalTableSet`
    exposes them by name and ``TransactionalParquetTable`` for its single
    member. Internal snapshot reads go through the public :meth:`latest`,
    so each public call costs the same snapshot reads whichever class it
    arrives through."""

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 32):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        os.makedirs(os.path.join(path, SNAP_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, DATA_DIR), exist_ok=True)

    # ------------------------------------------------------------- snapshots
    def _latest_path(self) -> str:
        return os.path.join(self.path, LATEST)

    def latest(self) -> dict | None:
        p = self._latest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            sid = json.load(f)["snapshot_id"]
        return self.snapshot(sid)

    def snapshot(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.path, SNAP_DIR, f"snap-{snapshot_id}.json")) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """Retained snapshots, oldest first — the lineage.

        Stops at the expiry horizon: a parent pruned by
        :meth:`expire_snapshots` ends the walk (parent_id stays recorded in
        the oldest retained snapshot as provenance)."""
        out = []
        snap = self.latest()
        while snap is not None:
            out.append(snap)
            pid = snap.get("parent_id")
            try:
                snap = self.snapshot(pid) if pid is not None else None
            except FileNotFoundError:
                snap = None  # expired beyond the retention horizon
        return list(reversed(out))

    def _commit_snapshot(self, snap: dict, expected_parent: int | None) -> None:
        """Write snap json, then atomically flip the pointer (optimistic CC)."""
        cur = self.latest()
        cur_id = cur["snapshot_id"] if cur else None
        if cur_id != expected_parent:
            raise CommitConflict(f"expected parent {expected_parent}, found {cur_id}")
        sp = os.path.join(self.path, SNAP_DIR, f"snap-{snap['snapshot_id']}.json")
        with open(sp, "w") as f:
            json.dump(snap, f)
        tmp = self._latest_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": snap["snapshot_id"]}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._latest_path())  # atomic on POSIX

    def _commit_child(self, parent: dict, metrics: dict, **changes) -> dict:
        """Commit the child of ``parent``: same layout, tables and manifests
        unless ``changes`` replaces them."""
        snap = {
            **parent,
            **changes,
            "snapshot_id": parent["snapshot_id"] + 1,
            "parent_id": parent["snapshot_id"],
            "metrics": metrics,
            "committed_at": time.time(),
        }
        self._commit_snapshot(snap, expected_parent=parent["snapshot_id"])
        return snap

    def _parent(self) -> dict:
        parent = self.latest()
        if parent is None:
            raise FileNotFoundError(f"table {self.path} does not exist; create() first")
        return parent

    def _table(self, name: str, snap: dict | None = None) -> tuple[dict, dict]:
        """(snapshot, member entry); the latest snapshot unless given."""
        snap = snap or self.latest()
        if snap is None or name not in snap["tables"]:
            raise FileNotFoundError(f"table {name} not in {self.path}")
        return snap, snap["tables"][name]

    def _create(self, tables: dict[str, TableSpec]) -> dict:
        """Create the set with an empty snapshot (no-op if it exists)."""
        if self.latest() is not None:
            return self.latest()
        tbls = {}
        for name, spec in tables.items():
            _validate_stats_cols(spec.fields, spec.stats_cols)
            fields = [{"id": i, "name": n, "type": t} for i, (n, t) in enumerate(spec.fields)]
            tbls[name] = {
                "schemas": [{"schema_id": 0, "fields": fields}],
                "current_schema_id": 0,
                "key_cols": spec.key_cols,
                "order_cols": spec.order_cols,
                "bucket_cols": spec.bucket_cols or spec.key_cols,
                "stats_cols": spec.stats_cols,
                "buckets": {},
            }
        snap = {
            "snapshot_id": 1,
            "parent_id": None,
            "n_buckets": self.n_buckets,
            "tables": tbls,
            "manifests": [],
            "metrics": {},
            "committed_at": time.time(),
        }
        self._commit_snapshot(snap, expected_parent=None)
        return snap

    # ------------------------------------------------------------- manifests
    def committed_ranges(self) -> set[tuple[int, int, int]]:
        """Offset-range entries only (the planner's resumption input).
        Non-range idempotency entries (e.g. ("retry", tag) from
        streaming.fanout.retry_quarantine) live in the same manifest set but
        are filtered here — the planner unpacks (pid, start, end) triples."""
        snap = self.latest()
        if snap is None:
            return set()
        return {tuple(m) for m in snap["manifests"] if len(m) == 3}

    def committed_marks(self) -> set[tuple]:
        """Non-range idempotency entries (len != 3): retry tags, a CDC
        consumer's ("src", snapshot_id) frontier marks."""
        snap = self.latest()
        if snap is None:
            return set()
        return {tuple(m) for m in snap["manifests"] if len(m) != 3}

    # ----------------------------------------------------------------- reads
    def _scan(self, tbl: dict, bucket_ids: list[str]) -> DataFrame:
        """Raw (pre-LWW) rows of the given buckets projected to the current
        schema by FIELD ID: every data file remembers the schema it was
        written under; columns are renamed/backfilled by id (Iceberg
        add/rename-safe reads)."""
        cur = _schema(tbl)
        by_schema: dict[int, list[str]] = {}
        for b in bucket_ids:
            for f in tbl["buckets"].get(b, {"files": []})["files"]:
                path = os.path.join(self.path, f["path"])
                by_schema.setdefault(f["schema_id"], []).append(path)
        if not by_schema:
            return self.spark.createDataFrame([], _ddl(cur))
        parts = []
        for schema_id, paths in by_schema.items():
            raw = self.spark.read.parquet(*paths)
            name_at_write = {f["id"]: f["name"] for f in _schema(tbl, schema_id)["fields"]}
            cols = []
            for f in cur["fields"]:
                old = name_at_write.get(f["id"])
                src = F.col(old) if old in raw.columns else F.lit(None)
                cols.append(src.cast(f["type"]).alias(f["name"]))
            parts.append(raw.select(*cols))
        return reduce(DataFrame.unionByName, parts)

    def _state(self, tbl: dict, bucket_ids: list[str]) -> DataFrame:
        """LWW state (tombstones kept) of the given buckets of one member."""
        return _lww_reduce(self._scan(tbl, bucket_ids), tbl["key_cols"], tbl["order_cols"])

    def _read(
        self, name: str, snap: dict | None = None, include_tombstones: bool = False
    ) -> DataFrame:
        """Converged state of one member: its base+delta files projected to
        the current schema, LWW-reduced per key (merge-on-read)."""
        _, tbl = self._table(name, snap)
        df = self._state(tbl, list(tbl["buckets"]))
        return df if include_tombstones else _live(df)

    def _read_asof(self, name: str, ts: float) -> DataFrame:
        """Time travel by wall clock: the state as of the latest retained
        snapshot committed at or before ``ts`` (epoch seconds; Iceberg's
        ``as-of-timestamp``). The log is shared, so several members read at
        the same ``ts`` form a CONSISTENT cross-table cut. Raises beyond the
        retention horizon."""
        eligible = [s for s in self.history() if s.get("committed_at", 0.0) <= ts]
        if not eligible:
            raise FileNotFoundError(
                f"no retained snapshot at or before ts={ts} "
                f"(retention horizon may have expired it)"
            )
        return self._read(name, snap=eligible[-1])

    def _lookup(self, name: str, key: dict) -> DataFrame:
        """Point read (the serving path), served on the driver with no Spark
        job. Pass the key by CURRENT column names (post-rename names after
        evolve).

        The key hashes to its ONE bucket by the JVM's own XXH64 over the
        member's bucket columns, mod the SNAPSHOT's ``n_buckets``
        (:func:`_driver_bucket`, equal to :func:`_bucket_expr`); pyarrow
        reads that bucket's files filtered on the key's own equality, one
        row group at a time, each projected by field id from its
        ``schema_id`` as :meth:`_scan` does; the candidates resolve by
        ``_lww_reduce``'s order (ascending struct order, NULLs first) and a
        tombstone winner reads as absent (:func:`_live`). The result is an
        Arrow-backed local relation: ``collect()`` on it runs no job, but
        ``count()`` and ``first()`` still launch Spark jobs, so zero-job
        callers collect.
        Files are never pruned by zone-map stats here (a pruned delta file
        can hide the LWW winner). A NULL key part matches nothing. Key
        types other than int, bigint and string take the Spark path,
        :meth:`_lookup_spark`."""
        snap, tbl = self._table(name)
        kc = tbl["key_cols"]
        if sorted(key) != sorted(kc):
            raise KeyError(f"lookup needs exactly the key columns {kc}")
        cur = _schema(tbl)
        schema = StructType.fromDDL(_ddl(cur))
        target = to_arrow_schema(schema)
        if any(key[c] is None for c in kc):
            return self.spark.createDataFrame(target.empty_table(), schema)
        types = {f["name"]: f["type"] for f in cur["fields"]}
        bucket = _driver_bucket(
            self.spark, snap["n_buckets"], [(types[c], key[c]) for c in tbl["bucket_cols"]]
        )
        if bucket is None:
            return self._lookup_spark(name, key, snap)
        ids = {f["name"]: f["id"] for f in cur["fields"]}
        parts = [target.empty_table()]
        for fent in tbl["buckets"].get(str(bucket), {"files": []})["files"]:
            at_write = {f["id"]: f["name"] for f in _schema(tbl, fent["schema_id"])["fields"]}
            match = reduce(operator.and_, [ds.field(at_write[ids[c]]) == key[c] for c in kc])
            raw = ds.dataset(os.path.join(self.path, fent["path"]), format="parquet")
            raw = raw.to_table(filter=match)
            cols = []
            for f, tf in zip(cur["fields"], target):
                old = at_write.get(f["id"])
                col = raw[old] if old in raw.column_names else pa.nulls(raw.num_rows)
                cols.append(col.cast(tf.type))
            parts.append(pa.Table.from_arrays(cols, schema=target))
        rows = pa.concat_tables(parts)
        if rows.num_rows:
            order = rows.select(tbl["order_cols"]).to_pylist()
            best = max(
                range(len(order)),
                key=lambda i: [(v is not None, v) for v in order[i].values()],
            )
            rows = rows.slice(best, 1)
            if "op" in rows.column_names and rows["op"][0].as_py() == "delete":
                rows = rows.slice(0, 0)
        return self.spark.createDataFrame(rows, schema)

    def _lookup_spark(self, name: str, key: dict, snap: dict | None = None) -> DataFrame:
        """The point read as Spark jobs: a one-row job for the bucket id,
        then that bucket's scan filtered to the key and LWW-resolved. The
        fallback for key types the driver hash does not cover, and the
        reference the driver path is tested against."""
        snap, tbl = self._table(name, snap)
        kc, bc = tbl["key_cols"], tbl["bucket_cols"]
        types = {f["name"]: f["type"] for f in _schema(tbl)["fields"]}
        one = self.spark.createDataFrame(
            [tuple(key[c] for c in bc)], ", ".join(f"`{c}` {types[c]}" for c in bc)
        )
        bucket = one.select(_bucket_expr(snap["n_buckets"], bc).alias("b")).first()["b"]
        df = self._scan(tbl, [str(bucket)])
        for c in kc:
            df = df.where(F.col(c) == key[c])
        return _live(_lww_reduce(df, kc, tbl["order_cols"]))

    def _read_for_keys(self, name: str, keys: DataFrame) -> DataFrame:
        """Batch point-read (the incremental-join primitive): LWW state
        restricted to the storage buckets that could hold any key in
        ``keys`` — a frame carrying the member's key columns (extra
        columns ignored). Cost is (touched buckets / n_buckets) of the
        table: a small batch joined against a 100 TB state table reads only
        the buckets the batch's keys hash into, never the table. With
        ``n_buckets`` sized ∝ corpus (rebucket() as it grows), per-batch
        I/O stays ∝ batch, which is what makes incremental maintenance
        (operators/incremental.py) O(new docs).

        The bucket-id collect is O(distinct touched buckets) ≤ n_buckets —
        control-plane, never data rows. Returns the same shape as a state
        read (tombstones filtered); the caller joins the result against its
        batch on the key columns."""
        snap, tbl = self._table(name)
        missing = [c for c in tbl["key_cols"] if c not in keys.columns]
        if missing:
            raise KeyError(f"read_for_keys: keys frame lacks key columns {missing}")
        bucket = _bucket_expr(snap["n_buckets"], tbl["bucket_cols"]).alias("b")
        bids = [str(r["b"]) for r in keys.select(bucket).distinct().collect()]
        return _live(self._state(tbl, [b for b in bids if b in tbl["buckets"]]))

    def _read_changes(
        self,
        name: str,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        reduced: bool = False,
        where_between: tuple[str, float, float] | None = None,
    ) -> DataFrame:
        """Incremental scan (Iceberg incremental-append-read analog): the
        rows APPENDED to one member between two snapshots — the converged
        table's own CDC-out stream for downstream consumers.

        Diffing is by data-file identity, so an incremental consumer's cost
        is O(new data), never O(table). ``from_snapshot_id=None`` reads
        since creation; ``reduced=True`` LWW-reduces the changes to one row
        per key (the latest state among the changed rows — what a
        downstream MERGE wants).

        Compaction/expiry rewrite files without changing state, so an
        incremental read across such a boundary would replay old rows as
        changes; that case is DETECTED (files present at ``from`` missing
        at ``to``) and raises — the consumer re-syncs with a full read (the
        same restriction Iceberg places on its incremental append scan).

        ``where_between=(col, lo, hi)`` (inclusive): filter the changes to
        a numeric range AND, when the member carries zone-map stats for
        ``col`` (``stats_cols``), skip new files whose [min, max] cannot
        overlap — they never reach Spark's file listing. Files without
        stats for the column are conservatively kept. Sound here (the
        change feed is append-shaped); the LWW state read never file-prunes
        on stats.

        ``reduced=True`` combined with ``where_between`` means **LWW among
        the in-range changes only**: the range filter (row AND file level)
        applies BEFORE the reduce, so a key whose newest change falls
        outside the range reports its newest IN-RANGE change — NOT the
        key's globally-latest state. That is the only semantic consistent
        with zone-map file pruning (a pruned file by definition holds only
        out-of-range rows, so pruning and the row filter agree); consumers
        that need "latest state of keys touched in the range" must reduce
        first themselves: ``read_changes(reduced=True)`` then filter.
        """
        to_snap = self.latest() if to_snapshot_id is None else self.snapshot(to_snapshot_id)
        _, tbl = self._table(name, to_snap)
        from_files: set[str] = set()
        if from_snapshot_id is not None:
            from_tbl = self.snapshot(from_snapshot_id)["tables"][name]
            from_files = {f["path"] for f in _files(from_tbl)}
        rewritten = from_files - {f["path"] for f in _files(tbl)}
        if rewritten:
            raise ValueError(
                f"incremental read of {name!r} crosses a compaction/expiry "
                f"boundary ({len(rewritten)} base files rewritten); re-sync "
                "with a full read()"
            )
        fid = None
        if where_between is not None:
            col, lo, hi = where_between
            hit = [f for f in _schema(tbl)["fields"] if f["name"] == col]
            if not hit:
                raise KeyError(f"where_between: no column {col!r} in {name}")
            fid = str(hit[0]["id"])

        def keep(fent: dict) -> bool:
            if fent["path"] in from_files:
                return False
            st = fent.get("stats", {}).get(fid)
            # no stats for this column/file: conservatively keep
            return st is None or None in st or (st[1] >= lo and st[0] <= hi)

        new_buckets = {}
        for b, ent in tbl["buckets"].items():
            nf = [f for f in ent["files"] if keep(f)]
            if nf:
                new_buckets[b] = {"files": nf}
        df = self._scan({**tbl, "buckets": new_buckets}, list(new_buckets))
        if where_between is not None:
            df = df.where(F.col(col).between(lo, hi))
        return _lww_reduce(df, tbl["key_cols"], tbl["order_cols"]) if reduced else df

    def _files_per_bucket(self, name: str, snap: dict | None = None) -> dict[str, int]:
        _, tbl = self._table(name, snap)
        return {b: len(ent["files"]) for b, ent in tbl["buckets"].items()}

    def metrics_history(self) -> DataFrame:
        """Per-commit lineage + throughput as a queryable DataFrame (ST2/ST6:
        the checkpoint carries metrics; this surfaces them). One row per
        retained snapshot: ids, commit time, batch metrics recorded by the
        writer (rows, apply_sec, events_per_sec, manifest, compaction...).
        Driver-side O(retained snapshots) — bounded by expire_snapshots."""
        rows = [
            (
                s["snapshot_id"],
                s.get("parent_id"),
                float(s.get("committed_at", 0.0)),
                json.dumps(s.get("metrics", {}), sort_keys=True),
                int(s["metrics"].get("rows", 0) or 0),
                float(s["metrics"].get("apply_sec", 0.0) or 0.0),
                float(s["metrics"].get("events_per_sec", 0.0) or 0.0),
            )
            for s in self.history()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id bigint, parent_id bigint, committed_at double, "
            "metrics_json string, rows bigint, apply_sec double, "
            "events_per_sec double",
        )

    # ---------------------------------------------------------------- writes
    def _write(
        self,
        tbl: dict,
        n_buckets: int,
        snap_id: int,
        name: str,
        df: DataFrame,
        n_partitions: int,
    ) -> dict[str, dict]:
        """Write ``df`` for one member under ``data/snap-N/<member>``,
        bucket-partitioned; return each written bucket's file entry.

        Writer projection by FIELD ID: producer columns route to the current
        names, historical (pre-rename) names are accepted and columns the
        producer lacks are backfilled with NULL. ``_pb`` is the partition
        directory column only — parquet files hold exactly the schema
        columns. ``n_buckets`` and the bucket columns are the SNAPSHOT's
        (never the constructor's): a reopened table or a write after a
        key-column rename must not rehash rows into foreign bucket ids.
        Members with ``stats_cols`` record per-file min/max keyed by field
        id — one column-pruned aggregate over the fresh files (O(batch))."""
        cur = _schema(tbl)
        names: dict[int, list[str]] = {}  # field id -> names, newest first
        for sch in sorted(tbl["schemas"], key=lambda s: -s["schema_id"]):
            for f in sch["fields"]:
                names.setdefault(f["id"], []).append(f["name"])
        proj = []
        for f in cur["fields"]:
            src = next((n for n in names[f["id"]] if n in df.columns), None)
            col = F.lit(None) if src is None else F.col(src)
            proj.append(col.cast(f["type"]).alias(f["name"]))
        rel = os.path.join(DATA_DIR, f"snap-{snap_id}", name)
        out_dir = os.path.join(self.path, rel)
        (
            df.select(*proj)
            .withColumn("_pb", _bucket_expr(n_buckets, tbl["bucket_cols"]))
            .repartition(max(n_partitions, 1), F.col("_pb"))
            .write.partitionBy("_pb")
            .mode("overwrite")
            .parquet(out_dir)
        )
        written = [n.split("=", 1)[1] for n in os.listdir(out_dir) if n.startswith("_pb=")]
        entries = {
            b: {"path": os.path.join(rel, f"_pb={b}"), "schema_id": cur["schema_id"]}
            for b in written
        }
        cols = tbl["stats_cols"]
        if cols and written:
            ids = {f["name"]: f["id"] for f in cur["fields"]}
            aggs = []
            for c in cols:
                aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
            for r in self.spark.read.parquet(out_dir).groupBy("_pb").agg(*aggs).collect():
                entries[str(r["_pb"])]["stats"] = {
                    str(ids[c]): [r[f"_lo_{c}"], r[f"_hi_{c}"]] for c in cols
                }
        return entries

    def _merge_all(
        self,
        updates: dict[str, DataFrame],
        manifest_entries: list[tuple],
        metrics: dict | None = None,
        pre_commit_check=None,
    ) -> dict:
        """MERGE INTO every member in ``updates`` with LWW ordering under one
        idempotent manifest commit.

        Each ``updates[name]`` must already be one-row-per-key for its
        member (in-batch reduced by the caller; see
        operators.merge.reduce_batch). Merge-on-read: appends one delta file
        per affected bucket — O(batch) writes; the reader resolves LWW
        across files. Skips (no-op) if every manifest entry is already
        committed — the exactly-once guard (ST3 upgrade, SURVEY.md §2.8); on
        partial overlap the whole batch re-applies (max-merge is
        idempotent) and only the fresh entries are recorded. All members'
        files land first (crash ⇒ orphan files, no state change), then ONE
        pointer flip records every member's new files AND the entries.

        ``pre_commit_check``: called after the writes, before the pointer
        flip; raising aborts the commit, leaving only orphan files (the
        observation-based fail-the-batch hook that rides the write job)."""
        t0 = time.time()
        parent = self._parent()
        unknown = set(updates) - set(parent["tables"])
        if unknown:
            raise KeyError(f"unknown tables {sorted(unknown)}")
        committed = {tuple(m) for m in parent["manifests"]}
        fresh = [tuple(e) for e in manifest_entries if tuple(e) not in committed]
        if not fresh:
            return {"status": "skipped", "snapshot_id": parent["snapshot_id"]}

        new_id = parent["snapshot_id"] + 1
        n_buckets = parent["n_buckets"]
        tables = dict(parent["tables"])
        written = {}
        for name, df in updates.items():
            tbl = tables[name]
            entries = self._write(tbl, n_buckets, new_id, name, df, n_buckets)
            buckets = dict(tbl["buckets"])
            for b, fent in entries.items():
                buckets[b] = {"files": buckets.get(b, {"files": []})["files"] + [fent]}
            tables[name] = {**tbl, "buckets": buckets}
            written[name] = len(entries)
        if pre_commit_check is not None:
            pre_commit_check()  # raising here aborts: files orphan, no commit

        # per-commit lineage + throughput (ST2/ST6: checkpoint carries metrics)
        elapsed = time.time() - t0
        m = {**(metrics or {}), "buckets_written": sum(written.values())}
        m["apply_sec"] = round(elapsed, 3)
        if "rows" in m:
            m["events_per_sec"] = round(m["rows"] / elapsed, 1)
        manifests = parent["manifests"] + [list(e) for e in fresh]
        self._commit_child(parent, m, tables=tables, manifests=manifests)
        return {"status": "committed", "snapshot_id": new_id, "buckets_written": written}

    def _evolve(
        self,
        name: str,
        add: list[tuple[str, str]] | None = None,
        rename: dict[str, str] | None = None,
        widen: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> dict:
        """Schema-only snapshot for one member: add / rename / widen / drop
        by field id. Existing data files are untouched; readers map them to
        the new schema by field id (Iceberg semantics; the reference's
        analog is manual proto field reservation,
        schemas/proto/blocks.proto:144-146). Other members are unaffected.

        ``widen``: {column: new_type} — only LOSSLESS promotions
        (int→bigint, float→double, Iceberg's rule); old files cast up on
        read via the field-id projection, new files are written wide.
        ``drop``: columns disappear from reads and writes but the field id
        is retired FOREVER — fresh ids come from the max across ALL
        historical schemas, never just the current one, so a later add
        reusing the name can never resurrect the dropped column's bytes
        from old files (Iceberg's no-id-reuse rule). Key/order/bucket
        columns cannot be dropped."""
        parent, tbl = self._table(name)
        cur = _schema(tbl)
        fields = [dict(f) for f in cur["fields"]]

        def column(op: str, cname: str) -> dict:
            hit = [f for f in fields if f["name"] == cname]
            if not hit:
                raise KeyError(f"{op}: no column {cname!r} in {name}")
            return hit[0]

        protected = set(tbl["key_cols"]) | set(tbl["order_cols"]) | set(tbl["bucket_cols"])
        for cname in drop or []:
            f = column("drop", cname)
            if cname in protected:
                raise ValueError(f"drop: {cname!r} is a key/order/bucket column")
            fields.remove(f)
        for old, new in (rename or {}).items():
            column("rename", old)["name"] = new
        for cname, new_type in (widen or {}).items():
            f = column("widen", cname)
            if (_norm_type(f["type"]), _norm_type(new_type)) not in _WIDEN_OK:
                raise ValueError(
                    f"widen: {f['type']} -> {new_type} is not a "
                    f"lossless promotion (allowed: {sorted(_WIDEN_OK)})"
                )
            f["type"] = new_type
        # ids are retired forever: max over ALL schemas, never just current
        next_id = max((f["id"] for s in tbl["schemas"] for f in s["fields"]), default=-1) + 1
        for cname, typ in add or []:
            if any(f["name"] == cname for f in fields):
                raise KeyError(f"add: column {cname!r} exists in {name}")
            fields.append({"id": next_id, "name": cname, "type": typ})
            next_id += 1
        new_schema = {"schema_id": cur["schema_id"] + 1, "fields": fields}
        # renames can retitle key/order/bucket columns; keep them in sync by id
        id_by_old = {f["name"]: f["id"] for f in cur["fields"]}
        new_by_id = {f["id"]: f["name"] for f in fields}

        def remap(cols):
            return [new_by_id.get(id_by_old.get(c, -1), c) for c in cols]

        evolved = {
            **tbl,
            "schemas": tbl["schemas"] + [new_schema],
            "current_schema_id": new_schema["schema_id"],
            "key_cols": remap(tbl["key_cols"]),
            "order_cols": remap(tbl["order_cols"]),
            "bucket_cols": remap(tbl["bucket_cols"]),
            # stats_cols are droppable: a dropped column must leave the
            # list, else every later merge fails collecting its min/max
            "stats_cols": [
                new_by_id[id_by_old[c]]
                for c in tbl["stats_cols"]
                if id_by_old.get(c) in new_by_id
            ],
        }
        evolution = {
            "table": name,
            "add": add or [],
            "rename": rename or {},
            "widen": widen or {},
            "drop": drop or [],
        }
        return self._commit_child(
            parent, {"evolution": evolution}, tables={**parent["tables"], name: evolved}
        )

    # ----------------------------------------------------------- maintenance
    def compact(self, max_files_per_bucket: int = 8, force: bool = False) -> dict:
        """Fold buckets whose delta chains exceed ``max_files_per_bucket``
        back to one file each, in every member, under one commit (Iceberg
        rewrite_data_files analog). Tombstones are RETAINED so a
        late-replayed lower-order upsert still loses after compaction.
        Bounded read amplification: call every K batches from the replay
        loop, or force=True for full maintenance."""
        t0 = time.time()
        parent = self._parent()
        new_id = parent["snapshot_id"] + 1
        tables = dict(parent["tables"])
        n_victims = 0
        for name, tbl in parent["tables"].items():
            victims = [
                b
                for b, ent in tbl["buckets"].items()
                if force or len(ent["files"]) > max_files_per_bucket
            ]
            if not victims:
                continue
            entries = self._write(
                tbl, parent["n_buckets"], new_id, name,
                self._state(tbl, victims), n_partitions=len(victims),
            )
            stray = set(entries) - set(victims)
            if stray:
                raise RuntimeError(
                    f"{name}: compaction wrote bucket ids {sorted(stray)} outside "
                    f"the victim set {sorted(victims)} — bucket layout corrupted"
                )
            # a fully-empty bucket stays absent
            buckets = {b: ent for b, ent in tbl["buckets"].items() if b not in victims}
            buckets.update({b: {"files": [fent]} for b, fent in entries.items()})
            tables[name] = {**tbl, "buckets": buckets}
            n_victims += len(victims)
        if not n_victims:
            return {"status": "noop", "snapshot_id": parent["snapshot_id"]}
        compaction = {"buckets_compacted": n_victims, "compact_sec": round(time.time() - t0, 3)}
        self._commit_child(parent, {"compaction": compaction}, tables=tables)
        return {"status": "compacted", "snapshot_id": new_id, "buckets_compacted": n_victims}

    def rebucket(self, n_buckets: int) -> dict:
        """Partition evolution: rewrite EVERY member into a new bucket count
        under one commit (Iceberg partition-spec evolution, done eagerly —
        the bucket function is the merge/lookup routing, so old and new
        layouts cannot coexist within one snapshot, and n_buckets is shared
        across the set). One LWW-reduced full rewrite (tombstones retained,
        as in compaction; zone-map stats recollected); manifests carry
        over, so replay resumption and exactly-once are unaffected;
        subsequent merges/lookups hash into the new layout via the
        snapshot's n_buckets. Incremental readers crossing this snapshot
        see the usual rewrite-boundary refusal (file identity changed)."""
        if n_buckets <= 0:
            raise ValueError(f"rebucket: n_buckets must be positive, got {n_buckets}")
        parent = self._parent()
        if parent["n_buckets"] == n_buckets:
            return {"status": "noop", "snapshot_id": parent["snapshot_id"]}
        t0 = time.time()
        new_id = parent["snapshot_id"] + 1
        tables = {}
        for name, tbl in parent["tables"].items():
            state = self._state(tbl, list(tbl["buckets"]))
            entries = self._write(tbl, n_buckets, new_id, name, state, n_partitions=n_buckets)
            buckets = {b: {"files": [fent]} for b, fent in entries.items()}
            tables[name] = {**tbl, "buckets": buckets}
        rebucket = {
            "from": parent["n_buckets"],
            "to": n_buckets,
            "rebucket_sec": round(time.time() - t0, 3),
        }
        self._commit_child(parent, {"rebucket": rebucket}, n_buckets=n_buckets, tables=tables)
        return {"status": "rebucketed", "snapshot_id": new_id, "n_buckets": n_buckets}

    def rollback(self, snapshot_id: int) -> dict:
        """Restore a historical snapshot's state by committing a NEW snapshot
        that carries its layout, file lists and manifests (Iceberg rollback
        semantics: history moves forward, bytes move back; every member
        reverts together).

        The rolled-back commits' manifest ranges leave the committed set,
        so a replay resumes exactly from the restored frontier and
        re-applies what was undone — rollback + replay converges to the
        same state hash as never rolling back (pytest-asserted). The target
        must still be retained (within the expiry horizon)."""
        parent = self._parent()
        if snapshot_id == parent["snapshot_id"]:
            return {"status": "noop", "snapshot_id": snapshot_id}
        target = self.snapshot(snapshot_id)  # FileNotFoundError if expired
        snap = self._commit_child(
            parent,
            {"rollback": {"restored_snapshot_id": snapshot_id}},
            **{k: target[k] for k in ("n_buckets", "tables", "manifests")},
        )
        return {
            "status": "rolled_back",
            "snapshot_id": snap["snapshot_id"],
            "restored_snapshot_id": snapshot_id,
        }

    def expire_snapshots(self, keep_last: int = 1, min_age_sec: float = 0.0) -> dict:
        """Retention maintenance: Iceberg ``expire_snapshots`` +
        ``remove_orphan_files`` analog, one call for every member (they
        share the log). Without it a long replay accumulates every
        historical snapshot JSON and every superseded delta/compaction file
        forever — at 10^10 events that is thousands of dead data roots.

        Keeps the ``keep_last`` most recent snapshots (the latest always
        survives) plus any snapshot younger than ``min_age_sec``; deletes
        (a) the expired snapshot JSONs and (b) every on-disk data root no
        retained snapshot references — which also sweeps stale roots from
        crashed/aborted writers once the snapshot counter has passed their
        id. Time travel to a retained snapshot keeps working; reading an
        expired one raises FileNotFoundError.

        Concurrency: an in-flight merge writes ``data/snap-{latest+1}``
        before committing; only roots with snapshot id ≤ the current latest
        are eligible for deletion, so active writers are never swept."""
        hist = self.history()
        if not hist:
            raise FileNotFoundError(f"table {self.path} does not exist")
        latest_id = hist[-1]["snapshot_id"]
        keep_last = max(keep_last, 1)
        now = time.time()
        kept = [
            s
            for i, s in enumerate(hist)
            if i >= len(hist) - keep_last or now - s.get("committed_at", 0.0) < min_age_sec
        ]
        kept_ids = {s["snapshot_id"] for s in kept}
        expired = [s for s in hist if s["snapshot_id"] not in kept_ids]
        # "data/snap-N/<member>/_pb=B" -> "snap-N"
        live_roots = {
            f["path"].split(os.sep)[1]
            for s in kept
            for tbl in s["tables"].values()
            for f in _files(tbl)
        }

        data_dir = os.path.join(self.path, DATA_DIR)
        removed_roots, bytes_reclaimed = [], 0
        for root in sorted(os.listdir(data_dir)):
            if not root.startswith("snap-") or root in live_roots:
                continue
            try:
                root_id = int(root.split("-", 1)[1])
            except ValueError:
                continue
            if root_id > latest_id:  # possible in-flight writer
                continue
            full = os.path.join(data_dir, root)
            for dirpath, _dirs, files in os.walk(full):
                bytes_reclaimed += sum(
                    os.path.getsize(os.path.join(dirpath, fn)) for fn in files
                )
            shutil.rmtree(full)
            removed_roots.append(root)

        for s in expired:
            sp = os.path.join(self.path, SNAP_DIR, f"snap-{s['snapshot_id']}.json")
            if os.path.exists(sp):
                os.remove(sp)

        return {
            "snapshots_expired": len(expired),
            "data_roots_removed": len(removed_roots),
            "bytes_reclaimed": bytes_reclaimed,
            "retained": sorted(kept_ids),
        }


class TransactionalTableSet(_TableSetCore):
    """N merge-on-read tables sharing one snapshot log + manifest set."""

    def create(self, tables: dict[str, TableSpec]) -> dict:
        return self._create(tables)

    def read(
        self, name: str, include_tombstones: bool = False, snap: dict | None = None
    ) -> DataFrame:
        return self._read(name, snap, include_tombstones)

    def read_asof(self, ts: float, name: str) -> DataFrame:
        return self._read_asof(name, ts)

    def lookup(self, name: str, **key) -> DataFrame:
        return self._lookup(name, key)

    def read_for_keys(self, name: str, keys: DataFrame) -> DataFrame:
        return self._read_for_keys(name, keys)

    def read_changes(
        self,
        name: str,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        reduced: bool = False,
        where_between: tuple[str, float, float] | None = None,
    ) -> DataFrame:
        """A fan-out consumer tails e.g. ``file_versions`` this way without
        rereading the table."""
        return self._read_changes(
            name, from_snapshot_id, to_snapshot_id, reduced, where_between
        )

    def files_per_bucket(self, name: str, snap: dict | None = None) -> dict[str, int]:
        return self._files_per_bucket(name, snap)

    def merge_all(
        self,
        updates: dict[str, DataFrame],
        manifest_entries: list[tuple[int, int, int]],
        metrics: dict | None = None,
        pre_commit_check=None,
    ) -> dict:
        """Apply one batch to every named table atomically under one
        manifest (``buckets_written`` per table in the result)."""
        return self._merge_all(updates, manifest_entries, metrics, pre_commit_check)

    def evolve(
        self,
        name: str,
        add: list[tuple[str, str]] | None = None,
        rename: dict[str, str] | None = None,
        widen: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> dict:
        return self._evolve(name, add, rename, widen, drop)

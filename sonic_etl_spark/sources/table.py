"""Transactional parquet table — Iceberg-shaped sink fallback (merge-on-read).

The north rule requires idempotent commits keyed by a (partition,
offset-range) manifest, MERGE INTO upserts, and schema-id-aware evolution.
No Iceberg runtime jar ships in this sandbox, so this module implements the
same *contract* on plain parquet (SURVEY.md §7.0/§7.3 hard part 1):

- **Snapshot log**: every commit writes an immutable ``snap-N.json`` plus an
  atomically-replaced ``_latest.json`` pointer (``os.rename`` is atomic on
  POSIX). A crash between data write and pointer flip leaves only orphan
  files; the batch replays idempotently.
- **Merge-on-read buckets**: table data lives in buckets keyed by
  ``hash(repo, path) % n_buckets`` (the merge key, so upserts are co-located
  and hot repos spread across buckets by path). A MERGE *appends* one delta
  file per affected bucket — writes are O(batch), never O(table) — and the
  reader resolves last-writer-wins across a bucket's base+delta files.
  ``compact()`` folds a bucket's files back to one. This is exactly Iceberg's
  merge-on-read (equality deletes + data files, maintenance compaction);
  the earlier copy-on-write formulation rewrote every affected bucket per
  batch, i.e. the whole table per batch under uniform updates — measured
  ~2× the entire pipeline compute at 10M events and fatal at 10^10.
- **Idempotent commit manifest**: each snapshot carries the cumulative set of
  committed (partition_id, offset_start, offset_end) ranges. ``merge``
  refuses ranges already committed — at-least-once delivery upstream becomes
  exactly-once table state (upgrade over the reference's
  append-then-nightly-MERGE convergence, daily_dedupe_mainnet.py:26-81, and
  its ack-after-publish duplicate window, mod.rs:140-164).
- **Schema evolution by field id**: snapshots record ``{id, name, type}`` per
  column; every data file remembers the schema id it was written under, and
  the reader renames/backfills columns by field id — Iceberg's
  add/rename-safe semantics (reference has only hand-reserved proto field
  numbers, schemas/proto/blocks.proto:144-146).

LWW semantics: the merged state for a key is the row with the maximum
``(offset, partition_id, commit)`` among all events ever applied. max is
associative, commutative and idempotent, so replays, overlapping ranges,
duplicate redelivery, and any base/delta file layout all converge to
byte-identical state regardless of batching — the formal version of the
reference's natural-key convergence triple (SURVEY.md §0). Delete tombstones
are ordinary rows (op='delete') filtered at read and retained through
compaction, so a late-arriving lower-order upsert can never resurrect a key.

At 100 TB: buckets become Iceberg partitions (``bucket(N, repo||path)``),
delta files become Iceberg data files with sequence numbers, the snapshot
json becomes the Iceberg metadata tree, the pointer flip becomes a catalog
swap, and ``compact`` becomes rewrite_data_files. Nothing in the engine
above this module would change.

Implementation: one storage core, ``sources/multitable.py``. A single table
is a table set of one: it runs on the same core as
:class:`~sonic_etl_spark.sources.multitable.TransactionalTableSet`, with one
member named ``t``. Its snapshot JSON carries ``tables["t"]`` next to the
shared ``n_buckets`` and ``manifests``, and its files live under
``data/snap-N/t/_pb=B``. This class only fixes the member name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sonic_etl_spark.sources.multitable import CommitConflict, TableSpec, _TableSetCore

__all__ = ["CommitConflict", "TransactionalParquetTable"]

MEMBER = "t"

DEFAULT_KEY_COLS = ["repo", "path"]
DEFAULT_ORDER_COLS = ["last_offset", "last_partition_id", "commit"]


class TransactionalParquetTable(_TableSetCore):
    """One merge-on-read table: the storage core with a single member.

    Inherits the log-wide operations (``latest``, ``snapshot``,
    ``history``, ``committed_ranges``, ``compact``, ``rebucket``,
    ``rollback``, ``expire_snapshots``, ``metrics_history``); the methods
    below address the one member through the core's private operations."""

    def create(
        self,
        fields: list[tuple[str, str]],
        key_cols: list[str] | None = None,
        order_cols: list[str] | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Create the table with an empty snapshot. fields = [(name, ddl_type)].

        ``key_cols``/``order_cols`` define the MERGE identity and LWW total
        order; the reader needs them to resolve state across delta files.

        ``stats_cols`` (opt-in, numeric columns only): every data file this
        table writes records per-file min/max for these columns in the
        SNAPSHOT manifest (Iceberg column-stats analog, keyed by FIELD ID so
        renames don't orphan them). Consumers with a range predicate —
        :meth:`read_changes` ``where_between`` — then skip non-overlapping
        files at PLAN time, without listing or opening them. Costs one
        column-pruned aggregate over each freshly-written batch (O(batch),
        never O(table)); leave unset for zero overhead. NOTE: stats prune
        only APPEND-shaped reads (the change feed). State reads (:meth:`read`)
        never file-prune on stats — dropping a delta file from an LWW merge
        could resurrect a stale winner.
        """
        spec = TableSpec(
            fields,
            key_cols or DEFAULT_KEY_COLS,
            order_cols or DEFAULT_ORDER_COLS,
            stats_cols=stats_cols or [],
        )
        return self._create({MEMBER: spec})

    def read(self, snap: dict | None = None, include_tombstones: bool = False) -> DataFrame:
        """Current converged state (or ``snap``'s): LWW-reduced per key,
        tombstones filtered unless asked for."""
        return self._read(MEMBER, snap, include_tombstones)

    def read_asof(self, ts: float) -> DataFrame:
        """State as of the latest retained snapshot committed at or before
        ``ts``; snapshot-id time travel is ``read(snapshot(id))``."""
        return self._read_asof(MEMBER, ts)

    def lookup(self, **key) -> DataFrame:
        """Point read of one key by CURRENT column names:
        ``lookup(repo="r", path="p")``. Served on the driver with no Spark
        job: reads only the key's bucket with pyarrow and returns a local
        relation (int/bigint/string keys; other key types take the Spark
        path). ``collect()`` it for the zero-job path: ``count()`` and
        ``first()`` on the relation still launch jobs. See
        ``_TableSetCore._lookup``."""
        return self._lookup(MEMBER, key)

    def read_for_keys(self, keys: DataFrame) -> DataFrame:
        """LWW state of the buckets that ``keys`` (a frame carrying the key
        columns) hash into — the incremental-join primitive."""
        return self._read_for_keys(MEMBER, keys)

    def read_changes(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        reduced: bool = False,
        where_between: tuple[str, float, float] | None = None,
    ) -> DataFrame:
        """Rows appended between two snapshots (the table's CDC-out
        stream); raises across a compaction/expiry rewrite."""
        return self._read_changes(
            MEMBER, from_snapshot_id, to_snapshot_id, reduced, where_between
        )

    def files_per_bucket(self, snap: dict | None = None) -> dict[str, int]:
        return self._files_per_bucket(MEMBER, snap)

    def is_committed(self, partition_id: int, start: int, end: int) -> bool:
        return (partition_id, start, end) in self.committed_ranges()

    def merge(
        self,
        updates: DataFrame,
        manifest_entries: list[tuple[int, int, int]],
        metrics: dict | None = None,
        pre_commit_check=None,
    ) -> dict:
        """MERGE INTO with LWW ordering and an idempotent manifest commit
        (contract: ``_TableSetCore._merge_all``). ``updates`` must be
        one-row-per-key; returns a status dict whose ``buckets_written`` is
        this table's count."""
        res = self._merge_all({MEMBER: updates}, manifest_entries, metrics, pre_commit_check)
        if "buckets_written" in res:
            res["buckets_written"] = res["buckets_written"][MEMBER]
        return res

    def evolve(
        self,
        add: list[tuple[str, str]] | None = None,
        rename: dict[str, str] | None = None,
        widen: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> dict:
        """Schema-only snapshot: add / rename / widen / drop by field id."""
        return self._evolve(MEMBER, add, rename, widen, drop)

"""Incremental corpus curation over the CDC-out stream: curate newly
arrived documents against persisted signature state in O(new docs), never
O(corpus).

This ties the engine's two halves together — the transactional CDC tables
(sources/table.py) and the training-data operators (operators/dedup.py,
operators/text.py). The reference's analog is the daily batch dedupe DAG
(daily_qc_airflow/daily_dedupe_mainnet.py:26-81), which recomputes over the
whole table every day; here the same decisions are made per arrival batch
against two tiny persisted "minima" tables, so a day's new documents cost a
day's work regardless of corpus size.

## The order-independent curation rule

Rank every document by ``(offset, doc_id)`` — offsets are the change log's
monotone arrival order, so a document's rank is a stable fact. Then:

1. **quality**: below the word floor / above the punct ceiling → dropped
   (reason ``quality``); quality-failing docs occupy NO dedup state.
2. **exact**: among quality survivors sharing a normalized-content sha256
   (operators/text.fingerprint), only the minimum rank is canonical; the
   rest drop with ``exact_dup``.
3. **near**: every exact-canonical emits its MinHash-LSH band buckets
   (operators/dedup.lsh_band_buckets); a doc drops with ``near_dup`` iff
   ANY of its buckets contains an exact-canonical with smaller rank —
   whether or not that occupant was itself near-dup-dropped. Keeping
   near-dropped docs as bucket occupants makes the predicate
   NON-RECURSIVE, hence order-independent.
4. else ``kept``.

Because ranks only grow (arrival order), a decision made when a document
arrives can never be invalidated by later arrivals — verdicts are final
facts, and **the incremental 3-batch result is provably identical to one
global recompute of the same rule** (pytest-asserted by hash, and the
driver gate replays the global rule in DuckDB).

## Scale shape

Per batch: one narrow pass over the text materializes the per-doc facts
``(doc_id, off, q_pass, fp_sha256)``, and one MinHash aggregation over the
quality survivors (output-∝ repartition inside) materializes their LSH
bands ``(doc_id, band, bucket)``; after the ``hash_minima`` join, the exact
stage ``(doc_id, off, is_exact_canon)`` is materialized too. All three are
``localCheckpoint``-ed (facts by its first action, the span aggregate), so
the TWO bucket-pruned state joins via ``TransactionalTableSet.read_for_keys``
and the one commit read these frames instead of re-running quality, sha256
and MinHash over the batch's text once per action. None of them carries
``text``: wide string frames are never persisted. Each state join reads
only the storage buckets the batch's keys hash into ((touched buckets /
n_buckets) of the state, O(batch) with n_buckets ∝ corpus). The state is
ONE table set; a batch updates its three members with O(batch) LWW writes
under one manifest-keyed ``merge_all`` commit, so a crashed apply leaves no
state change and is simply redelivered. The minima members keep per-key
MINIMUM rank under the engine's max-by LWW by storing negated rank as the
order columns. Nothing reads O(corpus).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession

from sonic_etl_spark.operators import dedup as dedup_ops
from sonic_etl_spark.operators import text as text_ops
from sonic_etl_spark.sources.multitable import TableSpec, TransactionalTableSet
from sonic_etl_spark.sources.table import TransactionalParquetTable

_MINIMA_FIELDS_TAIL = [
    ("off", "bigint"),
    ("doc_id", "bigint"),
    ("neg_off", "bigint"),
    ("neg_id", "bigint"),
]


def _minima(*key: tuple[str, str]) -> TableSpec:
    """A minima member: key → min rank, kept under the engine's max-by LWW
    by ordering on the negated rank."""
    return TableSpec(
        [*key, *_MINIMA_FIELDS_TAIL], [k for k, _ in key], ["neg_off", "neg_id"]
    )


_STATE = {
    "hash_minima": _minima(("fp_sha256", "string")),
    "bucket_minima": _minima(("band", "int"), ("bucket", "string")),
    "verdicts": TableSpec(
        [
            ("doc_id", "bigint"),
            ("off", "bigint"),
            ("kept", "boolean"),
            ("reason", "string"),
        ],
        key_cols=["doc_id"],
        order_cols=["off"],
    ),
}


def _rank(off_col: str = "off", id_col: str = "doc_id") -> F.Column:
    return F.struct(F.col(off_col), F.col(id_col))


def _quality_pass(min_words: int, max_punct_ratio: float) -> F.Column:
    """Rule step 1 over the ``text`` column. NULL text fails it: a NULL
    ``q_pass`` would fall through every verdict branch to ``kept``."""
    t = F.col("text")
    return F.coalesce(
        (text_ops.word_count(t) >= min_words)
        & (text_ops.punct_ratio(t) <= max_punct_ratio),
        F.lit(False),
    )


class _Member:
    """Read view of one member of the curator's state set."""

    def __init__(self, state: TransactionalTableSet, name: str):
        self._state = state
        self._name = name

    def latest(self) -> dict | None:
        return self._state.latest()

    def read(self) -> DataFrame:
        return self._state.read(self._name)

    def lookup(self, **key) -> DataFrame:
        return self._state.lookup(self._name, **key)

    def files_per_bucket(self) -> dict[str, int]:
        return self._state.files_per_bucket(self._name)


class IncrementalCurator:
    """Persisted incremental curation state + the per-batch apply step.

    ``path`` holds ONE transactional table set (snapshot log
    ``path/_snapshots``, member files ``path/data/snap-N/<member>``) with
    three members: ``hash_minima`` (sha256 → min rank), ``bucket_minima``
    ((band, bucket) → min exact-canonical rank) and ``verdicts`` (doc_id →
    kept/reason — the curated-corpus membership fact stream downstream
    consumers tail). ``cur.hash_minima`` etc. are read views of the members.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 32,
        min_words: int = 5,
        max_punct_ratio: float = 0.3,
    ):
        self.spark = spark
        self.path = path
        self.min_words = min_words
        self.max_punct_ratio = max_punct_ratio
        self.state = TransactionalTableSet(spark, path, n_buckets)
        self.hash_minima = _Member(self.state, "hash_minima")
        self.bucket_minima = _Member(self.state, "bucket_minima")
        self.verdicts = _Member(self.state, "verdicts")

    def create(self) -> "IncrementalCurator":
        self.state.create(_STATE)
        return self

    # ------------------------------------------------------------- per batch
    def apply(self, batch: DataFrame) -> dict:
        """Curate one arrival batch: (doc_id, text, off) rows whose offsets
        are strictly greater than every previously applied batch's (the
        change log's monotone order — :meth:`sync` guarantees it; direct
        callers must too, or ranks stop being stable facts).

        Commits once: all three members' rows land under one
        ``merge_all`` keyed by the batch's (0, off_lo, off_hi) manifest
        range, so an apply either commits whole or leaves the state as it
        was, and a redelivered batch skips. A RE-BATCHED redelivery (new
        range) re-derives identical verdicts: the rule only ever compares
        against SMALLER ranks, and its own rows in state are a no-op under
        the min-union.

        A batch holds one row per doc_id (two raise ``ValueError``).
        Documents are treated as immutable facts keyed by (doc_id, off): if
        a CDC update RE-WRITES a doc_id with new text at a higher offset in
        a LATER batch, the verdicts member keeps the latest offset's verdict
        (its LWW order is ``off``) while the minima members retain BOTH
        versions' signature occupancy (occupancy is append-only across
        batches — a retracted text's buckets are not vacated, the
        conservative choice for dedup). Within one :meth:`sync` window only
        the latest version is curated: the delta is LWW-reduced per key.
        """
        return self._apply(batch, [])

    def _apply(self, batch: DataFrame, marks: list[tuple]) -> dict:
        """:meth:`apply`, with ``marks`` (the sync frontier) committed
        alongside the batch's range."""
        b = batch.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("text").alias("text"),
            F.col("off").cast("long").alias("off"),
        )
        q_pass = _quality_pass(self.min_words, self.max_punct_ratio)
        # every later action reads these materialized narrow frames, so only
        # the two materializations (facts, bands) read the batch's text;
        # facts is filled by its first action, the span aggregate, rather
        # than by a count job of its own
        facts = b.select(
            "doc_id", "off", q_pass.alias("q_pass"),
            F.sha2(text_ops.normalized(F.col("text")), 256).alias("fp_sha256"),
        ).localCheckpoint(eager=False)
        span = facts.agg(
            F.min("off").alias("lo"), F.max("off").alias("hi"),
            F.count("*").alias("n"), F.countDistinct("doc_id").alias("ids"),
        ).first()
        _one_row_per_id(span, "doc_id")
        if span["n"] == 0:
            return {"status": "no_data"}
        manifest = [(0, int(span["lo"]), int(span["hi"])), *marks]

        # MinHash is per doc, so banding every quality survivor and joining
        # the exact-canon filter afterwards gives the canonicals' bands
        bands = dedup_ops.lsh_band_buckets(
            dedup_ops.minhash_signatures(b.where(q_pass))
        ).localCheckpoint(eager=True)

        # exact stage: min rank per sha across (persisted state ∪ batch)
        cand = facts.where("q_pass").select("doc_id", "off", "fp_sha256")
        prior_h = self.state.read_for_keys(
            "hash_minima", cand.select("fp_sha256")
        ).select("fp_sha256", _rank().alias("_prior_rank"))
        batch_h = cand.groupBy("fp_sha256").agg(
            F.min(_rank()).alias("_batch_min")
        )
        exact = (
            cand.join(batch_h, "fp_sha256")
            .join(prior_h, "fp_sha256", "left")
            .select(
                "doc_id",
                "off",
                # <= not <: a re-batched redelivery (a stream restarted on
                # a fresh checkpoint) commits under a NEW manifest range,
                # so it sees ITSELF in prior state (prior == own rank) and
                # must still be canonical
                (
                    (_rank() == F.col("_batch_min"))
                    & (
                        F.col("_prior_rank").isNull()
                        | (_rank() <= F.col("_prior_rank"))
                    )
                ).alias("is_exact_canon"),
            )
            .localCheckpoint(eager=True)
        )

        # near stage: bucket occupancy among exact canonicals
        canon_bands = bands.join(
            exact.where("is_exact_canon").select("doc_id", "off"), "doc_id"
        )
        prior_b = self.state.read_for_keys(
            "bucket_minima", canon_bands.select("band", "bucket")
        ).select("band", "bucket", _rank().alias("_prior_rank"))
        batch_b = canon_bands.groupBy("band", "bucket").agg(
            F.min(_rank()).alias("_batch_min")
        )
        near_drop = (
            canon_bands.join(batch_b, ["band", "bucket"])
            .join(prior_b, ["band", "bucket"], "left")
            .withColumn(
                "_dominated",
                (F.col("_batch_min") < _rank())
                | (
                    F.col("_prior_rank").isNotNull()
                    & (F.col("_prior_rank") < _rank())
                ),
            )
            .groupBy("doc_id")
            .agg(F.max("_dominated").alias("near_dup"))
        )

        verdicts = (
            facts.select("doc_id", "off", "q_pass")
            .join(
                exact.select("doc_id", "is_exact_canon"), "doc_id", "left"
            )
            .join(near_drop, "doc_id", "left")
            .select(
                "doc_id",
                "off",
                F.when(~F.col("q_pass"), F.lit("quality"))
                .when(~F.col("is_exact_canon"), F.lit("exact_dup"))
                .when(F.col("near_dup"), F.lit("near_dup"))
                .otherwise(F.lit("kept"))
                .alias("reason"),
            )
            .withColumn("kept", F.col("reason") == "kept")
            .select("doc_id", "off", "kept", "reason")
        )

        minima = [
            F.col("_batch_min.off").alias("off"),
            F.col("_batch_min.doc_id").alias("doc_id"),
            (-F.col("_batch_min.off")).alias("neg_off"),
            (-F.col("_batch_min.doc_id")).alias("neg_id"),
        ]
        res = self.state.merge_all(
            {
                "hash_minima": batch_h.select("fp_sha256", *minima),
                "bucket_minima": batch_b.select("band", "bucket", *minima),
                "verdicts": verdicts,
            },
            manifest,
            one_row_per_key=True,  # groupBy outputs; verdicts: one per doc_id
        )
        return {
            "status": res["status"],
            "n_docs": int(span["n"]),
            "off_range": (int(span["lo"]), int(span["hi"])),
        }

    # ------------------------------------------------------------ CDC tail
    def sync(
        self,
        src: TransactionalParquetTable,
        id_col: str = "doc_id",
        text_col: str = "text",
        offset_col: str = "last_offset",
    ) -> dict:
        """Tail a source table's CDC-out stream: apply the rows appended
        since the last sync (``read_changes`` — O(new data) by file-identity
        diff) as one arrival batch, committing the new frontier with it.

        The frontier is state: a crashed sync commits neither, and a
        ``state.rollback`` takes the frontier back with the rows, so the
        next sync re-applies what the rollback undid. A compaction/expiry
        rewrite on the source raises inside read_changes (the documented
        boundary refusal) rather than replaying history.
        """
        return _sync_frontier(src, self.state, lambda ch, mark: self._apply(ch.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.col(offset_col).alias("off"),
        ), mark))


def _one_row_per_id(span: Row, id_col: str) -> None:
    """Refuse a batch carrying two rows of one id (or a NULL id): the
    per-batch joins key on the id alone, so two versions would fan them out
    and tie the LWW order of their writes."""
    if span["ids"] != span["n"]:
        raise ValueError(
            f"batch has {span['n']} rows but {span['ids']} distinct non-NULL "
            f"{id_col}s; apply takes one row per {id_col}"
        )


def _sync_frontier(
    src: TransactionalParquetTable,
    state: TransactionalTableSet | TransactionalParquetTable,
    apply: Callable[[DataFrame, list[tuple]], dict],
) -> dict:
    """One CDC tail step shared by the incremental consumers: ``apply`` the
    source rows appended since the consumer's frontier together with the
    new frontier mark ``("src", snapshot_id)``, which ``apply`` commits to
    ``state`` in the same commit as the rows (an empty delta commits the
    mark alone). The frontier is the highest such mark in ``state``'s
    committed manifests. No-op when it is already the source's latest
    snapshot."""
    snap = src.latest()
    if snap is None:
        raise FileNotFoundError(f"source table {src.path} does not exist")
    to_id = snap["snapshot_id"]
    last = max((m[1] for m in state.committed_marks() if m[0] == "src"), default=None)
    if last == to_id:
        return {"status": "noop", "snapshot_id": to_id}
    mark = [("src", to_id)]
    res = apply(
        src.read_changes(from_snapshot_id=last, to_snapshot_id=to_id, reduced=True), mark
    )
    if res["status"] == "no_data":
        state._merge_all({}, mark)
    return {**res, "snapshot_id": to_id}


class IncrementalIvfIndex:
    """Incrementally-maintained IVF (inverted-file) ANN index over an
    embedding stream: the similarity-search sibling of
    :class:`IncrementalCurator`.

    State: a ``postings`` table (vec_id → centroid cell + cosine, LWW by
    arrival offset) plus the centroid set PERSISTED at creation — the
    quantizer must be pinned, or per-batch-derived centroids would make
    the incremental index diverge from a full rebuild. Assignment per
    vector is a pure function of (vector, centroids) (broadcast argmax
    cosine, ``similarity.ivf_assign`` — no corpus shuffle), so the index
    after any batch sequence equals ``ivf_assign`` over the corpus
    (pytest + driver gate ``incremental_ivf``); a re-written vector's cell
    follows the latest offset via LWW. Per batch: O(batch × n_centroids)
    compute, one O(batch) merge. Serving reads (:meth:`cells`) feed the same
    multi-probe search shape as ``ann_topk_ivf``.
    """

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 32):
        self.spark = spark
        self.path = path
        self.postings = TransactionalParquetTable(
            spark, os.path.join(path, "postings"), n_buckets
        )
        self._cent_path = os.path.join(path, "centroids")

    def create(self, centroids: DataFrame) -> "IncrementalIvfIndex":
        """``centroids``: (centroid_id, cv) — e.g. ``seed_centroids`` or
        ``ivf_train`` output over a bootstrap corpus. Written once;
        subsequent create() calls keep the existing quantizer (retraining
        is a REBUILD: new index dir, replay the stream)."""
        if not os.path.exists(os.path.join(self._cent_path, "_SUCCESS")):
            centroids.write.mode("overwrite").parquet(self._cent_path)
        self.postings.create(
            [
                ("vec_id", "bigint"),
                ("off", "bigint"),
                ("centroid_id", "bigint"),
                ("centroid_cos", "double"),
            ],
            key_cols=["vec_id"],
            order_cols=["off"],
        )
        return self

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self._cent_path)

    def apply(self, batch: DataFrame) -> dict:
        """Assign one arrival batch of (vec_id, embedding, off) rows, one
        per vec_id, to cells and merge into postings (manifest-idempotent,
        same monotone offset contract as IncrementalCurator.apply)."""
        return self._apply(batch, [])

    def _apply(self, batch: DataFrame, marks: list[tuple]) -> dict:
        from sonic_etl_spark.operators import similarity as sim_ops

        b = batch.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("embedding"),
            F.col("off").cast("long").alias("off"),
        )
        span = b.agg(
            F.min("off").alias("lo"), F.max("off").alias("hi"),
            F.count("*").alias("n"), F.countDistinct("vec_id").alias("ids"),
        ).first()
        _one_row_per_id(span, "vec_id")
        if span["n"] == 0:
            return {"status": "no_data"}
        assign = sim_ops.ivf_assign(
            b.select("vec_id", "embedding"), centroids=self.centroids()
        )
        rows = assign.join(b.select("vec_id", "off"), "vec_id").select(
            "vec_id", "off",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            "centroid_cos",
        )
        res = self.postings.merge(
            rows, [(0, int(span["lo"]), int(span["hi"])), *marks]
        )
        return {"status": res["status"], "n_vectors": int(span["n"])}

    def sync(
        self,
        src: TransactionalParquetTable,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        offset_col: str = "last_offset",
    ) -> dict:
        """Tail a source table's CDC-out stream (same frontier contract as
        IncrementalCurator.sync; the frontier is a mark in ``postings``)."""
        return _sync_frontier(src, self.postings, lambda ch, mark: self._apply(ch.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.col(offset_col).alias("off"),
        ), mark))

    def cells(self) -> DataFrame:
        """Current postings state: (vec_id, centroid_id, centroid_cos) —
        one row per live vector, LWW-resolved."""
        return self.postings.read().select(
            "vec_id", "centroid_id", "centroid_cos"
        )


def curate_full(
    docs: DataFrame, min_words: int = 5, max_punct_ratio: float = 0.3
) -> DataFrame:
    """One-shot global recompute of the incremental rule over (doc_id,
    text, off) — the convergence oracle the incremental path is tested
    against (and the shape the DuckDB driver gate mirrors in SQL)."""
    flags = docs.withColumn("q_pass", _quality_pass(min_words, max_punct_ratio))
    qpass = flags.where("q_pass").select("doc_id", "text", "off")
    cand = qpass.join(
        text_ops.fingerprint(qpass).select("doc_id", "fp_sha256"), "doc_id"
    )
    sha_min = cand.groupBy("fp_sha256").agg(F.min(_rank()).alias("_min"))
    exact = cand.join(sha_min, "fp_sha256").withColumn(
        "is_exact_canon", _rank() == F.col("_min")
    )
    canon = exact.where("is_exact_canon").select("doc_id", "text", "off")
    bands = dedup_ops.lsh_band_buckets(
        dedup_ops.minhash_signatures(canon)
    ).join(canon.select("doc_id", "off"), "doc_id")
    bkt_min = bands.groupBy("band", "bucket").agg(F.min(_rank()).alias("_min"))
    near_drop = (
        bands.join(bkt_min, ["band", "bucket"])
        .groupBy("doc_id")
        .agg(F.max(F.col("_min") < _rank()).alias("near_dup"))
    )
    return (
        flags.select("doc_id", "off", "q_pass")
        .join(exact.select("doc_id", "is_exact_canon"), "doc_id", "left")
        .join(near_drop, "doc_id", "left")
        .select(
            "doc_id",
            "off",
            F.when(~F.col("q_pass"), F.lit("quality"))
            .when(~F.col("is_exact_canon"), F.lit("exact_dup"))
            .when(F.col("near_dup"), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("reason"),
        )
        .withColumn("kept", F.col("reason") == "kept")
        .select("doc_id", "off", "kept", "reason")
    )

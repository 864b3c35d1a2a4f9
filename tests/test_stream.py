"""Structured Streaming ingest: converges to the same state as batch replay,
and a restarted query does not double-apply (idempotent merge)."""

import pyspark.sql.functions as F
import pytest

from sonic_etl_spark.functions import decode_change_events
from sonic_etl_spark.log import synthesize_change_events
from sonic_etl_spark.operators.merge import converged_rows
from sonic_etl_spark.sources import TransactionalParquetTable
from sonic_etl_spark.streaming.stream import stream_replay

N = 4000


def _state_hash(df):
    cols = sorted(df.columns)
    return (
        df.select(
            F.sha2(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]), 256).alias("h")
        )
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10)).alias("s"))
        .first()["s"]
    )


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("streamlog") / "log")
    synthesize_change_events(spark, N, num_slices=8).write.parquet(d)
    return d


def test_stream_converges_to_oracle(spark, tmp_path, log_dir):
    oracle = _state_hash(
        converged_rows(decode_change_events(spark.read.parquet(log_dir))).filter(
            "op != 'delete'"
        )
    )
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=8)
    q = stream_replay(
        spark, log_dir, tab,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=3,
    )
    q.awaitTermination()
    assert len(tab.committed_ranges()) > 0
    assert _state_hash(tab.read()) == oracle

    # restart over the same checkpoint: no new data → no new snapshots
    sid = tab.latest()["snapshot_id"]
    q2 = stream_replay(
        spark, log_dir, tab,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=3,
    )
    q2.awaitTermination()
    assert tab.latest()["snapshot_id"] == sid
    assert _state_hash(tab.read()) == oracle


def test_stream_redelivery_is_idempotent(spark, tmp_path, log_dir):
    """Fresh checkpoint over already-committed spans → merges no-op."""
    tab = TransactionalParquetTable(spark, str(tmp_path / "t2"), n_buckets=8)
    q = stream_replay(
        spark, log_dir, tab, checkpoint_dir=str(tmp_path / "c1"),
        max_files_per_trigger=100,
    )
    q.awaitTermination()
    sid = tab.latest()["snapshot_id"]
    h = _state_hash(tab.read())
    # new checkpoint = full redelivery of every file in one batch
    q2 = stream_replay(
        spark, log_dir, tab, checkpoint_dir=str(tmp_path / "c2"),
        max_files_per_trigger=100,
    )
    q2.awaitTermination()
    assert tab.latest()["snapshot_id"] == sid  # skipped, no snapshot
    assert _state_hash(tab.read()) == h


def test_stream_into_table_fails_poisoned_batch_before_commit(spark, tmp_path):
    """A table target gets replay()'s validated batch: an undecodable row
    fails the micro-batch before the snapshot commit, so the query stops and
    no range of the poisoned batch is committed."""
    d = str(tmp_path / "poisoned_log")
    synthesize_change_events(spark, 500, poison_fraction=0.1, num_slices=4).write.parquet(d)
    tab = TransactionalParquetTable(spark, str(tmp_path / "tp"), n_buckets=4)
    q = stream_replay(
        spark, d, tab, checkpoint_dir=str(tmp_path / "cp"), max_files_per_trigger=100,
    )
    with pytest.raises(Exception, match="decode failed"):
        q.awaitTermination()
    assert tab.committed_ranges() == set()
    assert tab.read().count() == 0

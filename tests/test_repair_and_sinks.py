"""Gap repair (ST5 backfill analog: replay plans the committed set's holes)
+ time-bucketed JSONL sink (S10) + schema evolution applied mid-replay (M3)."""

import pyspark.sql.functions as F

from sonic_etl_spark.log import synthesize_change_events
from sonic_etl_spark.sources import TransactionalParquetTable
from sonic_etl_spark.sources.sinks import (
    read_time_bucketed_jsonl,
    write_jsonl_fixture,
    write_time_bucketed_jsonl,
)
from sonic_etl_spark.streaming import replay


def _hash(df):
    cols = sorted(df.columns)
    return (
        df.select(
            F.sha2(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]), 256).alias("h")
        )
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10)).alias("s"))
        .first()["s"]
    )


def test_repair_gaps_backfills_missing_range(spark, tmp_path):
    log = synthesize_change_events(spark, 2000).cache()
    log.count()
    # full replay → reference state
    ref = TransactionalParquetTable(spark, str(tmp_path / "ref"), n_buckets=4)
    replay(log, ref, chunk_size=50)
    want = _hash(ref.read())

    # damaged table: replay only offsets outside [100, 149] per partition 0
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay(log.where(~((F.col("partition_id") == 0) & F.col("offset").between(100, 149))),
           tab, chunk_size=50)
    # forge the hole: drop the manifest covering p0 [100,149]
    snap = tab.latest()
    assert (0, 100, 149) in {tuple(m) for m in snap["manifests"]}
    snap["manifests"] = [m for m in snap["manifests"] if tuple(m) != (0, 100, 149)]
    snap["snapshot_id"] += 1
    snap["parent_id"] = snap["snapshot_id"] - 1
    tab._commit_snapshot(snap, expected_parent=snap["parent_id"])
    assert _hash(tab.read()) != want

    res = replay(log, tab, chunk_size=50)  # plans the hole itself
    assert res.batches_applied == 1
    assert _hash(tab.read()) == want
    log.unpersist()


def test_evolution_mid_replay(spark, tmp_path):
    """Rename+add mid-replay: the still-old-schema producer keeps routing by
    field id; resumed replay converges (north rule schema-evolution clause)."""
    log = synthesize_change_events(spark, 2000).cache()
    log.count()
    tab = TransactionalParquetTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay(log, tab, chunk_size=150, max_batches=1)
    tab.evolve(add=[("review_state", "string")], rename={"content": "body"})
    res = replay(log, tab, chunk_size=150)  # resumes with old-named producer
    assert res.batches_applied > 0
    out = tab.read()
    assert "body" in out.columns and "review_state" in out.columns
    # reference state: full replay into a fresh un-evolved table, renamed after
    ref = TransactionalParquetTable(spark, str(tmp_path / "ref"), n_buckets=4)
    replay(log, ref, chunk_size=150)
    want = _hash(
        ref.read().withColumnRenamed("content", "body").withColumn(
            "review_state", F.lit(None).cast("string")
        )
    )
    assert _hash(out) == want
    log.unpersist()


def test_time_bucketed_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00"),
            (2, "2024-01-01 00:45:00"),
            (3, "2024-01-02 13:31:00"),
        ],
        "id bigint, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    path = str(tmp_path / "jsonl")
    write_time_bucketed_jsonl(df, path, "ts")
    back = read_time_bucketed_jsonl(spark, path)
    # partition columns come back type-inferred (_d as date) — stringify
    got = {(str(r["_d"]), str(r["_hh"]), r["id"]) for r in back.collect()}
    assert got == {
        ("2024-01-01", "00-00", 1),
        ("2024-01-01", "00-30", 2),
        ("2024-01-02", "13-30", 3),
    }


def test_jsonl_fixture_single_file(spark, tmp_path):
    import glob

    df = spark.createDataFrame([(2, "b"), (1, "a")], "id bigint, v string")
    path = str(tmp_path / "fix")
    write_jsonl_fixture(df, path)
    files = glob.glob(path + "/part-*")
    assert len(files) == 1


def test_jsonl_chunk_sink_streaming_and_idempotence(spark, tmp_path):
    """S11-S14 sink abstraction: the SAME streaming driver publishes through
    a second concrete sink (chunked JSONL, manifest-named dirs); redelivery
    with a fresh checkpoint no-ops on completed batches."""
    import os

    from sonic_etl_spark.log import synthesize_change_events
    from sonic_etl_spark.sources.sinks import JsonlChunkSink
    from sonic_etl_spark.streaming.stream import stream_replay

    log_dir = str(tmp_path / "log")
    synthesize_change_events(spark, 2000, n_partitions=2, num_slices=4).write.parquet(
        log_dir
    )
    sink = JsonlChunkSink(str(tmp_path / "out"), chunk_records=400)
    q = stream_replay(
        spark, log_dir, sink,
        checkpoint_dir=str(tmp_path / "ck1"), max_files_per_trigger=2,
    )
    q.awaitTermination()
    batch_dirs = sorted(
        d for d in os.listdir(str(tmp_path / "out")) if d.startswith("batch_")
    )
    assert batch_dirs, "sink produced no batch directories"
    n_rows = spark.read.json(str(tmp_path / "out") + "/batch_*").count()
    # streamed updates are batch-reduced: rows <= events, > 0
    assert 0 < n_rows <= 2000
    mtimes = {
        d: os.path.getmtime(os.path.join(str(tmp_path / "out"), d, "_SUCCESS"))
        for d in batch_dirs
    }
    # redelivery: fresh checkpoint replays every file; completed batch dirs
    # are skipped (same manifest name -> _SUCCESS short-circuit)
    q2 = stream_replay(
        spark, log_dir, sink,
        checkpoint_dir=str(tmp_path / "ck2"), max_files_per_trigger=2,
    )
    q2.awaitTermination()
    after = sorted(
        d for d in os.listdir(str(tmp_path / "out")) if d.startswith("batch_")
    )
    assert after == batch_dirs
    for d in batch_dirs:
        assert os.path.getmtime(
            os.path.join(str(tmp_path / "out"), d, "_SUCCESS")
        ) == mtimes[d], f"{d} was rewritten on redelivery"

    # RE-BATCHED redelivery: fresh checkpoint AND a different trigger size
    # produce different manifest sets for the same offsets — the span ledger
    # (not the dir-name guard) must keep every offset exactly-once
    q3 = stream_replay(
        spark, log_dir, sink,
        checkpoint_dir=str(tmp_path / "ck3"), max_files_per_trigger=1,
    )
    q3.awaitTermination()
    rebatched = sorted(
        d for d in os.listdir(str(tmp_path / "out")) if d.startswith("batch_")
    )
    assert rebatched == batch_dirs, "re-batched redelivery created new dirs"
    assert spark.read.json(str(tmp_path / "out") + "/batch_*").count() == n_rows


def test_json_record_files_fixture_sink(spark, tmp_path):
    import json
    import os

    import pytest

    from sonic_etl_spark.sources.sinks import write_json_record_files

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id bigint, k string, v string"
    )
    out = str(tmp_path / "recs")
    assert write_json_record_files(df, out, name_cols=["id", "k"]) == 2
    names = sorted(os.listdir(out))
    assert names == ["1_a.json", "2_b.json"]
    with open(os.path.join(out, "1_a.json")) as f:
        assert json.load(f) == {"id": 1, "k": "a", "v": "x"}
    with pytest.raises(ValueError, match="fixture sink"):
        write_json_record_files(df, out, name_cols=["id"], max_rows=1)


def test_http_post_sink_transport_contract(spark, tmp_path):
    """S14: third concrete publish_batch sink — HTTP transport. Covers the
    reference's broker-producer contract without a broker: executor-side
    chunked POST, retry/backoff on a transient 5xx, Idempotency-Key dedupe
    at the receiver, and span-ledger exactly-once across RE-BATCHED
    redelivery (fresh checkpoint, different trigger size)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from sonic_etl_spark.log import synthesize_change_events
    from sonic_etl_spark.sources.sinks import HttpPostSink
    from sonic_etl_spark.streaming.stream import stream_replay

    received: dict[str, list[str]] = {}  # Idempotency-Key -> JSONL lines
    fail_next = {"n": 1}  # first request gets 503 -> exercises retry
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                if fail_next["n"] > 0:
                    fail_next["n"] -= 1
                    self.send_response(503)
                    self.end_headers()
                    return
                key = self.headers["Idempotency-Key"]
                if key not in received:  # receiver-side dedupe
                    received[key] = body.decode().strip().splitlines()
            self.send_response(200)
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        endpoint = f"http://127.0.0.1:{srv.server_address[1]}/ingest"
        log_dir = str(tmp_path / "log")
        synthesize_change_events(
            spark, 2000, n_partitions=2, num_slices=4
        ).write.parquet(log_dir)
        sink = HttpPostSink(
            endpoint, str(tmp_path / "ledger.json"),
            chunk_records=300, max_retries=3,
        )
        stream_replay(
            spark, log_dir, sink,
            checkpoint_dir=str(tmp_path / "ck1"), max_files_per_trigger=2,
        ).awaitTermination()
        rows = [json.loads(line) for c in received.values() for line in c]
        n1 = len(rows)
        assert 0 < n1 <= 2000
        # every (partition, offset) crossed the wire exactly once
        offs = [(r["last_partition_id"], r["last_offset"]) for r in rows]
        assert len(offs) == len(set(offs))

        # re-batched redelivery: ledger reduces every manifest to nothing
        stream_replay(
            spark, log_dir, sink,
            checkpoint_dir=str(tmp_path / "ck2"), max_files_per_trigger=1,
        ).awaitTermination()
        assert sum(len(c) for c in received.values()) == n1

        # direct skip path
        status = sink.publish_batch(None, [(0, 0, 10)])
        assert status["status"] == "skipped"
    finally:
        srv.shutdown()


def test_batch_dir_name_bounded_and_deterministic():
    """A many-span batch (re-batched redelivery fragments runs) must not
    build a dir name past POSIX NAME_MAX — mkdir would fail and abort the
    batch. Past the literal cap the name switches to a span-list digest,
    still deterministic so a crash-rewrite lands in the SAME dir."""
    from sonic_etl_spark.sources.sinks import JsonlChunkSink

    few = [(0, 0, 9), (1, 10, 19)]
    assert JsonlChunkSink._batch_dir(few) == "batch_p0-0-9_p1-10-19"

    many = [(p, i * 100, i * 100 + 50) for p in range(8) for i in range(10)]
    name = JsonlChunkSink._batch_dir(many)
    assert len(name) < 255
    assert name == JsonlChunkSink._batch_dir(list(reversed(many)))  # order-free
    assert name != JsonlChunkSink._batch_dir(many[:-1])  # span-set sensitive

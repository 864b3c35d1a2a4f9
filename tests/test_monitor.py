"""ReplayMonitor: the health/metrics HTTP surface beside the replay loop
(ST6; ref extractor_transformer/src/main.rs:317-355 actix health+metrics
servers)."""

import json
import time
import urllib.request

import pytest

from sonic_etl_spark.log import synthesize_change_events
from sonic_etl_spark.sources import TransactionalParquetTable
from sonic_etl_spark.sources.multitable import TransactionalTableSet
from sonic_etl_spark.streaming import ReplayMonitor, replay
from sonic_etl_spark.streaming.fanout import replay_fanout

# each replay driver with the target it writes
DRIVERS = {
    "replay": (TransactionalParquetTable, replay),
    "replay_fanout": (TransactionalTableSet, replay_fanout),
}


def _get(port: int, route: str):
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{route}", timeout=5
        ) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:  # 503 still carries a JSON body
        return e.code, json.loads(e.read())


@pytest.mark.parametrize("driver", sorted(DRIVERS))
def test_monitor_serves_health_and_metrics_during_replay(spark, tmp_path, driver):
    make, drive = DRIVERS[driver]
    ev = synthesize_change_events(spark, 3000)
    tab = make(spark, str(tmp_path / "tab"), n_buckets=4)
    mid_flight = []

    with ReplayMonitor(port=0, stale_after_sec=300) as mon:

        def probe_mid_loop():
            # stop_requested runs between micro-batches: the loop is live
            # and mid-replay when this samples both endpoints
            mid_flight.append(
                (_get(mon.port, "/healthz"), _get(mon.port, "/metrics"))
            )
            return False

        # 3000 events over 8 log partitions = 375 offsets each; chunk 125
        # → 3 micro-batches, so the mid-loop probe fires 3 times
        res = drive(
            ev, tab, chunk_size=125, stop_requested=probe_mid_loop,
            monitor=mon,
        )
        assert res.batches_applied == 3

        code, health = _get(mon.port, "/healthz")
        assert code == 200 and health["live"] is True
        assert health["batches_applied"] == 3

        code, metrics = _get(mon.port, "/metrics")
        assert code == 200
        assert metrics["totals"]["batches_applied"] == 3
        assert metrics["totals"]["rows_seen"] == 3000
        assert len(metrics["batches"]) == 3
        assert all(b["status"] == "committed" for b in metrics["batches"])

        code, body = _get(mon.port, "/nope")
        assert code == 404

    # every mid-flight probe answered while the loop was running
    assert len(mid_flight) >= 3
    for (hcode, health), (mcode, _m) in mid_flight:
        assert hcode == 200 and health["live"] is True
        assert mcode == 200


def test_monitor_liveness_goes_stale(tmp_path):
    with ReplayMonitor(port=0, stale_after_sec=0.2) as mon:
        mon.record_batch({"status": "committed", "rows": 10})
        code, health = _get(mon.port, "/healthz")
        assert code == 200 and health["live"] is True
        time.sleep(0.4)
        code, health = _get(mon.port, "/healthz")
        assert code == 503 and health["live"] is False
        mon.heartbeat()  # idle tail-follow keeps the probe green
        code, health = _get(mon.port, "/healthz")
        assert code == 200 and health["live"] is True


def test_monitor_tail_bounded():
    with ReplayMonitor(port=0, tail=5) as mon:
        for i in range(20):
            mon.record_batch({"status": "committed", "rows": 1, "batch_index": i})
        code, metrics = _get(mon.port, "/metrics")
        assert code == 200
        assert [b["batch_index"] for b in metrics["batches"]] == list(range(15, 20))
        assert metrics["totals"]["batches_applied"] == 20

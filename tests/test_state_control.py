"""M4 semantics: TTL keyed state, delivery-semantics sinks, control plane
(reference parity for detection_cache / mqtt_sink QoS0 / control_plane —
SURVEY §2.9 T5-T9, §3.3).
"""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import Row

from cupertino_nvr_spark.schemas import DETECTION_EVENT_SCHEMA
from cupertino_nvr_spark.streaming.control import ControlPlane, EngineConfig, targeted
from cupertino_nvr_spark.streaming.sinks import AtMostOnceSink, RetainedLatestStore
from cupertino_nvr_spark.streaming.state import ttl_latest_per_key

from tests.test_streaming import make_events, ts, write_batches

pytestmark = pytest.mark.slow  # rehearsal suite: excluded from the default (gate) run, see pytest.ini

NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


# ---------------------------------------------------------------------------
# T5: TTL latest-per-key keyed state
# ---------------------------------------------------------------------------


def test_ttl_latest_per_key_updates(spark, tmp_path):
    src = f"{tmp_path}/events"
    write_batches(
        [
            make_events(spark, [(1, 10, 1.0, 2), (1, 11, 2.0, 1), (2, 20, 1.5, 3)]),
            # batch 2: older event for key 1 must NOT regress the cache
            make_events(spark, [(1, 9, 0.5, 5), (2, 21, 9.0, 0)]),
        ],
        src,
    )
    stream = (
        spark.readStream.schema(DETECTION_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    cached = ttl_latest_per_key(stream, ttl_seconds=300.0)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    # A processing-time timeout asks for a state-cleanup batch after every
    # batch, so with no-data batches on an availableNow query never ends
    # (nor does processAllAvailable return). The expiry test covers those
    # batches; this one needs only the two data batches.
    spark.conf.set(NO_DATA_BATCHES, "false")
    try:
        q = (
            cached.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp_path}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    finally:
        spark.conf.unset(NO_DATA_BATCHES)
    rows = spark.table(name).collect()
    # per key, the LAST emitted row is the cache's final value
    final = {}
    for r in rows:
        final[r["source_id"]] = (r["frame_id"], r["ts"], r["n_detections"], r["expired"])
    assert final[1] == (11, ts(2.0), 1, False)  # not regressed by late frame 9
    assert final[2] == (21, ts(9.0), 0, False)
    assert not any(r["expired"] for r in rows)


def test_ttl_latest_per_key_expiry(spark, tmp_path):
    """Processing-time timeout emits a tombstone once a key goes quiet."""
    src = f"{tmp_path}/events"
    write_batches([make_events(spark, [(1, 10, 1.0, 2)])], src)
    stream = (
        spark.readStream.schema(DETECTION_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    cached = ttl_latest_per_key(stream, ttl_seconds=2.0)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        cached.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        expired = []
        feed = 1
        while time.time() < deadline and not expired:
            # keep feeding batches for OTHER keys so micro-batches keep
            # running (timeouts only fire inside a triggered batch; no-data
            # batches also fire them, but don't rely on that alone)
            write_batches(
                [make_events(spark, [(2, feed, 50.0 + feed, 0)])], src, start=feed
            )
            feed += 1
            time.sleep(1.0)
            expired = [r for r in spark.table(name).collect() if r["expired"]]
        assert expired, "no expiry tombstone within 60s"
        assert expired[0]["source_id"] == 1
        assert expired[0]["frame_id"] == 10
    finally:
        q.stop()


def test_dedup_state_survives_restart(spark, tmp_path):
    """T7 restart-from-checkpoint: a second run of the same query (same
    checkpoint) must remember the first run's dedup state — replayed keys
    stay deduplicated across query restarts, the foundation every
    reconfigure-and-restart flow relies on."""
    from cupertino_nvr_spark.streaming.asof import dedup_events_stream

    src = f"{tmp_path}/events"
    out = f"{tmp_path}/out"
    ckpt = f"{tmp_path}/ckpt"

    def run_once():
        stream = (
            spark.readStream.schema(DETECTION_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            dedup_events_stream(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    write_batches([make_events(spark, [(1, 1, 1.0, 1), (2, 1, 2.0, 1)])], src)
    run_once()
    # second run: one replayed key (1,1) and one new key (3,1)
    write_batches([make_events(spark, [(1, 1, 1.0, 1), (3, 1, 3.0, 1)])], src, start=1)
    run_once()

    rows = spark.read.parquet(out).collect()
    keys = sorted((r["source_id"], r["frame_id"]) for r in rows)
    assert keys == [(1, 1), (2, 1), (3, 1)], "dedup state lost across restart"


# ---------------------------------------------------------------------------
# T8: delivery-semantics sinks
# ---------------------------------------------------------------------------


def test_at_most_once_sink_drops_on_failure_and_pause(spark):
    published = []

    def publish(df, batch_id):
        if batch_id == 1:
            raise RuntimeError("broker down")
        published.append((batch_id, df.count()))

    sink = AtMostOnceSink(publish)
    df = spark.range(3)
    sink(df, 0)  # ok
    sink(df, 1)  # publish raises -> dropped, not raised
    sink.pause()
    sink(df, 2)  # gated -> dropped immediately
    sink.resume()
    sink(df, 3)  # ok again
    assert [b for b, _ in published] == [0, 3]
    assert sink.dropped_batches == 2
    assert sink.published_batches == 2


def test_retained_latest_store_upsert(spark):
    store = RetainedLatestStore(key_cols=("instance_id",), ts_col="ts")
    b0 = spark.createDataFrame(
        [("i1", "running", 1.0), ("i1", "paused", 2.0), ("i2", "running", 1.0)],
        "instance_id string, status string, ts double",
    )
    store(b0, 0)
    # replayed batch (at-least-once) + an older row: upsert is idempotent
    b1 = spark.createDataFrame(
        [("i1", "stale", 0.5), ("i2", "stopped", 3.0)],
        "instance_id string, status string, ts double",
    )
    store(b1, 1)
    snap = {k[0]: v["status"] for k, v in store.snapshot().items()}
    assert snap == {"i1": "paused", "i2": "stopped"}


# ---------------------------------------------------------------------------
# §3.3: control plane — targeting, ack lifecycle, reconfig rollback
# ---------------------------------------------------------------------------


def test_targeted_semantics():
    assert targeted(None, "i1") and targeted([], "i1") and targeted(["*"], "i1")
    assert targeted(["i1", "i2"], "i1")
    assert not targeted(["i2"], "i1")


class FakeQuery:
    def __init__(self):
        self.stopped = False

    def stop(self):
        self.stopped = True


def make_plane(**cfg):
    built = []

    def factory(config):
        built.append(config)
        return FakeQuery()

    # a streamless config is a validation error (reference config.py:107-108)
    cfg.setdefault("streams", ("rtsp://cam:8554/1",))
    plane = ControlPlane("i1", EngineConfig(**cfg), query_factory=factory)
    plane.start()
    return plane, built


def test_command_lifecycle_and_unknown(spark):
    plane, built = make_plane()
    batch = spark.createDataFrame(
        [
            (1.0, "PING", None, None),
            (2.0, "bogus", None, ["*"]),
            (3.0, "ping", None, ["other"]),
        ],
        "ts double, command string, params map<string,string>, target_instances array<string>",
    )
    plane.handle_command_batch(batch, 0)
    acks = [(a["command"], a["ack_status"]) for a in plane.acks]
    # targeted-away command produces NO acks (silent drop); unknown command
    # produces received + error listing availability
    assert acks == [
        ("ping", "received"),
        ("ping", "completed"),
        ("bogus", "received"),
        ("bogus", "error"),
    ]
    assert "not available" in plane.acks[-1]["message"]


def test_change_model_restarts_query():
    plane, built = make_plane()
    q0 = plane.query
    plane.handle_command_row(
        Row(ts=1.0, command="change_model", params={"model_id": "yolov8n-320"}, target_instances=None)
    )
    assert plane.config.model_id == "yolov8n-320"
    assert q0.stopped and plane.query is not q0
    assert built[-1].model_id == "yolov8n-320"
    assert plane.status == "running"


def test_bad_config_rolls_back():
    # Validation failures surface BEFORE any mutation (reference
    # command_handlers.py:506-510 step 1): error ack, status untouched, no
    # restart — whether caught at the handler edge (set_confidence) or in
    # EngineConfig.validated() (update_config bypasses per-param checks).
    plane, built = make_plane(confidence_threshold=0.5)
    for cmd in ("set_confidence", "update_config"):
        n_before = len(built)
        plane.handle_command_row(
            Row(
                ts=1.0,
                command=cmd,
                params={"confidence_threshold": "7.5"},  # out of [0,1]
                target_instances=None,
            )
        )
        assert plane.config.confidence_threshold == 0.5  # never mutated
        assert plane.acks[-1]["ack_status"] == "error"
        assert plane.status == "running"  # healthy query never restarted
        assert len(built) == n_before

    # A failure DURING the restart itself (config valid, query factory
    # throws) exercises the backup -> mutate -> rollback path
    # (command_handlers.py:528-565): config restored, the query restarted
    # under the restored config, status error.
    boom = {"armed": False}
    orig_factory = plane._query_factory

    def flaky_factory(config):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("executor lost")
        return orig_factory(config)

    plane._query_factory = flaky_factory
    boom["armed"] = True
    n_before = len(built)
    plane.handle_command_row(
        Row(
            ts=2.0,
            command="update_config",
            params={"confidence_threshold": "0.9"},  # valid value
            target_instances=None,
        )
    )
    assert plane.config.confidence_threshold == 0.5  # rolled back
    assert plane.acks[-1]["ack_status"] == "error"
    assert plane.status == "error"
    # rollback restarted the query under the restored config
    assert built[-1].confidence_threshold == 0.5
    assert len(built) > n_before


def test_remove_last_stream_rejected_without_restart():
    # removing the only stream would produce an invalid (streamless)
    # config: rejected pre-flight with an error ack; the healthy query is
    # NOT restarted and the stream stays attached
    plane, built = make_plane(streams=("rtsp://only",))
    n_before = len(built)
    plane.handle_command_row(
        Row(ts=1.0, command="remove_stream", params={"uri": "rtsp://only"}, target_instances=None)
    )
    assert plane.acks[-1]["ack_status"] == "error"
    assert plane.config.streams == ("rtsp://only",)
    assert plane.status == "running"
    assert len(built) == n_before


def test_stream_add_remove_and_pause_resume():
    plane, built = make_plane(streams=("rtsp://a",))
    plane.handle_command_row(
        Row(ts=1.0, command="add_stream", params={"uri": "rtsp://b"}, target_instances=None)
    )
    assert plane.config.streams == ("rtsp://a", "rtsp://b")
    plane.handle_command_row(
        Row(ts=2.0, command="remove_stream", params={"uri": "rtsp://a"}, target_instances=None)
    )
    assert plane.config.streams == ("rtsp://b",)
    # duplicate add -> error ack, config unchanged
    plane.handle_command_row(
        Row(ts=3.0, command="add_stream", params={"uri": "rtsp://b"}, target_instances=None)
    )
    assert plane.acks[-1]["ack_status"] == "error"
    assert plane.config.streams == ("rtsp://b",)

    plane.handle_command_row(Row(ts=4.0, command="pause", params=None, target_instances=None))
    assert plane.paused and plane.status == "paused"
    plane.handle_command_row(Row(ts=5.0, command="resume", params=None, target_instances=None))
    assert not plane.paused and plane.status == "running"


def test_stop_command_tears_down_query():
    """`stop` (reference processor.py:392) delegates to the lifecycle
    teardown: query stopped and cleared, terminal status, completed ack —
    and the instance still answers ping afterwards."""
    plane, built = make_plane()
    q0 = plane.query
    plane.handle_command_row(
        Row(ts=1.0, command="stop", params=None, target_instances=None)
    )
    assert q0.stopped and plane.query is None
    assert plane.status == "stopped"
    assert [(a["command"], a["ack_status"]) for a in plane.acks] == [
        ("stop", "received"),
        ("stop", "completed"),
    ]
    plane.handle_command_row(
        Row(ts=2.0, command="ping", params=None, target_instances=None)
    )
    assert plane.acks[-1] == {
        "instance_id": "i1",
        "command": "ping",
        "ack_status": "completed",
        "ts": plane.acks[-1]["ts"],
        "message": None,
    }


def test_metrics_command_returns_snapshot():
    """`metrics` (reference command_handlers.py:340-373) publishes the
    provider's latest snapshot on the status stream; without a provider it
    reports metrics_available=False but still completes (the reference
    warns and returns, never errors)."""
    snap = {"batch_id": 7, "processed_rows_per_second": 123.4}
    built = []

    def factory(config):
        built.append(config)
        return FakeQuery()

    plane = ControlPlane(
        "i1",
        EngineConfig(streams=("rtsp://cam:8554/1",)),
        query_factory=factory,
        metrics_provider=lambda: snap,
    )
    plane.start()
    plane.handle_command_row(
        Row(ts=1.0, command="METRICS", params=None, target_instances=None)
    )
    st = plane.statuses[-1]
    assert st["metrics"] == snap and st["metrics_available"] is True
    assert plane.acks[-1]["ack_status"] == "completed"

    bare, _ = make_plane()
    bare.handle_command_row(
        Row(ts=1.0, command="metrics", params=None, target_instances=None)
    )
    st = bare.statuses[-1]
    assert st["metrics"] is None and st["metrics_available"] is False
    assert bare.acks[-1]["ack_status"] == "completed"


def test_rename_instance_acks_from_both_ids():
    """`rename_instance` (reference command_handlers.py:430-475) mutates
    instance_id without a restart; the received ack carries the old id,
    the completed ack the new one, and status records renamed_from."""
    plane, built = make_plane()
    q0 = plane.query
    plane.handle_command_row(
        Row(
            ts=1.0,
            command="rename_instance",
            params={"new_instance_id": "i2"},
            target_instances=["i1"],
        )
    )
    assert plane.instance_id == "i2"
    assert plane.query is q0 and not q0.stopped  # no restart
    recv, done = plane.acks[-2], plane.acks[-1]
    assert (recv["ack_status"], recv["instance_id"]) == ("received", "i1")
    assert (done["ack_status"], done["instance_id"]) == ("completed", "i2")
    assert plane.statuses[-1]["renamed_from"] == "i1"
    # addressed commands now resolve under the NEW identity only
    plane.handle_command_row(
        Row(ts=2.0, command="ping", params=None, target_instances=["i1"])
    )
    assert plane.acks[-1]["command"] != "ping"  # old id no longer targeted
    # missing param -> error ack, identity untouched
    plane.handle_command_row(
        Row(ts=3.0, command="rename_instance", params={}, target_instances=None)
    )
    assert plane.acks[-1]["ack_status"] == "error"
    assert plane.instance_id == "i2"


def test_full_metrics_report_shape():
    """full_metrics_report mirrors the reference get_full_report shape
    (metrics_reporter.py:111-156) and wires cleanly as a plane's
    metrics_provider end-to-end through the metrics command."""
    from cupertino_nvr_spark.streaming.control import full_metrics_report

    class FakeListener:
        progress = [
            {"batch_id": 1, "processed_rows_per_second": 10.0},
            {"batch_id": 2, "processed_rows_per_second": 42.5},
        ]

    rows = [
        {
            "source_id": 1, "avg_inference_ms": 12.3, "last_fps": 25.0,
            "last_latency_ms": 50.0, "resolution": "1280x720",
        }
    ]
    plane, _ = make_plane()
    plane._metrics_provider = lambda: full_metrics_report(
        plane.instance_id, FakeListener(), rows, plane.statuses,
        clock=lambda: 1_700_000_000.0,
    )
    plane.handle_command_row(
        Row(ts=1.0, command="metrics", params=None, target_instances=None)
    )
    rep = plane.statuses[-1]["metrics"]
    assert rep["instance_id"] == "i1"
    assert rep["inference_throughput"] == 42.5
    assert rep["latency_reports"] == [
        {"source_id": 1, "inference_latency_ms": 12.3, "e2e_latency_ms": 50.0}
    ]
    assert rep["sources_metadata"] == [
        {"source_id": 1, "fps": 25.0, "resolution": "1280x720"}
    ]
    assert rep["status_updates"][-1]["status"] == "running"
    assert rep["timestamp"].startswith("2023-11-14T22:13:20")
    # provider without listener data degrades to None throughput
    bare = full_metrics_report("x", None, None, None, clock=lambda: 0.0)
    assert bare["inference_throughput"] is None and bare["latency_reports"] == []

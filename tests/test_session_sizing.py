"""Session defaults sized to the machine, and the stateful streams' plan
shape: state partitions follow the cores, the overlay is one windowed
aggregation and runs the model once per frame, the state of the overlay,
the windowed metrics, the replay dedup and the frame-rate cap stays
bounded as the watermark advances, the keyed monitors hold one state row
per key, and the progress listener reports trigger time, watermark,
state size, commit time and late rows dropped.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import QueryProgressEvent

from cupertino_nvr_spark.schemas import FRAME_SCHEMA
from cupertino_nvr_spark.session import default_driver_memory, get_spark
from cupertino_nvr_spark.streaming.asof import (
    asof_overlay_stream,
    dedup_events_stream,
    rate_limit_frames,
)
from cupertino_nvr_spark.streaming.cdc import cdc_apply_stream
from cupertino_nvr_spark.streaming.codec import encode_event_wire, parse_event_wire
from cupertino_nvr_spark.streaming.control import ProgressListener, full_metrics_report
from cupertino_nvr_spark.streaming.drift import psi_drift_stream
from cupertino_nvr_spark.streaming.ewma import ewma_anomaly_stream, ewma_daily_grid, ewma_weights
from cupertino_nvr_spark.streaming.funnel import funnel_stage_stream
from cupertino_nvr_spark.streaming.heavy_hitters import heavy_hitters_stream
from cupertino_nvr_spark.streaming.inference import with_synthetic_detections
from cupertino_nvr_spark.streaming.packing import packing_stream
from cupertino_nvr_spark.streaming.windows import tumbling_metrics_stream

from tests.test_streaming import make_frames, write_batches


def detection_events(frames):
    """Frames -> model -> wire encode -> wire parse, as the wall receives
    what the processor publishes."""
    events = with_synthetic_detections(frames).select(
        F.lit("inst-0").alias("instance_id"),
        "source_id",
        "frame_id",
        F.col("frame_ts").alias("timestamp"),
        "model_id",
        F.lit(10.0).alias("inference_time_ms"),
        "detections",
        F.lit(25.0).alias("fps"),
        F.lit(50.0).alias("latency_ms"),
    )
    parsed, _quarantine = parse_event_wire(encode_event_wire(events))
    return parsed


def run_overlay(frames, checkpoint):
    """Run the overlay over a frame stream to the end of its input; return
    the progress report of every micro-batch."""
    overlay = asof_overlay_stream(frames, detection_events(frames), ttl_seconds=2.0)
    return run_to_end(overlay, checkpoint)


def run_to_end(stream, checkpoint, output_mode="append"):
    """Run a stream to the end of its input; return the progress report
    of every micro-batch."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
        return q.recentProgress
    finally:
        q.stop()
        stream.sparkSession.catalog.dropTempView(name)


def five_spaced_batches(spark, path):
    """Five one-file micro-batches of 2 cameras x 5 frames; frame time
    jumps 100 s per batch, far past any 10 s watermark, and frame ids
    count up across batches as a camera's do."""
    n_batches = 5
    batches = [
        make_frames(
            spark,
            [(cam, 5 * b + k, 100.0 * b + 0.5 * k) for cam in (1, 2) for k in range(5)],
        )
        for b in range(n_batches)
    ]
    write_batches(batches, path)
    stream = (
        spark.readStream.schema(FRAME_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/*")
    )
    return stream, n_batches


def state_rows_by_batch(progress):
    """{operator name: {batch id: numRowsTotal}}."""
    rows = {}
    for p in progress:
        for op in p["stateOperators"]:
            rows.setdefault(op["operatorName"], {})[p["batchId"]] = op["numRowsTotal"]
    return rows


def test_overlay_runs_model_once_on_cores_sized_state(tmp_path):
    spark = get_spark()
    frames = make_frames(spark, [(1, 1, 1.0), (2, 2, 1.5), (1, 3, 4.0)])
    events = detection_events(frames)
    events.collect()
    physical = events._jdf.queryExecution().executedPlan().toString()
    # a deterministic model UDF is inlined into the wire parser's pushed
    # validity filter, and every frame then goes through the model twice
    assert physical.count("ArrowEvalPython") == 1, physical

    write_batches([frames], f"{tmp_path}/fr")
    stream = spark.readStream.schema(FRAME_SCHEMA).parquet(f"{tmp_path}/fr/*")
    state_ops = run_overlay(stream, f"{tmp_path}/ckpt")[-1]["stateOperators"]
    cores = spark.sparkContext.defaultParallelism
    # one windowed aggregation: no stream-stream join and its four stores
    # per partition
    assert [op["operatorName"] for op in state_ops] == ["stateStoreSave"]
    assert [op["numShufflePartitions"] for op in state_ops] == [2 * cores]
    assert [op["numStateStoreInstances"] for op in state_ops] == [2 * cores]


@pytest.mark.parametrize("ttl", [0.0, -1.0, 4e-7])
def test_overlay_rejects_ttl_under_a_microsecond(ttl):
    """Window lengths are whole microseconds, so a TTL that rounds to
    none fails before any plan is built."""
    frames = make_frames(get_spark(), [(1, 1, 1.0)])
    with pytest.raises(ValueError, match="ttl_seconds"):
        asof_overlay_stream(frames, frames, ttl_seconds=ttl)


def test_overlay_state_stays_bounded_across_batches(tmp_path):
    """Frame time jumps 100 s per micro-batch, far past the 10 s watermark.
    Batch N's watermark comes from batch N-1's frames, so the state holds
    at most two batches of rows: its size at batch 1 caps every batch."""
    spark = get_spark()
    stream, n_batches = five_spaced_batches(spark, f"{tmp_path}/fr")
    progress = run_overlay(stream, f"{tmp_path}/ckpt")
    assert sum(p["numInputRows"] > 0 for p in progress) == n_batches
    rows = state_rows_by_batch(progress)
    assert sorted(rows) == ["stateStoreSave"]
    for op_rows in rows.values():
        assert max(op_rows.values()) <= op_rows[1], rows


def window_metrics(stream):
    return tumbling_metrics_stream(
        detection_events(stream), window_duration="10 seconds", watermark="10 seconds"
    )


def camera_keyed(stream, key, seq, kind, value, key_type="bigint", value_type="double"):
    """Frames as a keyed change log: the camera is the key, the frame id
    the sequence number, so the key domain is the two cameras."""
    return stream.select(
        F.col("source_id").cast(key_type).alias(key),
        F.col("frame_id").alias(seq),
        F.col("frame_ts").alias("ts"),
        F.lit("view").alias(kind),
        F.col("width").cast(value_type).alias(value),
    )


def heavy_hitters(stream):
    return heavy_hitters_stream(
        camera_keyed(stream, "event_type", "user_id", "kind", "value", key_type="string")
    )


def cdc(stream):
    return cdc_apply_stream(
        camera_keyed(stream, "user_id", "event_id", "event_type", "value")
    )


def drift(stream):
    # a reference profile for each camera: deciles at 100, 200, ... 900
    reference = {cam: ([100.0 * k for k in range(1, 10)], [10] * 10, 100) for cam in ("1", "2")}
    return psi_drift_stream(
        camera_keyed(stream, "event_type", "id", "kind", "v", key_type="string"),
        reference,
    )


def ewma(stream):
    return ewma_anomaly_stream(
        ewma_daily_grid(
            camera_keyed(stream, "event_type", "id", "kind", "value", key_type="string")
        ),
        ewma_weights(stream.sparkSession),
    )


def funnel(stream):
    return funnel_stage_stream(
        camera_keyed(stream, "user_id", "event_id", "event_type", "value")
    )


def packing(stream):
    return packing_stream(
        camera_keyed(stream, "shard", "doc_id", "kind", "n_tok", value_type="bigint")
    )


@pytest.mark.parametrize(
    "build, operator, mode",
    [
        (window_metrics, "stateStoreSave", "append"),
        (
            lambda stream: dedup_events_stream(detection_events(stream)),
            "dedupeWithinWatermark",
            "append",
        ),
        (rate_limit_frames, "stateStoreSave", "append"),
        (heavy_hitters, "applyInPandasWithState", "update"),
        (cdc, "applyInPandasWithState", "update"),
        (drift, "applyInPandasWithState", "update"),
        (ewma, "applyInPandasWithState", "update"),
        (funnel, "applyInPandasWithState", "update"),
        (packing, "applyInPandasWithState", "update"),
    ],
    ids=[
        "window_metrics",
        "dedup_events",
        "rate_limit",
        "heavy_hitters",
        "cdc",
        "drift",
        "ewma",
        "funnel",
        "packing",
    ],
)
def test_stateful_stream_state_stays_bounded_across_batches(tmp_path, build, operator, mode):
    """The same five spaced micro-batches through each stateful operator.
    The wall-path operators run with their 10 s watermark: the 10 s
    tumbling-window metrics, the per-(camera, frame) replay dedup, and
    the per-camera frame-rate cap. Batch N evicts every key that expired
    before batch N-1's frames, so the state holds at most two batches of
    keys: its size at batch 1 caps every batch. Without a watermark that
    passes the old keys it grows by one batch of keys per batch.

    The keyed monitors (heavy hitters, CDC apply, PSI drift, EWMA,
    funnel, packing) have no watermark: their state is one row per key,
    and here the key is the camera, so it stays at two rows however many
    frames arrive. State that grew per frame or per batch fails this."""
    spark = get_spark()
    stream, n_batches = five_spaced_batches(spark, f"{tmp_path}/fr")
    progress = run_to_end(build(stream), f"{tmp_path}/ckpt", mode)
    assert sum(p["numInputRows"] > 0 for p in progress) == n_batches
    rows = state_rows_by_batch(progress)
    assert sorted(rows) == [operator]
    for op_rows in rows.values():
        assert op_rows[1] > 0
        assert max(op_rows.values()) <= op_rows[1], rows


def test_default_driver_memory_is_half_of_physical(tmp_path):
    with open("/proc/meminfo") as fh:
        total_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    derived = default_driver_memory()
    assert derived.endswith("m")
    assert 0 < int(derived[:-1]) * 1024 <= total_kib
    fake = tmp_path / "meminfo"
    fake.write_text("MemFree:  1000 kB\nMemTotal:   16777216 kB\n")
    assert default_driver_memory(str(fake)) == "8192m"


PROGRESS = {
    "id": "7f0a8a0e-6c1f-4a8f-9d0c-000000000001",
    "runId": "7f0a8a0e-6c1f-4a8f-9d0c-000000000002",
    "name": "overlay",
    "timestamp": "2024-01-01T00:00:10.000Z",
    "batchId": 3,
    "batchDuration": 3454,
    "durationMs": {"addBatch": 3100, "triggerExecution": 3454},
    "eventTime": {"watermark": "2024-01-01T00:00:00.000Z"},
    "stateOperators": [
        {
            "operatorName": "symmetricHashJoin",
            "numRowsTotal": 1200,
            "numRowsUpdated": 1000,
            "allUpdatesTimeMs": 10,
            "numRowsRemoved": 0,
            "allRemovalsTimeMs": 0,
            "commitTimeMs": 40,
            "memoryUsedBytes": 65536,
            "numRowsDroppedByWatermark": 7,
            "numShufflePartitions": 8,
            "numStateStoreInstances": 32,
            "customMetrics": {},
        }
    ],
    "sources": [],
    "sink": {"description": "MemorySink", "numOutputRows": 1000},
    "numInputRows": 1000,
    "inputRowsPerSecond": 100.0,
    "processedRowsPerSecond": 289.5,
}


def test_progress_listener_keeps_trigger_watermark_and_state():
    """Each batch's trigger time, watermark and, per stateful operator,
    state size, commit time and late rows dropped reach the listener and
    the metrics report."""
    listener = ProgressListener()
    listener.onQueryProgress(QueryProgressEvent.fromJson({"progress": PROGRESS}))
    state = [
        {
            "operator": "symmetricHashJoin",
            "num_shuffle_partitions": 8,
            "num_state_store_instances": 32,
            "num_rows_total": 1200,
            "memory_used_bytes": 65536,
            "commit_time_ms": 40,
            "num_rows_dropped_by_watermark": 7,
        }
    ]
    snap = listener.progress[-1]
    assert snap["batch_id"] == 3
    assert snap["trigger_execution_ms"] == 3454
    assert snap["watermark"] == "2024-01-01T00:00:00.000Z"
    assert snap["state_operators"] == state

    rep = full_metrics_report("i1", listener, clock=lambda: 0.0)
    assert rep["inference_throughput"] == 289.5
    assert rep["stream_progress"] == {
        "batch_id": 3,
        "trigger_execution_ms": 3454,
        "watermark": "2024-01-01T00:00:00.000Z",
        "state_operators": state,
    }
    assert full_metrics_report("i1", None, clock=lambda: 0.0)["stream_progress"] is None

"""End-to-end demo: the reference's processor+wall composed as Structured
Streaming queries under the control plane.

    python examples/nvr_pipeline_demo.py [seconds]

Wiring (reference §3.1-3.3 order: sinks/control first, pipeline start last):

  rate source -> frame metadata -> synthetic-detector pandas UDF (U1)
      -> JSON wire encode (S3) -> parse + quarantine (S4/F6)
      -> tumbling metrics (T4/A1-A2) -> memory sink (update mode)

  ControlPlane owns the query (restart-with-rollback on reconfig),
  ProgressListener captures per-batch throughput (U4), and statuses land
  in a RetainedLatestStore (S5).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Row

from cupertino_nvr_spark.session import get_spark
from cupertino_nvr_spark.streaming.codec import encode_event_wire, parse_event_wire
from cupertino_nvr_spark.streaming.control import (
    ControlPlane,
    EngineConfig,
    attach_metrics_listener,
)
from cupertino_nvr_spark.streaming.sources import synthetic_detection_stream
from cupertino_nvr_spark.streaming.windows import tumbling_metrics_stream


def run_demo(duration_s: float = 12.0, n_sources: int = 4) -> dict:
    spark = get_spark("nvr-pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")
    listener = attach_metrics_listener(spark)

    def query_factory(config: EngineConfig):
        events = synthetic_detection_stream(spark, n_sources=n_sources, rows_per_second=50)
        wire = encode_event_wire(events)
        parsed, _quarantine = parse_event_wire(wire)
        metrics = tumbling_metrics_stream(
            parsed,
            window_duration="5 seconds",
            watermark="5 seconds",
            min_throughput=0.0,  # F5: skip idle windows
        )
        return (
            metrics.writeStream.format("memory")
            .queryName("demo_metrics")
            .outputMode("update")
            .trigger(processingTime="2 seconds")
            .start()
        )

    def wait_for_rows(at_least: int, deadline_s: float) -> int:
        deadline = time.time() + deadline_s
        n = 0
        while time.time() < deadline:
            q = plane.query
            if q is not None and q.exception() is not None:
                raise RuntimeError(f"demo query died: {q.exception()}")
            try:
                n = spark.table("demo_metrics").count()
            except Exception:
                n = 0
            if n >= at_least:
                break
            time.sleep(1.0)
        return n

    plane = ControlPlane("demo-0", EngineConfig(streams=("synthetic://0",)), query_factory)
    plane.start()
    try:
        # generous deadline: first-batch latency on a loaded machine can
        # exceed a minute; wait_for_rows exits as soon as rows appear
        n0 = wait_for_rows(1, duration_s + 120)
        # mid-run dynamic reconfig: model swap restarts the query under the
        # new config with rollback protection (T7)
        plane.handle_command_row(
            Row(ts=time.time(), command="change_model",
                params={"model_id": "synthetic-detector-v2"}, target_instances=["*"])
        )
        plane.handle_command_row(
            Row(ts=time.time(), command="ping", params=None, target_instances=None)
        )
        wait_for_rows(n0 + 1, duration_s + 120)
    finally:
        plane.stop()

    metrics_rows = spark.table("demo_metrics").collect()
    return {
        "metrics_rows": len(metrics_rows),
        "sources_seen": sorted({r["source_id"] for r in metrics_rows}),
        "acks": [(a["command"], a["ack_status"]) for a in plane.acks],
        "statuses": [s["status"] for s in plane.statuses],
        "model_id": plane.config.model_id,
        "progress_batches": len(listener.progress),
        "sample": metrics_rows[:3],
    }


if __name__ == "__main__":
    duration = float(sys.argv[1]) if len(sys.argv) > 1 else 12.0
    out = run_demo(duration)
    for k, v in out.items():
        print(f"{k}: {v}")

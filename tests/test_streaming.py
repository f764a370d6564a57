"""Structured Streaming semantics tests (SURVEY §5.2.3, M3/M4).

Pattern: write deterministic micro-batch parquet files, replay them with
``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow``, land results in a
memory sink, and compare against the equivalent *batch* computation on the
same rows — so the streaming plan's correctness is checked against
Catalyst's own batch semantics rather than hand-maintained goldens.
"""

from __future__ import annotations

import time
import uuid
from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cupertino_nvr_spark.streaming.asof import (
    asof_overlay_stream,
    dedup_events_stream,
    rate_limit_frames,
)
from cupertino_nvr_spark.streaming.codec import encode_event_wire, parse_event_wire
from cupertino_nvr_spark.streaming.inference import with_synthetic_detections
from cupertino_nvr_spark.streaming.sources import replay_events_stream
from cupertino_nvr_spark.streaming.windows import (
    session_windows_stream,
    tumbling_metrics_stream,
)
from cupertino_nvr_spark.schemas import DETECTION_EVENT_SCHEMA, FRAME_SCHEMA

pytestmark = pytest.mark.slow  # rehearsal suite: excluded from the default (gate) run, see pytest.ini


def ts(second: float) -> datetime:
    """Deterministic event times on 2024-01-01 (UTC, tz-naive for Spark),
    exact to the microsecond."""
    return datetime(2024, 1, 1) + timedelta(seconds=second)


def make_events(spark, rows):
    """rows: (source_id, frame_id, second, n_detections)."""
    data = []
    for source_id, frame_id, second, n_det in rows:
        data.append(
            (
                "inst-0",
                source_id,
                frame_id,
                ts(second),
                "m1",
                10.0,
                [
                    ("person", 0.9, (10.0, 20.0, 30.0, 40.0), None)
                    for _ in range(n_det)
                ],
                25.0,
                50.0,
            )
        )
    return spark.createDataFrame(data, DETECTION_EVENT_SCHEMA)


def make_frames(spark, rows):
    """rows: (source_id, frame_id, second)."""
    data = [(sid, fid, ts(sec), 640, 480) for sid, fid, sec in rows]
    return spark.createDataFrame(data, FRAME_SCHEMA)


def run_stream(df, tmpdir, output_mode="append"):
    """availableNow -> memory sink -> collected rows."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", f"{tmpdir}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not terminate"
    return df.sparkSession.table(name)


def write_batches(df_batches, path, start=0):
    """One parquet file per micro-batch (maxFilesPerTrigger=1 replay).
    NOTE: a stream globbing ``{path}/*`` lists files exactly one directory
    below the glob match — batch dirs must sit directly under ``path``."""
    for i, df in enumerate(df_batches, start=start):
        df.coalesce(1).write.parquet(f"{path}/b{i:03d}", mode="overwrite")


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path)


# ---------------------------------------------------------------------------
# codec (P6/P9/P10 streaming form)
# ---------------------------------------------------------------------------


def test_event_wire_roundtrip(spark):
    events = make_events(spark, [(1, 10, 1.0, 2), (2, 11, 2.0, 0)])
    wire = encode_event_wire(events)
    assert wire.columns == ["topic", "key", "value"]
    topics = {r["topic"] for r in wire.collect()}
    assert topics == {"nvr/detections/1", "nvr/detections/2"}

    ok, quarantine = parse_event_wire(wire)
    assert quarantine.count() == 0
    back = {(r["source_id"], r["frame_id"], r["timestamp"]) for r in ok.collect()}
    orig = {(r["source_id"], r["frame_id"], r["timestamp"]) for r in events.collect()}
    assert back == orig
    # parsed source id from the topic matches the payload's
    assert ok.filter(F.col("topic_source_id") != F.col("source_id")).count() == 0


def test_event_wire_quarantine(spark):
    good = encode_event_wire(make_events(spark, [(1, 10, 1.0, 1)]))
    bad = spark.createDataFrame(
        [("nvr/detections/9", "9", "{not json"), ("nvr/detections/oops", "x", None)],
        "topic string, key string, value string",
    )
    ok, quarantine = parse_event_wire(good.unionByName(bad))
    assert ok.count() == 1
    q = {r["reason"] for r in quarantine.collect()}
    assert q == {"unparseable_payload"}  # NULL payload + bad topic both unparseable first


# ---------------------------------------------------------------------------
# windows (T4) — streaming result == batch result on the same rows
# ---------------------------------------------------------------------------


FLUSH_SEC = 100000.0  # far-future sentinel that pushes the watermark past
# every real window; append-mode aggregates emit only when the watermark
# passes the window end, so the last replay batch carries these markers


def flush_events(spark):
    return make_events(spark, [(99, 10**9, FLUSH_SEC, 0)])


def test_tumbling_metrics_stream_matches_batch(spark, stream_dir):
    batches = [
        make_events(spark, [(1, 1, 1.0, 1), (1, 2, 3.0, 2), (2, 1, 4.0, 0)]),
        make_events(spark, [(1, 3, 11.0, 1), (2, 2, 12.0, 3), (2, 3, 19.0, 1)]),
        flush_events(spark),
    ]
    src = f"{stream_dir}/events"
    write_batches(batches, src)

    stream = replay_events_stream(spark, f"{src}/*", DETECTION_EVENT_SCHEMA)
    got = [
        r
        for r in run_stream(tumbling_metrics_stream(stream), stream_dir).collect()
        if r["window_start"] < ts(1000)
    ]

    batch_df = batches[0].unionByName(batches[1])
    want = tumbling_metrics_stream(batch_df).collect()  # same code path in batch
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 4  # (win0,s1),(win0,s2),(win1,s1),(win1,s2)


def test_min_throughput_gate(spark, stream_dir):
    """F5 publish-worthiness gate: metrics rows below the throughput floor
    are suppressed, matching the reference's skip-publish-when-zero
    (``metrics_reporter.py:170-172``) generalized to a configurable floor.

    Window is 10 s, so 1 event -> throughput 0.1, 2 events -> 0.2; a 0.15
    floor keeps exactly the 2-event groups. Checked in both the streaming
    and batch forms of the same code path.
    """
    batches = [
        make_events(spark, [(1, 1, 1.0, 1), (1, 2, 3.0, 2), (2, 1, 4.0, 0)]),
        flush_events(spark),
    ]
    src = f"{stream_dir}/events"
    write_batches(batches, src)
    stream = replay_events_stream(spark, f"{src}/*", DETECTION_EVENT_SCHEMA)
    got = [
        (r["source_id"], r["n_events"])
        for r in run_stream(
            tumbling_metrics_stream(stream, min_throughput=0.15), stream_dir
        ).collect()
        if r["window_start"] < ts(1000)
    ]
    assert got == [(1, 2)]  # source 2's single-event window gated out

    batch = tumbling_metrics_stream(batches[0], min_throughput=0.15).collect()
    assert [(r["source_id"], r["n_events"]) for r in batch] == [(1, 2)]
    # default (None) leaves every group visible — the library default path
    ungated = tumbling_metrics_stream(batches[0]).collect()
    assert sorted(r["source_id"] for r in ungated) == [1, 2]


def test_session_windows_stream(spark, stream_dir):
    batches = [
        make_events(spark, [(1, 1, 1.0, 1), (1, 2, 10.0, 1)]),  # one session (gap 30s)
        make_events(spark, [(1, 3, 120.0, 1)]),  # second session
        flush_events(spark),
    ]
    src = f"{stream_dir}/events"
    write_batches(batches, src)
    stream = replay_events_stream(spark, f"{src}/*", DETECTION_EVENT_SCHEMA)
    rows = run_stream(session_windows_stream(stream), stream_dir).collect()
    by_start = sorted(
        (r["session_start"], r["n_events"]) for r in rows if r["session_start"] < ts(1000)
    )
    assert [n for _, n in by_start] == [2, 1]


# ---------------------------------------------------------------------------
# as-of overlay join (J1 streaming form)
# ---------------------------------------------------------------------------


def test_asof_overlay_stream(spark, stream_dir):
    ev_dir, fr_dir = f"{stream_dir}/ev", f"{stream_dir}/fr"
    write_batches(
        [
            make_events(spark, [(1, 100, 10.0, 2), (1, 101, 10.6, 1), (2, 200, 10.0, 3)]),
            flush_events(spark),
        ],
        ev_dir,
    )
    write_batches(
        [
            make_frames(
                spark,
                [
                    (1, 1000, 11.0),  # events at 10.0 & 10.6 in TTL -> latest 101
                    (2, 2000, 12.0),  # event at 10.0 older than TTL 1s -> NULL
                    (3, 3000, 11.0),  # no events at all -> NULL
                ],
            ),
            make_frames(spark, [(99, 10**9, FLUSH_SEC)]),
        ],
        fr_dir,
    )
    frames = spark.readStream.schema(FRAME_SCHEMA).parquet(f"{fr_dir}/*")
    events = replay_events_stream(spark, f"{ev_dir}/*", DETECTION_EVENT_SCHEMA)
    rows = run_stream(asof_overlay_stream(frames, events, ttl_seconds=1.0), stream_dir)
    got = {
        r["frame_id"]: (r["ev_frame_id"], r["n_candidate_events"])
        for r in rows.collect()
        if r["frame_id"] < 10**9
    }
    assert got == {1000: (101, 2), 2000: (None, 0), 3000: (None, 0)}


def overlay_reference(frames, events, ttl_seconds):
    """Pandas as-of overlay: per frame, the events of its camera with
    frame_ts - TTL <= ev_ts <= frame_ts, their count and the latest one."""
    fr = pd.DataFrame(frames, columns=["source_id", "frame_id", "second"])
    ev = pd.DataFrame(events, columns=["source_id", "ev_frame_id", "ev_second", "n_det"])
    pairs = fr.merge(ev, on="source_id")
    pairs = pairs[
        (pairs["ev_second"] <= pairs["second"])
        & (pairs["ev_second"] >= pairs["second"] - ttl_seconds)
    ]
    want = {fid: (None, None, 0) for fid in fr["frame_id"]}
    for fid, group in pairs.groupby("frame_id"):
        latest = group.loc[group["ev_second"].idxmax()]
        want[fid] = (int(latest["ev_frame_id"]), ts(latest["ev_second"]), len(group))
    return want


def test_asof_overlay_stream_edges_match_pandas(spark, stream_dir):
    """TTL bounds to the microsecond, a window boundary between two frames
    that share an event, a camera without frames, and an event that lands
    one micro-batch after its frame: the streaming overlay equals a pandas
    as-of computed on the same rows."""
    ttl = 1.0
    frames = [
        (1, 1, 20.0),  # events at 19.0 (= frame_ts - TTL) and at 20.0
        (1, 2, 30.0),  # only event 1 us older than the TTL
        (1, 3, 40.0),  # event at 40.0 in, event 1 us later out
        (1, 4, 50.8),  # TTL buckets [50, 51) and [51, 52) share the
        (1, 5, 51.3),  # event at 50.5
        (1, 6, 70.0),  # its only event arrives in the next micro-batch
    ]
    events_0 = [
        (1, 101, 19.0, 1),
        (1, 102, 20.0, 2),
        (1, 103, 30.0 - ttl - 1e-6, 1),
        (1, 104, 40.0, 3),
        (1, 105, 40.0 + 1e-6, 1),
        (1, 106, 50.5, 2),
        (2, 201, 20.0, 1),  # camera 2 has events but no frames
        (2, 202, 50.7, 1),
    ]
    frames_1 = [(1, 7, 71.5)]  # keeps both sources in step
    events_1 = [(1, 107, 69.7, 1)]
    ev_dir, fr_dir = f"{stream_dir}/ev", f"{stream_dir}/fr"
    write_batches(
        [make_events(spark, events_0), make_events(spark, events_1), flush_events(spark)],
        ev_dir,
    )
    write_batches(
        [
            make_frames(spark, frames),
            make_frames(spark, frames_1),
            make_frames(spark, [(99, 10**9, FLUSH_SEC)]),
        ],
        fr_dir,
    )
    fr_stream = (
        spark.readStream.schema(FRAME_SCHEMA).option("maxFilesPerTrigger", 1).parquet(f"{fr_dir}/*")
    )
    ev_stream = replay_events_stream(spark, f"{ev_dir}/*", DETECTION_EVENT_SCHEMA)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        asof_overlay_stream(fr_stream, ev_stream, ttl_seconds=ttl)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{stream_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
        progress = q.recentProgress
    finally:
        q.stop()
    # the late event is read in batch 1, while the watermark is still
    # before it
    batch_1 = next(p for p in progress if p["batchId"] == 1)
    assert [s["numInputRows"] for s in batch_1["sources"]] == [1, 1]
    watermark = datetime.fromisoformat(batch_1["eventTime"]["watermark"].replace("Z", "+00:00"))
    assert watermark.timestamp() < ts(69.7).timestamp()

    got = {
        r["frame_id"]: (r["ev_frame_id"], r["ev_ts"], r["n_candidate_events"])
        for r in spark.table(name).collect()
        if r["frame_id"] < 10**9
    }
    want = overlay_reference(frames + frames_1, events_0 + events_1, ttl)
    assert got == want
    assert {fid: n for fid, (_, _, n) in got.items()} == {1: 2, 2: 0, 3: 1, 4: 1, 5: 1, 6: 1, 7: 0}


# ---------------------------------------------------------------------------
# dedup (T8 at-least-once -> effectively-once) and rate limiting (T3)
# ---------------------------------------------------------------------------


def test_dedup_events_stream(spark, stream_dir):
    batches = [
        make_events(spark, [(1, 1, 1.0, 1), (1, 1, 1.0, 1), (1, 2, 2.0, 1)]),  # in-batch dup
        make_events(spark, [(1, 2, 2.0, 1), (2, 1, 3.0, 1)]),  # cross-batch replay
    ]
    src = f"{stream_dir}/events"
    write_batches(batches, src)
    stream = replay_events_stream(spark, f"{src}/*", DETECTION_EVENT_SCHEMA)
    rows = run_stream(dedup_events_stream(stream), stream_dir).collect()
    keys = sorted((r["source_id"], r["frame_id"]) for r in rows)
    assert keys == [(1, 1), (1, 2), (2, 1)]


def test_rate_limit_frames(spark, stream_dir):
    # source 1: 4 frames in 2s -> max_fps=1 keeps latest per 1s bucket
    write_batches(
        [
            make_frames(
                spark,
                [(1, 1, 10.1), (1, 2, 10.6), (1, 3, 11.2), (1, 4, 11.9), (2, 9, 10.4)],
            ),
            make_frames(spark, [(99, 10**9, FLUSH_SEC)]),
        ],
        f"{stream_dir}/fr",
    )
    frames = spark.readStream.schema(FRAME_SCHEMA).parquet(f"{stream_dir}/fr/*")
    rows = run_stream(rate_limit_frames(frames, max_fps=1.0), stream_dir).collect()
    kept = sorted((r["source_id"], r["frame_id"]) for r in rows if r["frame_id"] < 10**9)
    assert kept == [(1, 2), (1, 4), (2, 9)]


# ---------------------------------------------------------------------------
# synthetic inference (U1): deterministic, schema-true
# ---------------------------------------------------------------------------


def test_sliding_throughput_stream(spark, stream_dir):
    from cupertino_nvr_spark.streaming.windows import sliding_throughput_stream

    batches = [
        make_events(spark, [(1, 1, 1.0, 1), (2, 1, 5.0, 1), (1, 2, 12.0, 1)]),
        flush_events(spark),
    ]
    src = f"{stream_dir}/events"
    write_batches(batches, src)
    stream = replay_events_stream(spark, f"{src}/*", DETECTION_EVENT_SCHEMA)
    got = [
        r
        for r in run_stream(sliding_throughput_stream(stream), stream_dir).collect()
        if r["window_start"] < ts(1000)
    ]
    want = [
        r for r in sliding_throughput_stream(batches[0]).collect()
    ]  # batch == streaming on same rows
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # events at 1.0 and 5.0 share the [−20,10) … windows; slide=10s over a
    # 30s window puts every event in 3 windows
    assert sum(r["n_events"] for r in got) == 9


def test_processor_chain_end_to_end(spark, stream_dir):
    """S1->U1->P9->S3 wire->S4->P10->T4: frames through synthetic inference,
    JSON wire codec, and windowed metrics — the reference's two processes
    composed as one streaming plan."""
    write_batches(
        [
            make_frames(spark, [(1, 1, 1.0), (1, 2, 4.0), (2, 7, 6.0)]),
            make_frames(spark, [(99, 10**9, FLUSH_SEC)]),
        ],
        f"{stream_dir}/fr",
    )
    frames = spark.readStream.schema(FRAME_SCHEMA).parquet(f"{stream_dir}/fr/*")
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
    wire = encode_event_wire(events)
    parsed, _ = parse_event_wire(wire)
    metrics = tumbling_metrics_stream(parsed)
    rows = [
        r
        for r in run_stream(metrics, stream_dir).collect()
        if r["window_start"] < ts(1000)
    ]
    got = {(r["source_id"]): r["n_events"] for r in rows}
    assert got == {1: 2, 2: 1}


def test_synthetic_detect_deterministic(spark):
    frames = make_frames(spark, [(1, 1, 1.0), (2, 7, 2.0), (3, 9, 3.0)])
    a = with_synthetic_detections(frames).select("source_id", "frame_id", "detections")
    r1 = {(r["source_id"], r["frame_id"]): r["detections"] for r in a.collect()}
    r2 = {(r["source_id"], r["frame_id"]): r["detections"] for r in a.collect()}
    assert r1 == r2
    all_dets = [d for dets in r1.values() for d in dets]
    assert all(0.0 <= d["confidence"] <= 1.0 for d in all_dets)
    assert all(d["bbox"]["width"] >= 16 for d in all_dets)


# ---------------------------------------------------------------------------
# stateful streaming funnel (batch events_funnel's streaming form)
# ---------------------------------------------------------------------------


def test_funnel_stream_matches_batch(spark, stream_dir):
    """The per-key stage machine must agree with the batch window-function
    funnel (plans.temporal.funnel_user_flags) on in-order replay, including
    out-of-funnel-order users and advances that span micro-batches."""
    from cupertino_nvr_spark.plans.temporal import funnel_user_flags
    from cupertino_nvr_spark.streaming.funnel import funnel_stage_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def mk(rows):
        return spark.createDataFrame(
            [(eid, ts(sec), uid, et) for eid, sec, uid, et in rows], schema
        )

    # u1 completes in one batch; u2's click precedes its view (never
    # qualifies); u3 spans batches (view in b1, click in b2, purchase in
    # b3); u4 purchases without any prior step; u5 stalls at click.
    b1 = mk(
        [
            (1, 1.0, 1, "view"),
            (2, 2.0, 1, "click"),
            (3, 3.0, 1, "purchase"),
            (4, 1.5, 2, "click"),
            (5, 4.0, 3, "view"),
            (6, 4.5, 4, "purchase"),
        ]
    )
    b2 = mk(
        [
            (7, 5.0, 2, "view"),
            (8, 5.5, 2, "purchase"),
            (9, 6.0, 3, "click"),
            (10, 6.5, 5, "view"),
        ]
    )
    b3 = mk([(11, 7.0, 3, "purchase"), (12, 7.5, 5, "click")])
    write_batches([b1, b2, b3], f"{stream_dir}/ev")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/ev/*")
    )
    out = run_stream(funnel_stage_stream(src), stream_dir, output_mode="update")
    got = {
        r["user_id"]: r["stage"]
        for r in out.groupBy("user_id").agg(F.max("stage").alias("stage")).collect()
    }
    batch = funnel_user_flags(b1.union(b2).union(b3)).collect()
    expected = {r["user_id"]: r["rv"] + r["rc"] + r["rp"] for r in batch}
    assert got == expected
    assert expected == {1: 3, 2: 1, 3: 3, 4: 0, 5: 2}


def test_anomaly_zscore_stream_matches_batch(spark, stream_dir):
    """The streaming ring-buffer scorer must agree with the batch
    window-function z-score (same strictly-earlier trailing-20 frame) on
    in-order replay, including windows spanning micro-batches."""
    from pyspark.sql import Window

    from cupertino_nvr_spark.streaming.anomaly import anomaly_zscore_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = []
    eid = 0
    # u1: steady 10.0 +- small wiggle, then a 60.0 spike at the end;
    # u2: too few events to ever score; u3: alternating but in-band
    for i in range(30):
        eid += 1
        rows.append((eid, float(i), 1, "view", 10.0 + (i % 3) * 0.5))
    eid += 1
    rows.append((eid, 30.0, 1, "view", 60.0))  # the anomaly
    for i in range(5):
        eid += 1
        rows.append((eid, float(i), 2, "view", 5.0 + i))
    for i in range(25):
        eid += 1
        rows.append((eid, float(i), 3, "view", 20.0 + (i % 5)))

    def mk(chunk):
        return spark.createDataFrame(
            [(e, ts(sec), u, et, v) for e, sec, u, et, v in chunk], schema
        )

    chunks = [rows[:20], rows[20:40], rows[40:]]
    write_batches([mk(c) for c in chunks], f"{stream_dir}/ev")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/ev/*")
    )
    out = run_stream(
        anomaly_zscore_stream(src), stream_dir, output_mode="update"
    ).collect()
    got = {
        r["event_id"]: (r["n_prev"], round(r["z"], 6) if r["z"] is not None else None)
        for r in out
    }
    got_anom = {r["event_id"] for r in out if r["is_anomaly"]}

    # batch replica of the registry query's scoring (pre-anomaly-filter)
    ev = mk(rows)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    n_prev = F.count("value").over(w)
    s1 = F.sum("value").over(w)
    s2 = F.sum(F.col("value") * F.col("value")).over(w)
    mean = s1 / n_prev
    var = (s2 - s1 * s1 / n_prev) / (n_prev - 1)
    z = F.when(n_prev >= 8, (F.col("value") - mean) / F.sqrt(var))
    batch = ev.select(
        "event_id", n_prev.alias("n_prev"), F.round(z, 6).alias("z")
    ).collect()
    expected = {r["event_id"]: (r["n_prev"], r["z"]) for r in batch}
    expected_anom = {
        r["event_id"] for r in batch if r["z"] is not None and abs(r["z"]) >= 3.0
    }

    assert got == expected
    assert got_anom == expected_anom
    assert len(expected_anom) >= 1  # the planted spike fires


def test_funnel_stream_multichunk_group(spark, stream_dir):
    """A key whose micro-batch spans multiple Arrow chunks must still be
    processed in (ts, event_id) order: with maxRecordsPerBatch=3 and rows
    written in REVERSE time order, per-chunk processing would see the
    click before the view and stall the stage machine."""
    from cupertino_nvr_spark.plans.temporal import funnel_user_flags
    from cupertino_nvr_spark.streaming.funnel import funnel_stage_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    rows = [(i + 1, float(i), 1, et) for i, et in enumerate(
        ["view", "other", "other", "other", "click", "other", "other",
         "other", "purchase", "other"])]
    rev = spark.createDataFrame(
        [(e, ts(sec), u, et) for e, sec, u, et in reversed(rows)], schema
    )
    write_batches([rev], f"{stream_dir}/ev")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        src = spark.readStream.schema(schema).parquet(f"{stream_dir}/ev/*")
        out = run_stream(
            funnel_stage_stream(src), stream_dir, output_mode="update"
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert {r["user_id"]: r["stage"] for r in out} == {1: 3}
    batch = spark.createDataFrame([(e, ts(s), u, et) for e, s, u, et in rows], schema)
    flags = funnel_user_flags(batch).collect()[0]
    assert flags["rv"] + flags["rc"] + flags["rp"] == 3


def test_anomaly_stream_multichunk_and_nulls(spark, stream_dir):
    """Chunk-spanning groups score in time order, and a NULL value neither
    enters the ring buffer nor poisons later scores (the batch COUNT/SUM
    null-skip semantics)."""
    from pyspark.sql import Window

    from cupertino_nvr_spark.streaming.anomaly import anomaly_zscore_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    vals = [10.0, 10.5, 11.0, 10.2, 10.8, 10.4, None, 10.6, 10.9, 10.1,
            10.7, 10.3, 60.0]
    rows = [(i + 1, float(i), 1, "view", v) for i, v in enumerate(vals)]
    rev = spark.createDataFrame(
        [(e, ts(s), u, et, v) for e, s, u, et, v in reversed(rows)], schema
    )
    write_batches([rev], f"{stream_dir}/ev")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        src = spark.readStream.schema(schema).parquet(f"{stream_dir}/ev/*")
        out = run_stream(
            anomaly_zscore_stream(src), stream_dir, output_mode="update"
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {
        r["event_id"]: (r["n_prev"], round(r["z"], 6) if r["z"] is not None else None)
        for r in out
    }
    # batch replica with null-skipping window stats over non-null rows only
    ev = spark.createDataFrame(
        [(e, ts(s), u, et, v) for e, s, u, et, v in rows if v is not None], schema
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    n_prev = F.count("value").over(w)
    s1 = F.sum("value").over(w)
    s2 = F.sum(F.col("value") * F.col("value")).over(w)
    mean = s1 / n_prev
    var = (s2 - s1 * s1 / n_prev) / (n_prev - 1)
    z = F.when((n_prev >= 8) & (var > 0), (F.col("value") - mean) / F.sqrt(var))
    exp = {
        r["event_id"]: (r["n_prev"], r["z"])
        for r in ev.select(
            "event_id", n_prev.alias("n_prev"), F.round(z, 6).alias("z")
        ).collect()
    }
    assert got == exp
    # the planted spike is still flagged after the null
    assert any(r["is_anomaly"] for r in out if r["event_id"] == 13)


def test_heavy_hitters_stream_matches_batch_exact(spark, stream_dir):
    """With capacity >= the distinct item count, no Misra-Gries decrement
    ever fires and the summary counts are EXACT — the final per-key
    emission must equal the batch groupBy count, including counts that
    accumulate across micro-batches."""
    from cupertino_nvr_spark.streaming.heavy_hitters import heavy_hitters_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = []
    eid = 0
    # skewed per-type user frequencies, interleaved across batches
    for rep, user in [(7, 1), (5, 2), (3, 3), (1, 4)]:
        for _ in range(rep):
            eid += 1
            rows.append((eid, ts(eid), user, "click", 1.0))
    for rep, user in [(4, 5), (2, 1)]:
        for _ in range(rep):
            eid += 1
            rows.append((eid, ts(eid), user, "view", 1.0))

    def mk(chunk):
        return spark.createDataFrame(chunk, schema)

    chunks = [rows[:8], rows[8:15], rows[15:]]
    write_batches([mk(c) for c in chunks], f"{stream_dir}/hh")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/hh/*")
    )
    out = run_stream(
        heavy_hitters_stream(src, capacity=16), stream_dir, output_mode="update"
    ).collect()

    # freshest summary per key = rows carrying that key's max n_total
    latest_total = {}
    for r in out:
        latest_total[r["event_type"]] = max(
            latest_total.get(r["event_type"], 0), r["n_total"]
        )
    got = {
        (r["event_type"], r["item"]): r["est_count"]
        for r in out
        if r["n_total"] == latest_total[r["event_type"]]
    }

    batch = (
        mk(rows)
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    expected = {(r["event_type"], r["user_id"]): r["n"] for r in batch}
    assert got == expected
    # and the totals absorbed match the stream lengths per key
    assert latest_total == {"click": 16, "view": 6}


def test_heavy_hitters_stream_bound_small_capacity(spark, stream_dir):
    """With capacity < distinct items, the classic Misra-Gries guarantees
    must hold: at most `capacity` counters survive, every item with true
    count > n/capacity is retained, and estimates are in
    [true - n/capacity, true]."""
    from cupertino_nvr_spark.streaming.heavy_hitters import heavy_hitters_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = []
    eid = 0
    # n=20: user 1 x12 (heavy, 12 > 20/2), users 2..9 x1 each
    freq = [(12, 1)] + [(1, u) for u in range(2, 10)]
    for rep, user in freq:
        for _ in range(rep):
            eid += 1
            rows.append((eid, ts(eid), user, "click", 1.0))

    def mk(chunk):
        return spark.createDataFrame(chunk, schema)

    chunks = [rows[:7], rows[7:14], rows[14:]]
    write_batches([mk(c) for c in chunks], f"{stream_dir}/hh2")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/hh2/*")
    )
    out = run_stream(
        heavy_hitters_stream(src, capacity=2), stream_dir, output_mode="update"
    ).collect()
    n_total = max(r["n_total"] for r in out)
    assert n_total == 20
    final = {r["item"]: r["est_count"] for r in out if r["n_total"] == n_total}
    assert len(final) <= 2
    err = n_total / 2
    assert 1 in final  # true count 12 > n/capacity = 10 -> must be retained
    assert 12 - err <= final[1] <= 12
    for item, est in final.items():
        true = dict((u, c) for c, u in freq).get(item, 0)
        assert true - err <= est <= true


def test_heavy_hitters_stream_generic_columns(spark, stream_dir):
    """The key/item parameters are real: a non-default numeric item and a
    different string key work end-to-end with the output named after the
    key, and a non-integral item fails fast on the driver (review
    finding: the shape used to be hardcoded)."""
    import pytest as _pytest

    from cupertino_nvr_spark.streaming.heavy_hitters import heavy_hitters_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    # 8 distinct items = capacity, so no Misra-Gries reduction wipes the
    # all-singletons summary and the full item set must survive
    rows = [(i, ts(i), 1 if i % 3 else 2, "click", 1.0) for i in range(1, 9)]
    df = spark.createDataFrame(rows, schema).withColumnRenamed(
        "event_type", "kind"
    )
    with _pytest.raises(TypeError, match="integral"):
        heavy_hitters_stream(df, key_col="kind", item_col="value")

    write_batches([df], f"{stream_dir}/hh3")
    src = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/hh3/*")
    )
    out = run_stream(
        heavy_hitters_stream(src, capacity=8, key_col="kind", item_col="event_id"),
        stream_dir,
        output_mode="update",
    )
    assert out.columns == ["kind", "item", "est_count", "n_total"]
    rows_out = out.collect()
    assert {r["kind"] for r in rows_out} == {"click"}
    assert {r["item"] for r in rows_out} == set(range(1, 9))


def test_windowed_distinct_count_stream_matches_batch(spark, stream_dir):
    """The chained dedup->count stream must equal the batch
    COUNT(DISTINCT) per window for every window the watermark closed,
    including duplicates split across micro-batches."""
    from cupertino_nvr_spark.streaming.windows import windowed_distinct_count_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = []
    eid = 0
    # day 1: users 1,2,3 (user 1 repeats across batch boundary);
    # day 2: users 1,4; day 3: user 9; then a far-future flush row
    # (the FLUSH_SEC pattern) pushes the watermark past every real window
    for sec, user in [(10, 1), (20, 2), (30, 3), (40, 1), (86410, 1), (86420, 4), (86430, 1), (172810, 9), (500000, 999)]:
        eid += 1
        rows.append((eid, ts(sec), user, "view", 1.0))

    def mk(chunk):
        return spark.createDataFrame(chunk, schema)

    chunks = [rows[:3], rows[3:6], rows[6:8], rows[8:]]
    write_batches([mk(c) for c in chunks], f"{stream_dir}/dc")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/dc/*")
    )
    out = run_stream(
        windowed_distinct_count_stream(src), stream_dir, output_mode="append"
    ).collect()
    got = {
        (r["window_start"], r["n_distinct"])
        for r in out
        if r["window_start"] < ts(400000)  # drop the flush sentinel's window
    }

    batch = (
        mk(rows[:8])  # the real rows, flush excluded
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count_distinct("user_id").alias("n"))
        .select(F.col("win.start").alias("s"), "n")
        .collect()
    )
    expected = {(r["s"], r["n"]) for r in batch}
    assert got == expected  # days 1-3, closed by the flushed watermark
    assert dict(got)[ts(0)] == 3  # day 1: users {1,2,3}, dedup across batches


# ---------------------------------------------------------------------------
# CDC apply (streaming twin of the batch events_cdc_apply plan)
# ---------------------------------------------------------------------------


def test_cdc_apply_stream_matches_batch(spark, stream_dir):
    """The stream's retained view (latest state per key, tombstoned keys
    dropped) equals the batch events_cdc_apply result on the same log —
    for ANY batch chopping, since counters are order-independent and the
    payload only overwrites on a strictly newer (ts, event_id)."""
    from cupertino_nvr_spark.plans import REGISTRY
    from cupertino_nvr_spark.sources.tables import load_table
    from cupertino_nvr_spark.streaming.cdc import cdc_apply_stream

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # four replay batches, chopped by event_id hash (arbitrary order)
    src = f"{stream_dir}/cdclog"
    write_batches(
        [ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i) for i in range(4)],
        src,
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        cdc_apply_stream(stream), stream_dir, output_mode="update"
    ).collect()

    # n_ops is strictly monotonic per key, so the final state per key is
    # its max-n_ops row (no reliance on sink row order)
    final = {}
    for r in out:
        cur = final.get(r["user_id"])
        if cur is None or r["n_ops"] > cur["n_ops"]:
            final[r["user_id"]] = r

    survivors = {
        u: (r["n_ops"], r["n_deletes"], r["last_value"], r["last_ts"])
        for u, r in final.items()
        if not r["deleted"]
    }
    batch = {
        r["user_id"]: (r["n_ops"], r["n_deletes"], r["last_value"], r["last_ts"])
        for r in REGISTRY["events_cdc_apply"].spark(spark, sf).collect()
    }
    assert survivors == batch
    # every key appears exactly once in the final view; tombstoned keys
    # are precisely the users whose newest op is an 'error'
    all_users = {r["user_id"] for r in ev.select("user_id").distinct().collect()}
    assert set(final) == all_users
    assert {u for u, r in final.items() if r["deleted"]} == all_users - set(batch)


def test_cdc_apply_stream_drop_tombstoned(spark, stream_dir):
    """drop_tombstoned=True bounds state to live keys: a tombstoned key's
    state is removed after its final deleted=True row, so (a) a key that
    stays dead emits nothing further, and (b) an upsert arriving in a
    LATER batch than the drop restarts the key's counters from zero — the
    documented resurrection tradeoff of the TTL mode."""
    from cupertino_nvr_spark.streaming.cdc import cdc_apply_stream

    def log_df(rows):
        return spark.createDataFrame(
            [
                (eid, datetime(2024, 1, 1, 0, 0, sec), uid, et, val)
                for eid, sec, uid, et, val in rows
            ],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double",
        )

    src = f"{stream_dir}/cdcdrop"
    write_batches(
        [
            # b0: users 1,2,3 born
            log_df([(1, 1, 1, "click", 1.0), (2, 1, 2, "click", 2.0),
                    (3, 1, 3, "click", 3.0)]),
            # b1: users 1 and 3 tombstoned -> state removed under TTL mode
            log_df([(4, 2, 1, "error", 0.0), (5, 2, 3, "error", 0.0)]),
            # b2: user 1 resurrects with a strictly newer op; user 3 stays dead
            log_df([(6, 3, 1, "click", 9.0)]),
        ],
        src,
    )
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        cdc_apply_stream(stream, drop_tombstoned=True),
        stream_dir,
        output_mode="update",
    ).collect()

    by_user = {}
    for r in sorted(out, key=lambda r: (r["last_ts"], r["n_ops"])):
        by_user.setdefault(r["user_id"], []).append(r)

    # user 2: never tombstoned, one state row
    assert [(r["n_ops"], r["deleted"]) for r in by_user[2]] == [(1, False)]
    # user 3: born then dead, final row flagged deleted, nothing after
    assert [(r["n_ops"], r["deleted"]) for r in by_user[3]] == [
        (1, False), (2, True),
    ]
    # user 1: counters RESET after the drop (1 op, not 3) — resurrection
    # starts a fresh life under TTL mode
    assert [(r["n_ops"], r["deleted"]) for r in by_user[1]] == [
        (1, False), (2, True), (1, False),
    ]
    assert by_user[1][-1]["last_value"] == 9.0


# ---------------------------------------------------------------------------
# streaming exact dedup (first-occurrence filter, twin of fingerprint dedup)
# ---------------------------------------------------------------------------


def test_dedup_stream_matches_batch(spark, stream_dir):
    """The stream's retained view (latest cluster row per digest) equals
    the batch fingerprint-dedup clusters for ANY batch chopping: n_copies
    is order-independent and the keeper (min id seen) can only decrease,
    so once the true min arrives the stream keeper equals the batch
    min(doc_id)."""
    from cupertino_nvr_spark.plans.llm import augmented_docs
    from cupertino_nvr_spark.streaming.dedup import (
        dedup_stream,
        normalized_digest,
    )

    sf = "/root/testdata/sf0.001"
    docs = augmented_docs(spark, sf).select(
        "doc_id", normalized_digest(F.col("text")).alias("digest")
    )
    src = f"{stream_dir}/dedupdocs"
    write_batches(
        [docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i) for i in range(4)],
        src,
    )
    stream = (
        spark.readStream.schema("doc_id bigint, digest string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        dedup_stream(stream), stream_dir, output_mode="update"
    ).collect()

    final = {}
    for r in out:
        cur = final.get(r["digest"])
        if cur is None or r["n_copies"] > cur["n_copies"]:
            final[r["digest"]] = r
    got = {d: (r["keeper_id"], r["n_copies"]) for d, r in final.items()}

    from cupertino_nvr_spark.llm.dedup import exact_dedup
    from cupertino_nvr_spark.llm.text import fingerprint

    batch = {
        r["digest"]: (r["keeper_id"], r["n_copies"])
        for r in augmented_docs(spark, sf)
        .select(fingerprint(F.col("text")).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
        .collect()
    }
    assert got == batch
    # the fixture actually contains duplicate clusters
    assert any(n > 1 for _, n in got.values())


# ---------------------------------------------------------------------------
# streaming MinHash-LSH candidate generation (twin of lsh_candidates)
# ---------------------------------------------------------------------------


def test_lsh_candidates_stream_matches_batch(spark, stream_dir):
    """With an uncapped bucket, the distinct union of streamed candidate
    pairs equals the batch banding's candidate set for ANY chopping: each
    pair surfaces at the first batch where its docs co-occupy a bucket."""
    from cupertino_nvr_spark.llm.dedup import (
        lsh_band_membership,
        lsh_candidates,
        minhash_signature,
    )
    from cupertino_nvr_spark.plans.llm import augmented_docs
    from cupertino_nvr_spark.streaming.neardup import lsh_candidates_stream

    sf = "/root/testdata/sf0.001"
    cap = 1_000_000  # uncapped: semantics of batch and stream caps differ
    docs = augmented_docs(spark, sf)
    sigs = minhash_signature(docs)
    members = lsh_band_membership(sigs, band_cap=cap).select(
        "doc_id", "band_idx", "band_key"
    )
    src = f"{stream_dir}/lshmembers"
    write_batches(
        [
            members.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
            for i in range(3)
        ],
        src,
    )
    stream = (
        spark.readStream.schema("doc_id bigint, band_idx int, band_key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        lsh_candidates_stream(stream, band_cap=cap),
        stream_dir,
        output_mode="update",
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    want = {
        (r.id_a, r.id_b)
        for r in lsh_candidates(sigs, band_cap=cap).collect()
    }
    assert got == want
    assert len(want) > 0


def test_lsh_candidates_stream_cap_saturates(spark, stream_dir):
    """A saturated bucket stops emitting AND storing: with cap=2, three
    members of one bucket yield exactly the one pair among the first two
    arrivals."""
    from cupertino_nvr_spark.streaming.neardup import lsh_candidates_stream

    rows = spark.createDataFrame(
        [(10, 0, "k"), (20, 0, "k"), (30, 0, "k")],
        "doc_id bigint, band_idx int, band_key string",
    )
    src = f"{stream_dir}/capmembers"
    write_batches(
        [rows.filter(F.col("doc_id") == i) for i in (10, 20, 30)], src
    )
    stream = (
        spark.readStream.schema("doc_id bigint, band_idx int, band_key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        lsh_candidates_stream(stream, band_cap=2),
        stream_dir,
        output_mode="update",
    ).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(10, 20)}


# ---------------------------------------------------------------------------
# streaming SimHash near-dup pairing (twin of simhash_neardup_pairs /
# the registered docs_simhash_neardup definition)
# ---------------------------------------------------------------------------


def test_simhash_stateless_matches_batch(spark):
    """The per-row HOF signature must equal the explode+groupBy batch
    signature doc-for-doc (same token set, hash, votes, bit rule) — the
    precondition for the streaming chain computing the same bands."""
    from cupertino_nvr_spark.llm.dedup import simhash, simhash_stateless
    from cupertino_nvr_spark.plans.llm import augmented_docs

    docs = augmented_docs(spark, "/root/testdata/sf0.001")
    batch = {r.doc_id: r.simhash for r in simhash(docs, bits=32).collect()}
    stream_form = {
        r.doc_id: r.simhash for r in simhash_stateless(docs, bits=32).collect()
    }
    assert stream_form == batch
    assert len(batch) > 0


def test_simhash_neardup_stream_matches_batch(spark, stream_dir):
    """With an uncapped bucket, the distinct union of streamed VERIFIED
    pairs (hamming <= tau, checked inside the stateful operator) equals
    the batch simhash pairing for ANY chopping: banding is stateless per
    row, so each pair surfaces exactly at the first micro-batch where its
    docs co-occupy a band bucket.

    The batch expectation is THE REGISTERED ANCHOR ROW
    docs_simhash_neardup_uncapped, so the driver's
    oracle gate externally hash-confirms the exact form this pin is
    stated against — stream == declared row == DuckDB."""
    from cupertino_nvr_spark.llm.dedup import (
        simhash_band_membership,
        simhash_stateless,
    )
    from cupertino_nvr_spark.plans import REGISTRY
    from cupertino_nvr_spark.plans.llm import augmented_docs
    from cupertino_nvr_spark.streaming.neardup import simhash_neardup_stream

    sf = "/root/testdata/sf0.001"
    cap = 1_000_000  # stream cap never reached => uncapped semantics
    docs = augmented_docs(spark, sf)
    sigs = simhash_stateless(docs, bits=32)
    members = simhash_band_membership(sigs, bits=32, n_bands=4).join(
        sigs, "doc_id"
    )
    src = f"{stream_dir}/simhashmembers"
    write_batches(
        [
            members.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
            for i in range(3)
        ],
        src,
    )
    stream = (
        spark.readStream.schema(
            "doc_id bigint, band_idx int, band_key bigint, simhash bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        simhash_neardup_stream(stream, tau=3, band_cap=cap),
        stream_dir,
        output_mode="update",
    ).collect()
    got = {(r.id_a, r.id_b): (r.hamming, r.is_sig_exact) for r in out}
    want = {
        (r.id_a, r.id_b): (r.hamming, r.is_sig_exact)
        for r in REGISTRY["docs_simhash_neardup_uncapped"]
        .spark(spark, sf)
        .collect()
    }
    assert got == want
    assert len(want) > 0
    assert any(h > 0 for h, _ in want.values())  # real near (not just exact) pairs


def test_simhash_neardup_stream_cap_saturates(spark, stream_dir):
    """A saturated bucket stops emitting AND storing: with cap=2, three
    signature-identical members of one band bucket yield exactly the one
    verified pair among the first two arrivals."""
    from cupertino_nvr_spark.streaming.neardup import simhash_neardup_stream

    rows = spark.createDataFrame(
        [(10, 0, 7, 5), (20, 0, 7, 5), (30, 0, 7, 5)],
        "doc_id bigint, band_idx int, band_key bigint, simhash bigint",
    )
    src = f"{stream_dir}/simhashcap"
    write_batches(
        [rows.filter(F.col("doc_id") == i) for i in (10, 20, 30)], src
    )
    stream = (
        spark.readStream.schema(
            "doc_id bigint, band_idx int, band_key bigint, simhash bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        simhash_neardup_stream(stream, tau=3, band_cap=2),
        stream_dir,
        output_mode="update",
    ).collect()
    assert {(r.id_a, r.id_b, r.hamming, r.is_sig_exact) for r in out} == {
        (10, 20, 0, 1)
    }


def test_simhash_neardup_capped_divergence_contract(spark, stream_dir):
    """The twins' DOCUMENTED divergence under a binding cap, pinned exactly
    (the equality test only covers the uncapped case): the
    batch rule anti-joins a hot bucket away ENTIRELY (membership is known
    up front), while the stream saturates — the first ``cap`` arrivals of
    a bucket still pair, later arrivals are neither paired nor stored. So
    with a deterministic arrival order the stream's pair set is computable
    first-principles (per bucket: verified pairs among the first-cap
    arrivals), the batch set is a SUBSET of the stream set (a non-hot
    bucket never saturates), and the difference comes exactly from hot
    buckets."""
    from cupertino_nvr_spark.llm.dedup import (
        simhash_band_membership,
        simhash_neardup_pairs,
        simhash_stateless,
    )
    from cupertino_nvr_spark.plans.llm import augmented_docs
    from cupertino_nvr_spark.streaming.neardup import simhash_neardup_stream

    sf = "/root/testdata/sf0.001"
    cap, tau = 2, 3
    docs = augmented_docs(spark, sf)
    sigs = simhash_stateless(docs, bits=32)
    members = simhash_band_membership(sigs, bits=32, n_bands=4).join(
        sigs, "doc_id"
    )
    src = f"{stream_dir}/simhashcapdiv"
    write_batches(
        [
            members.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
            for i in range(3)
        ],
        src,
    )
    stream = (
        spark.readStream.schema(
            "doc_id bigint, band_idx int, band_key bigint, simhash bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        (r.id_a, r.id_b)
        for r in run_stream(
            simhash_neardup_stream(stream, tau=tau, band_cap=cap),
            stream_dir,
            output_mode="update",
        ).collect()
    }

    # first-principles expectation: replay each bucket in the stream's
    # deterministic arrival order (micro-batch index = doc_id % 3, then
    # sorted doc_id within a batch — the operator sorts arrivals), keep
    # the first `cap` members, pair within them at hamming <= tau
    buckets: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for r in members.collect():
        buckets.setdefault((r.band_idx, r.band_key), []).append(
            (r.doc_id % 3, r.doc_id, r.simhash)
        )
    want_stream: set[tuple[int, int]] = set()
    hot_bucket_pairs: set[tuple[int, int]] = set()
    n_hot = 0
    for arrivals in buckets.values():
        ordered = sorted(arrivals)
        first_cap = [(d, s) for _, d, s in ordered[:cap]]
        hot = len(ordered) > cap
        n_hot += hot
        for i in range(len(first_cap)):
            for j in range(i + 1, len(first_cap)):
                (da, sa), (db, sb) = first_cap[i], first_cap[j]
                if (sa ^ sb).bit_count() <= tau:
                    pair = (min(da, db), max(da, db))
                    want_stream.add(pair)
                    if hot:
                        hot_bucket_pairs.add(pair)
    assert got == want_stream
    # the batch rule on the same corpus/cap: hot buckets contribute NOTHING
    batch = {
        (r.id_a, r.id_b)
        for r in simhash_neardup_pairs(docs, tau=tau, band_cap=cap).collect()
    }
    assert batch <= got
    # the divergence must actually be exercised: hot buckets existed and
    # contributed stream-only pairs the batch definition excludes
    assert n_hot > 0
    assert (got - batch) and (got - batch) <= hot_bucket_pairs


# ---------------------------------------------------------------------------
# streaming embedding near-dup candidates (twin of the centered sign-bit
# LSH blocking, llm/dedup.py::embedding_neardup_pairs_lsh)
# ---------------------------------------------------------------------------


def test_embedding_lsh_candidates_stream_matches_batch(spark, stream_dir):
    """With fixed calibration offsets and an uncapped bucket, the distinct
    union of streamed embedding candidate pairs equals the batch probe-
    bucket membership self-join for ANY chopping: bucket assignment is
    stateless per row (same offsets -> same buckets in batch and stream),
    so each pair surfaces exactly at the first micro-batch where its two
    vectors co-occupy a probed bucket."""
    from cupertino_nvr_spark.llm.dedup import (
        embedding_bucket_membership,
        lsh_plane_offsets,
    )
    from cupertino_nvr_spark.plans.llm import augmented_embeddings
    from cupertino_nvr_spark.streaming.neardup import (
        embedding_lsh_candidates_stream,
    )

    sf = "/root/testdata/sf0.001"
    vectors = augmented_embeddings(spark, sf)
    offsets = lsh_plane_offsets(vectors, n_planes=10)
    members = embedding_bucket_membership(vectors, offsets).select(
        "member_id", "bucket"
    )

    # batch candidate set: membership self-join on bucket, unordered-distinct
    a = members.select(F.col("bucket"), F.col("member_id").alias("id_a"))
    b = members.select(F.col("bucket"), F.col("member_id").alias("id_b"))
    want = {
        (r.id_a, r.id_b)
        for r in a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }

    src = f"{stream_dir}/embmembers"
    write_batches(
        [
            members.filter(F.pmod(F.col("member_id"), F.lit(3)) == i)
            .withColumnRenamed("member_id", "vec_id")
            for i in range(3)
        ],
        src,
    )
    stream = (
        spark.readStream.schema("vec_id bigint, bucket int")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        embedding_lsh_candidates_stream(stream, bucket_cap=1_000_000),
        stream_dir,
        output_mode="update",
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert got == want
    assert len(want) > 0
    # the fixture contains planted exact copies — they MUST co-bucket
    # (identical vectors project identically, centering preserves that)
    planted = {p for p in want if p[1] - p[0] == 1_000_000}
    assert planted


def test_embedding_bucket_membership_matches_batch_blocking(spark):
    """The fixed-offset membership projection assigns the same buckets as
    the batch path's own corpus-aggregate centering when the offsets come
    from that same corpus — the refactor (lsh_probe_buckets extraction)
    cannot have forked the two."""
    from cupertino_nvr_spark.llm.dedup import (
        embedding_bucket_membership,
        embedding_neardup_pairs_lsh,
        lsh_plane_offsets,
    )
    from cupertino_nvr_spark.plans.llm import augmented_embeddings

    sf = "/root/testdata/sf0.001"
    vectors = augmented_embeddings(spark, sf)
    offsets = lsh_plane_offsets(vectors, n_planes=10)
    members = embedding_bucket_membership(vectors, offsets)
    a = members.select("bucket", F.col("member_id").alias("id_a"))
    b = members.select("bucket", F.col("member_id").alias("id_b"))
    cand = {
        (r.id_a, r.id_b)
        for r in a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
        .collect()
    }
    # every pair the batch near-dup emits must be a membership candidate
    # (uncapped: cap differences aside, blocking is identical)
    emitted = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs_lsh(
            vectors,
            threshold=0.99,
            n_planes=10,
            bucket_cap=1_000_000,
        ).collect()
    }
    assert emitted <= cand


# ---------------------------------------------------------------------------
# streaming sequence packing (twin of docs_sequence_packing)
# ---------------------------------------------------------------------------


def test_packing_stream_matches_batch(spark, stream_dir):
    """Under id-ordered replay (range-chopped batches, sorted within a
    micro-batch) the streamed packing assignment equals the batch
    running-sum window row-for-row: the per-shard counter IS the window's
    prefix sum."""
    from cupertino_nvr_spark.plans import REGISTRY
    from cupertino_nvr_spark.sources.tables import load_table
    from cupertino_nvr_spark.llm.text import token_count
    from cupertino_nvr_spark.streaming.packing import packing_stream

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf).select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
    )
    n = docs.count()
    # range chopping preserves within-shard doc_id order across batches
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    src = f"{stream_dir}/packdocs"
    write_batches(
        [
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            for lo, hi in zip(bounds, bounds[1:])
        ],
        src,
    )
    stream = (
        spark.readStream.schema("doc_id bigint, shard bigint, n_tok bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        packing_stream(stream, seq_len=512), stream_dir, output_mode="update"
    ).collect()
    got = {
        r["doc_id"]: (r["shard"], r["n_tok"], r["seq_id"], r["seq_offset"], r["n_seqs_spanned"])
        for r in out
    }
    want = {
        r["doc_id"]: (r["shard"], r["n_tok"], r["seq_id"], r["seq_offset"], r["n_seqs_spanned"])
        for r in REGISTRY["docs_sequence_packing"].spark(spark, sf).collect()
    }
    assert got == want
    assert len(want) > 0
    # at least one doc actually spans a sequence boundary in the fixture
    assert any(v[4] > 1 for v in want.values())


# streaming PSI drift (twin of events_psi_drift)


def test_psi_drift_stream_matches_batch(spark, stream_dir):
    """Counter state is order-insensitive, so under ANY chopping the
    stream's final per-bucket counts equal the batch plan's cur_n, the
    frozen reference profile equals the batch ref_n, and the final
    emission's smoothed PSI columns match the batch values (both sides
    round to 6 decimals)."""
    from cupertino_nvr_spark.plans import REGISTRY
    from cupertino_nvr_spark.plans.temporal import _PSI_SPLIT
    from cupertino_nvr_spark.sources.tables import load_table
    from cupertino_nvr_spark.streaming.drift import (
        _psi_rows,
        psi_drift_stream,
        psi_reference,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf)
    reference = psi_reference(ev)
    cur = ev.filter(
        F.col("ts") >= F.lit(_PSI_SPLIT).cast("timestamp")
    ).select(
        "event_id", "event_type", F.round(F.col("value"), 1).alias("v")
    )
    n = cur.count()
    ids = [r["event_id"] for r in cur.select("event_id").collect()]
    ids.sort()
    bounds = [ids[0], ids[n // 4], ids[2 * n // 3], ids[-1] + 1]
    src = f"{stream_dir}/psiev"
    write_batches(
        [
            cur.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)).select(
                "event_type", "v"
            )
            for lo, hi in zip(bounds, bounds[1:])
        ],
        src,
    )
    stream = (
        spark.readStream.schema("event_type string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        psi_drift_stream(stream, reference), stream_dir, output_mode="update"
    ).collect()
    assert out
    # counters never decrease, so the final emission per bucket is the max
    final_counts: dict[str, list[int]] = {}
    for r in out:
        counts = final_counts.setdefault(r["event_type"], [0] * 10)
        counts[r["bucket"]] = max(counts[r["bucket"]], r["cur_n"])
    batch = REGISTRY["events_psi_drift"].spark(spark, sf).collect()
    assert {r["event_type"] for r in batch} == set(final_counts)
    for t, counts in final_counts.items():
        edges, ref_masses, n_ref = reference[t]
        got = {
            row[1]: row
            for row in _psi_rows(t, edges, ref_masses, n_ref, counts)
        }
        want = [r for r in batch if r["event_type"] == t]
        assert len(want) == 10
        for r in want:
            g = got[r["bucket"]]
            assert g[2] == r["ref_n"], (t, r["bucket"])
            assert g[3] == r["cur_n"], (t, r["bucket"])
            for i, col in ((4, "p_ref"), (5, "p_cur"), (6, "psi_contrib"), (7, "psi_total")):
                assert abs(g[i] - r[col]) < 2e-6, (t, r["bucket"], col)


# streaming EWMA forecast-residual anomaly (twin of events_ewma_anomaly)


def test_ewma_anomaly_stream_matches_batch(spark, stream_dir):
    """Day totals accumulate as exact integer cents (order-insensitive),
    the weight table is frozen through the batch plan's own pow
    expression, and every rounding replays Spark's round via
    Decimal(repr(x)) — so (a) the emission kernel applied to the final
    state equals the batch rows EXACTLY, and (b) under arbitrary chopping
    the stream's output contains every final row, with per-(type, day)
    n_prev converging to the batch value."""
    from cupertino_nvr_spark.plans import REGISTRY
    from cupertino_nvr_spark.sources.tables import load_table
    from cupertino_nvr_spark.streaming.ewma import (
        _ewma_rows,
        ewma_anomaly_stream,
        ewma_daily_grid,
        ewma_weights,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf)
    grid = ewma_daily_grid(ev).select(
        "event_type", "day_epoch", "cents",
        F.monotonically_increasing_id().alias("_rid"),
    )
    weights = ewma_weights(spark)

    # (a) exact kernel pin: final accumulated grid -> batch rows
    final = {}
    for r in grid.groupBy("event_type", "day_epoch").agg(
        F.sum("cents").alias("c")
    ).collect():
        final.setdefault(r["event_type"], {})[r["day_epoch"]] = int(r["c"])
    want = {}
    for t, acc in final.items():
        ds = sorted(acc)
        for row in _ewma_rows(t, ds, [acc[d] for d in ds], weights):
            want[(t, row[1])] = row
    batch = REGISTRY["events_ewma_anomaly"].spark(spark, sf).collect()
    assert len(batch) == len(want)
    for r in batch:
        g = want[(r["event_type"], r["day"].date())]
        assert g[2] == r["total_value"], (r["event_type"], r["day"])
        assert g[3] == r["n_prev"]
        assert g[4] == r["ewma_prev"], (r["event_type"], r["day"], g[4])
        assert g[5] == r["pct_dev"], (r["event_type"], r["day"], g[5])
        assert g[6] == r["is_anomaly"]

    # (b) replay under uneven chopping; stream output must contain every
    # final row and n_prev must converge per (type, day)
    rows = grid.orderBy("_rid").collect()
    n = len(rows)
    bounds = [0, n // 5, n // 2, (5 * n) // 6, n]
    src = f"{stream_dir}/ewmaev"
    write_batches(
        [
            spark.createDataFrame(
                [(r["event_type"], r["day_epoch"], r["cents"]) for r in chunk],
                "event_type string, day_epoch int, cents long",
            )
            for chunk in (rows[lo:hi] for lo, hi in zip(bounds, bounds[1:]))
        ],
        src,
    )
    stream = (
        spark.readStream.schema("event_type string, day_epoch int, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        ewma_anomaly_stream(stream, weights), stream_dir, output_mode="update"
    ).collect()
    assert out
    got = {}
    for r in out:
        key = (r["event_type"], r["day"])
        got.setdefault(key, []).append(r)
    for r in batch:
        key = (r["event_type"], r["day"].date())
        emissions = got[key]
        assert max(e["n_prev"] for e in emissions) == r["n_prev"], key
        assert any(
            e["n_prev"] == r["n_prev"]
            and e["total_value"] == r["total_value"]
            and e["ewma_prev"] == r["ewma_prev"]
            and e["pct_dev"] == r["pct_dev"]
            and e["is_anomaly"] == r["is_anomaly"]
            for e in emissions
        ), key


# streaming Holt-Winters (twin of events_holt_winters)


def test_holt_winters_stream_matches_batch(spark, stream_dir):
    """The twin shares the batch plan's own recurrence kernel and
    accumulates exact integer cents, so under ANY chopping the final
    emission equals the batch rows EXACTLY (every column, no tolerance).
    Same replay mechanics as the EWMA twin; the final frame per (type,
    idx) must appear in the output and per-(type, idx) n-row growth is
    monotone in days seen."""
    from cupertino_nvr_spark.plans import REGISTRY
    from cupertino_nvr_spark.sources.tables import load_table
    from cupertino_nvr_spark.streaming.ewma import (
        ewma_daily_grid,
        holt_winters_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf)
    grid = ewma_daily_grid(ev).select(
        "event_type", "day_epoch", "cents",
        F.monotonically_increasing_id().alias("_rid"),
    )
    rows = grid.orderBy("_rid").collect()
    n = len(rows)
    bounds = [0, n // 3, (3 * n) // 5, n]
    src = f"{stream_dir}/hwev"
    write_batches(
        [
            spark.createDataFrame(
                [(r["event_type"], r["day_epoch"], r["cents"]) for r in chunk],
                "event_type string, day_epoch int, cents long",
            )
            for chunk in (rows[lo:hi] for lo, hi in zip(bounds, bounds[1:]))
        ],
        src,
    )
    stream = (
        spark.readStream.schema("event_type string, day_epoch int, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        holt_winters_stream(stream), stream_dir, output_mode="update"
    ).collect()
    assert out
    got = {}
    for r in out:
        got.setdefault((r["event_type"], r["idx"]), []).append(r)
    batch = REGISTRY["events_holt_winters"].spark(spark, sf).collect()
    assert batch
    cols = [
        "day", "total_value", "level", "trend", "seasonal", "forecast",
        "resid", "pct_dev", "is_anomaly",
    ]
    for b in batch:
        emissions = got[(b["event_type"], b["idx"])]
        assert any(
            all(e[c] == b[c] for c in cols) for e in emissions
        ), (b["event_type"], b["idx"])


# streaming CUSUM (twin of events_cusum_changepoints)


def test_cusum_stream_matches_batch(spark, stream_dir):
    """The twin shares the batch plan's own recurrence kernel and
    accumulates exact integer cents, so under ANY chopping the final
    emission equals the batch rows EXACTLY (every column, no
    tolerance)."""
    from cupertino_nvr_spark.plans import REGISTRY
    from cupertino_nvr_spark.sources.tables import load_table
    from cupertino_nvr_spark.streaming.ewma import (
        cusum_stream,
        ewma_daily_grid,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf)
    grid = ewma_daily_grid(ev).select(
        "event_type", "day_epoch", "cents",
        F.monotonically_increasing_id().alias("_rid"),
    )
    rows = grid.orderBy("_rid").collect()
    n = len(rows)
    bounds = [0, n // 4, n // 2, n]
    src = f"{stream_dir}/cusumev"
    write_batches(
        [
            spark.createDataFrame(
                [(r["event_type"], r["day_epoch"], r["cents"]) for r in chunk],
                "event_type string, day_epoch int, cents long",
            )
            for chunk in (rows[lo:hi] for lo, hi in zip(bounds, bounds[1:]))
        ],
        src,
    )
    stream = (
        spark.readStream.schema("event_type string, day_epoch int, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream(
        cusum_stream(stream), stream_dir, output_mode="update"
    ).collect()
    assert out
    got = {}
    for r in out:
        got.setdefault((r["event_type"], r["idx"]), []).append(r)
    batch = REGISTRY["events_cusum_changepoints"].spark(spark, sf).collect()
    assert batch
    cols = [
        "day", "total_value", "cusum_pos", "cusum_neg", "is_changepoint",
        "direction",
    ]
    for b in batch:
        emissions = got[(b["event_type"], b["idx"])]
        assert any(
            all(e[c] == b[c] for c in cols) for e in emissions
        ), (b["event_type"], b["idx"])

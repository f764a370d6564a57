"""Streaming as-of overlay, streaming dedup, rate limiting
(SURVEY §2.4 J1, §2.9 T2/T3).

J1 is the wall's core semantics: for each live frame, the latest detection
event of the same ``source_id`` no older than TTL, else render without
overlay (reference ``cupertino_nvr/wall/wall.py:122-127``,
``wall/detection_cache.py:48-69``, TTL default 1.0 s
``wall/config.py:50-51``). In Spark that is one event-time sliding-window
aggregation over the union of frames and events: windows of 2·TTL sliding
by TTL, keyed by ``source_id``. A frame in a window's second half sees
its whole TTL lookback inside that window, and the watermark evicts each
window once it has closed, so the state stays bounded at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_overlay_stream(
    frames: DataFrame,
    events: DataFrame,
    ttl_seconds: float = 1.0,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Each frame with the latest event of its camera in
    [frame_ts - TTL, frame_ts] and the number of such events.

    Frames with no event in that range keep NULL event columns, the
    reference's "render without overlay" path (``wall.py:124-127``); only
    the latest event counts, as ``detection_cache.py:48-57`` keeps one event
    per key (ties on ``ev_ts`` go to the larger ``ev_frame_id``). A frame
    seen twice is emitted once.

    Frames and events are unioned on one time column and collected per
    (``source_id``, 2·TTL window sliding by TTL). Each frame is resolved in
    the one window whose second half holds it; that window starts at or
    before ``frame_ts - TTL``. Each input is watermarked before the union,
    so the query's watermark is the minimum of both and a lagging event
    stream holds emission back. A frame is emitted once the watermark
    passes the end of its window, which is at most TTL after
    ``frame_ts``. Window lengths are whole microseconds.
    """
    ttl_us = round(ttl_seconds * 1_000_000)
    if ttl_us <= 0:
        raise ValueError(f"ttl_seconds must be at least 1 microsecond, got {ttl_seconds!r}")
    fr = frames.withWatermark("frame_ts", watermark).select(
        "source_id",
        F.col("frame_ts").alias("ts"),
        F.struct("frame_id", "frame_ts").alias("fr"),
    )
    ev = events.withWatermark("timestamp", watermark).select(
        "source_id",
        F.col("timestamp").alias("ts"),
        F.struct(
            F.col("frame_id").alias("ev_frame_id"),
            F.col("timestamp").alias("ev_ts"),
            F.col("detections").alias("ev_detections"),
        ).alias("ev"),
    )
    windows = (
        fr.unionByName(ev, allowMissingColumns=True)
        .groupBy(
            "source_id",
            F.window("ts", f"{2 * ttl_us} microseconds", f"{ttl_us} microseconds").alias("w"),
        )
        .agg(F.collect_list("fr").alias("frs"), F.collect_list("ev").alias("evs"))
    )
    second_half = F.unix_micros(F.col("w.start")) + ttl_us
    per_frame = windows.select(
        "source_id",
        F.explode(
            F.filter(F.array_distinct("frs"), lambda f: F.unix_micros(f.frame_ts) >= second_half)
        ).alias("fr"),
        "evs",
    )
    fr_ts = F.col("fr.frame_ts")
    with_candidates = per_frame.select(
        "source_id",
        "fr",
        F.filter(
            "evs",
            lambda e: (e.ev_ts <= fr_ts) & (F.unix_micros(e.ev_ts) >= F.unix_micros(fr_ts) - ttl_us),
        ).alias("cands"),
    )
    cands = F.col("cands")
    latest = F.aggregate(
        cands,
        F.get(cands, 0),
        lambda acc, e: F.when(
            (e.ev_ts > acc.ev_ts)
            | ((e.ev_ts == acc.ev_ts) & (e.ev_frame_id > acc.ev_frame_id)),
            e,
        ).otherwise(acc),
    )
    # the latest event is one struct, built once, then split into columns
    return with_candidates.select(
        "source_id",
        F.col("fr.frame_id").alias("frame_id"),
        fr_ts.alias("frame_ts"),
        latest.alias("ev"),
        F.size(cands).cast("long").alias("n_candidate_events"),
    ).select(
        "source_id",
        "frame_id",
        "frame_ts",
        F.col("ev.ev_frame_id").alias("ev_frame_id"),
        F.col("ev.ev_ts").alias("ev_ts"),
        F.col("ev.ev_detections").alias("ev_detections"),
        "n_candidate_events",
    )


def dedup_events_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("source_id", "frame_id"),
    ts_col: str = "timestamp",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Exactly-once-per-key view of an at-least-once stream.

    The reference's data plane is QoS 0 (at-most-once, no dups possible,
    ``mqtt_sink.py:112``); a Kafka-backed deployment is at-least-once, so
    replays must be dropped. ``dropDuplicatesWithinWatermark`` bounds state
    to the watermark horizon instead of keeping every key forever.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


def rate_limit_frames(
    frames: DataFrame,
    max_fps: float = 1.0,
    ts_col: str = "frame_ts",
    watermark: str = "10 seconds",
) -> DataFrame:
    """max_fps cap per source by *dropping* (not queueing) — keep only the
    latest frame per (source, 1/max_fps window), matching the reference's
    frame-drop rate limiting (``processor/config.py:55-56``,
    ``pipeline_manager.py:122-126``; fractional fps supported, e.g. 0.2 =
    one frame per 5 s)."""
    period_s = 1.0 / max_fps
    win = F.window(F.col(ts_col), f"{period_s} seconds").alias("win")
    return (
        frames.withWatermark(ts_col, watermark)
        .groupBy(win, F.col("source_id"))
        .agg(F.max_by(F.struct("frame_id", ts_col, "width", "height"), F.col(ts_col)).alias("fr"))
        .select(
            "source_id",
            F.col("fr.frame_id").alias("frame_id"),
            F.col(f"fr.{ts_col}").alias(ts_col),
            F.col("fr.width").alias("width"),
            F.col("fr.height").alias("height"),
        )
    )


__all__ = ["asof_overlay_stream", "dedup_events_stream", "rate_limit_frames"]

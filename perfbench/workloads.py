"""The benchmark's workloads and the checks on their outputs.

Every workload is a closed loop: one client in one process runs the next
operation when the previous one has finished, on ``local[nproc]``.

* ``analytics`` — eight oracle-checked relational and event-time queries,
  then two table-maintenance operations: a 3-batch ``aggregate_base`` /
  ``merge_additive`` refresh and a 64-file compaction into 8 MiB bins.
  JVM-only scan, shuffle, join, window and write work: the workload on
  which a change to the Python kernels or to streaming should show no
  change, and the one that uses the ``operators`` write path.
* ``curation_stream`` — three LLM-curation queries (MinHash LSH over a
  checkpointed signature table, IVF ANN, the Arrow-batched media feature
  kernel), then the reference pipeline on a deterministic
  ``rate-micro-batch`` source: frames -> synthetic detections -> wire
  encode -> wire parse -> the wall overlay (a watermarked as-of join of
  frames to detections, then the latest detection per frame). Plan build,
  the Arrow/pandas kernels, the Python workers and the state store do the
  work; table scans are small and the stream reads no parquet.

A batch operation returns a payload for its check; the check raises
``AssertionError`` when the output is wrong.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cupertino_nvr_spark.operators.compaction import compact_parquet
from cupertino_nvr_spark.operators.incremental import aggregate_base, merge_additive
from cupertino_nvr_spark.plans import REGISTRY
from cupertino_nvr_spark.sources.tables import load_table
from cupertino_nvr_spark.streaming.asof import asof_overlay_stream
from cupertino_nvr_spark.streaming.codec import encode_event_wire, parse_event_wire
from cupertino_nvr_spark.streaming.inference import with_synthetic_detections

from datagen import generate

ANALYTICS_QUERIES = [
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "asof_ttl_overlay",
    "latest_event_per_user",
    "sessionize_events",
    "trailing_user_activity",
    "detection_projection",
]
CURATION_QUERIES = ["docs_minhash_lsh_candidates", "embedding_ivf_ann", "media_features"]
#: queries whose result is the pairs kept from a candidate-pair join
CANDIDATE_QUERIES = ["docs_minhash_lsh_candidates", "embedding_ivf_ann"]
MAINTAIN_OPS = ["op_incremental_merge", "op_compact_small_files"]
TABLES = {
    "analytics": ["lineitem", "orders", "customer", "supplier", "nation", "region", "events"],
    "curation_stream": ["documents", "embeddings"],
}
#: untimed passes over the batch operations before measuring. The first
#: pass of a fresh JVM pays JIT compilation and runs about twice as long as
#: a warm one; its time swings most with the host's load
WARMUP_PASSES = 1
#: passes a run measures at least; ``pass_s`` is their mean
MIN_PASSES = {"analytics": 3, "curation_stream": 1}
EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
MERGE_KW = dict(keys=["user_id"], sums=["value"], maxs=["ts"], approx_distincts=["event_type"])

# stream input: N cameras at 12.5 fps, one micro-batch per 10 s of video
N_CAMERAS = 8
ROWS_PER_BATCH = 1000
ADVANCE_MS = 10_000
FRAMES_PER_BATCH = ROWS_PER_BATCH // N_CAMERAS
FRAME_STEP_US = ADVANCE_MS * 1000 // FRAMES_PER_BATCH
#: the first batch starts the query; the second is the measured one
STREAM_BATCHES = 2
SKIP_BATCHES = 1
#: short enough that the second 10 s micro-batch emits overlay frames
WATERMARK = "2 seconds"
TTL_SECONDS = 1.0
STREAM_DEADLINE_S = 50.0


class Ctx:
    """What one run's operations share: the session, the seeded inputs and
    a scratch directory, plus the timer of the operation in flight."""

    def __init__(self, spark, data_dir: str, scratch: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.scratch = scratch
        self.seed = seed
        self.timer = None
        self._memo: dict = {}

    def memo(self, key: str, fn):
        """``fn()``, computed once per run: a check's expected value."""
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    def build(self):
        return self.timer.phase("build")

    def exec(self):
        return self.timer.phase("exec")

    def wrote(self, path: str) -> None:
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        self.timer.files_written += len(files)
        self.timer.bytes_written += sum(os.path.getsize(f) for f in files)


# ---------------------------------------------------------------------------
# batch operations
# ---------------------------------------------------------------------------


def duck(data_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in os.listdir(data_dir):
            if t.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}/*.parquet')"
                )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.hex()
                if isinstance(v, (bytes, bytearray))
                else tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v,
                na_action="ignore",
            )
    return df.sort_values(list(df.columns), kind="mergesort", na_position="last").reset_index(
        drop=True
    )


def assert_frames_equal(got: pd.DataFrame, exp: pd.DataFrame, what: str) -> None:
    """Order-insensitive, exact comparison (floats included), in the style
    of the registry's DuckDB oracle gate."""
    got, exp = _normalize(got), _normalize(exp)
    if list(got.columns) != list(exp.columns):
        raise AssertionError(f"{what}: columns {list(got.columns)} != {list(exp.columns)}")
    if len(got) != len(exp):
        raise AssertionError(f"{what}: {len(got)} rows, expected {len(exp)}")
    for c in got.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            g = pd.to_numeric(g, errors="coerce").astype(float)
            e = pd.to_numeric(e, errors="coerce").astype(float)
            bad = ~(g.isna() & e.isna()) & ~(g == e)
        else:
            bad = g.astype(str) != e.astype(str)
        if bad.any():
            i = bad[bad].index[0]
            raise AssertionError(
                f"{what}: column {c!r} differs in {int(bad.sum())} rows; "
                f"first got={got[c][i]!r} expected={exp[c][i]!r}"
            )


class QueryOp:
    """A registry query: build its plan, deliver its result to the client
    as a pandas frame, compare with the query's DuckDB oracle."""

    def __init__(self, name: str):
        self.name = name
        self._expected: pd.DataFrame | None = None

    def run(self, ctx: Ctx) -> pd.DataFrame:
        with ctx.build():
            df = REGISTRY[self.name].spark(ctx.spark, ctx.data_dir)
        with ctx.exec():
            return df.toPandas()

    def expected(self, data_dir: str) -> pd.DataFrame:
        """Oracle result, computed once per seed and oracle SQL and kept
        beside the inputs (which are regenerated when their sources change)."""
        if self._expected is None:
            sql = REGISTRY[self.name].oracle
            tag = hashlib.sha1(sql.encode()).hexdigest()[:12]
            path = os.path.join(data_dir, "_oracle", f"{self.name}-{tag}.pkl")
            if not os.path.exists(path):
                os.makedirs(os.path.dirname(path), exist_ok=True)
                duck(data_dir, sql).to_pickle(path + ".tmp")
                os.replace(path + ".tmp", path)
            self._expected = pd.read_pickle(path)
        return self._expected

    def check(self, ctx: Ctx, result: pd.DataFrame) -> None:
        assert_frames_equal(result, self.expected(ctx.data_dir), self.name)

    def result_rows(self, result) -> int:
        return len(result)


def _fingerprint(path: str) -> tuple[int, int]:
    """Row count and an order-independent hash of the event rows in a
    parquet directory, read on the client side."""
    t = pq.read_table(path, columns=EVENT_COLS)
    t = t.set_column(
        1, "ts", pc.cast(pc.cast(t.column("ts"), pa.timestamp("us")), pa.int64())
    )
    h = pd.util.hash_pandas_object(t.to_pandas(), index=False).to_numpy(dtype=np.uint64)
    return t.num_rows, int(h.sum(dtype=np.uint64))


class MaintainOp:
    """A table-maintenance operation over the ``events`` table."""

    def __init__(self, name: str, fn, check):
        self.name = name
        self.run = lambda ctx: fn(ctx, os.path.join(ctx.scratch, "maintain"))
        self._check = check

    def check(self, ctx: Ctx, result) -> None:
        self._check(ctx, result)

    def result_rows(self, result) -> int:
        return 0


def _op_incremental_merge(ctx: Ctx, scratch: str) -> str:
    spark = ctx.spark
    mat, nxt = f"{scratch}/mat", f"{scratch}/mat_next"
    with ctx.build():
        ev = load_table(spark, "events", ctx.data_dir)
        batches = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)]
        base = aggregate_base(batches[0], **MERGE_KW)
    with ctx.exec():
        base.write.mode("overwrite").parquet(mat)
    ctx.wrote(mat)
    for b in batches[1:]:
        with ctx.build():
            merged = merge_additive(spark.read.parquet(mat), aggregate_base(b, **MERGE_KW), **MERGE_KW)
        with ctx.exec():
            # a staging write, then the swap: the frame being read is not overwritten
            merged.write.mode("overwrite").parquet(nxt)
            spark.read.parquet(nxt).write.mode("overwrite").parquet(mat)
        ctx.wrote(nxt)
        ctx.wrote(mat)
    return mat


def _check_incremental_merge(ctx: Ctx, mat: str) -> None:
    # the sketch bytes depend on insertion order; its estimate does not
    def estimated(df):
        return df.withColumn("hll_event_type", F.hll_sketch_estimate("hll_event_type")).toPandas()

    full = ctx.memo(
        "merge_full",
        lambda: estimated(aggregate_base(load_table(ctx.spark, "events", ctx.data_dir), **MERGE_KW)),
    )
    assert_frames_equal(estimated(ctx.spark.read.parquet(mat)), full, "op_incremental_merge")


def _op_compact(ctx: Ctx, scratch: str) -> str:
    src, dst = f"{scratch}/small_files", f"{scratch}/compacted"
    with ctx.build():
        small = load_table(ctx.spark, "events", ctx.data_dir).repartition(64)
    with ctx.exec():
        small.write.mode("overwrite").parquet(src)
        compact_parquet(ctx.spark, src, dst, target_bytes=8 * 1024 * 1024)
    ctx.wrote(src)
    ctx.wrote(dst)
    return dst


def _check_compact(ctx: Ctx, dst: str) -> None:
    got = _fingerprint(dst)
    exp = ctx.memo("events_fingerprint", lambda: _fingerprint(os.path.join(ctx.data_dir, "events.parquet")))
    if got != exp:
        raise AssertionError(f"op_compact_small_files: (rows, hash) {got} != {exp}")
    n_files = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    if not 1 <= n_files < 64:
        raise AssertionError(f"op_compact_small_files: {n_files} output files from 64")


def batch_ops(workload: str) -> list:
    if workload == "curation_stream":
        return [QueryOp(q) for q in CURATION_QUERIES]
    return [QueryOp(q) for q in ANALYTICS_QUERIES] + [
        MaintainOp("op_incremental_merge", _op_incremental_merge, _check_incremental_merge),
        MaintainOp("op_compact_small_files", _op_compact, _check_compact),
    ]


def prepare_batch(ctx_root: str, seed: int) -> str:
    return generate(os.path.join(ctx_root, "data", f"seed{seed}"), seed)


# ---------------------------------------------------------------------------
# nvr_stream
# ---------------------------------------------------------------------------


class StreamFailed(Exception):
    """A consumer that terminated, raised, missed its deadline, or ran a
    plan without the inference Python node."""


def stream_params(seed: int) -> dict:
    return {
        # the seed moves the video start and the camera ids, nothing else
        "start_ms": 1_700_000_000_000 + (seed % 10_000) * 86_400_000,
        "source_offset": (seed % 100) * N_CAMERAS,
    }


def frames_from_rate(rate, seed: int):
    """Rate rows (value, timestamp) -> frame metadata: ``N_CAMERAS``
    cameras, each with ``FRAMES_PER_BATCH`` evenly spaced frames per
    micro-batch, so camera frame ``k`` is at ``start + k * FRAME_STEP_US``."""
    p = stream_params(seed)
    v = F.col("value")
    return rate.select(
        (v % N_CAMERAS + p["source_offset"]).cast("int").alias("source_id"),
        (v / N_CAMERAS).cast("long").alias("frame_id"),
        F.timestamp_micros(
            F.unix_micros("timestamp")
            + ((v % ROWS_PER_BATCH) / N_CAMERAS).cast("long") * FRAME_STEP_US
        ).alias("frame_ts"),
        F.lit(640).alias("width"),
        F.lit(480).alias("height"),
    )


def rate_stream(spark, seed: int):
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", ROWS_PER_BATCH)
        .option("numPartitions", N_CAMERAS)
        .option("startTimestamp", stream_params(seed)["start_ms"])
        .option("advanceMillisPerBatch", ADVANCE_MS)
        .load()
    )


def rate_batch(spark, seed: int, n_batches: int):
    """The rows ``rate_stream`` emits in its first ``n_batches`` batches."""
    start = stream_params(seed)["start_ms"]
    return spark.range(0, n_batches * ROWS_PER_BATCH).select(
        F.col("id").alias("value"),
        F.timestamp_millis(
            F.lit(start) + (F.col("id") / ROWS_PER_BATCH).cast("long") * ADVANCE_MS
        ).alias("timestamp"),
    )


def event_rows(detected):
    """Frames with detections -> rows of the detection event schema."""
    return detected.select(
        F.lit("bench-0").alias("instance_id"),
        "source_id",
        "frame_id",
        F.col("frame_ts").alias("timestamp"),
        "model_id",
        (F.col("frame_id") % 50 + 5.0).alias("inference_time_ms"),
        "detections",
        F.lit(25.0).alias("fps"),
        (F.col("frame_id") % 120 + 30.0).alias("latency_ms"),
    )


def wire_roundtrip(events):
    """Encode events for the broker and parse them back, as the wall
    receives what the processor publishes."""
    parsed, _quarantine = parse_event_wire(encode_event_wire(events))
    return parsed.drop("topic_source_id")


def detection_events(frames):
    return wire_roundtrip(event_rows(with_synthetic_detections(frames)))


def overlay_frame(spark, seed: int):
    """The wall overlay over two fresh sources: live frames, and the
    detections the processor published for the same frames."""
    frames = frames_from_rate(rate_stream(spark, seed), seed)
    events = detection_events(frames_from_rate(rate_stream(spark, seed), seed))
    return asof_overlay_stream(frames, events, TTL_SECONDS, watermark=WATERMARK)


def run_overlay(ctx: Ctx, tag: str) -> dict:
    """Run the overlay for ``STREAM_BATCHES`` micro-batches into a memory
    sink. Raises ``StreamFailed`` when the query dies, stalls past its
    deadline or runs without the inference Python node in its plan."""
    spark = ctx.spark
    sink = f"overlay_{tag}"
    ckpt = os.path.join(ctx.scratch, "stream_ckpt", sink)
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.perf_counter()
    q = (
        overlay_frame(spark, ctx.seed)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        while True:
            exc = q.exception()
            if exc is not None:
                raise StreamFailed(f"overlay: {exc}")
            if not q.isActive:
                raise StreamFailed("overlay: query terminated")
            last = q.lastProgress
            if last is not None and last["batchId"] >= STREAM_BATCHES - 1:
                break
            if time.perf_counter() - t0 > STREAM_DEADLINE_S:
                raise StreamFailed(f"overlay: fewer than {STREAM_BATCHES} batches in {STREAM_DEADLINE_S} s")
            time.sleep(0.01)
        plan = q._jsq.explainInternal(True)
        progress = list(q.recentProgress)
    finally:
        q.stop()
    wall = time.perf_counter() - t0
    if "ArrowEvalPython" not in plan:
        raise StreamFailed("overlay: inference Python node pruned from the executed plan")
    rows = spark.sql(f"SELECT * FROM {sink}").toPandas()
    spark.catalog.dropTempView(sink)
    # the stream's jobs carry its run id as their job group
    return {"wall": wall, "progress": progress, "rows": rows, "run_id": str(q.runId)}


def _n_detections(source_id, frame_id) -> np.ndarray:
    """Detections per frame of the synthetic detector, by its definition:
    a splitmix-style hash of (source_id, frame_id), mod 4."""
    with np.errstate(over="ignore"):
        x = (np.asarray(source_id).astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ (
            np.asarray(frame_id).astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
        )
        x ^= x >> np.uint64(31)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(29)
    return (x % np.uint64(4)).astype(np.int64)


def check_overlay(run: dict, seed: int) -> None:
    """Compare every emitted frame with the values computed on the client
    from the generator's arithmetic: camera frame ``k`` is at
    ``start + k * FRAME_STEP_US``, its own detection event is the latest
    one within the TTL, and ``min(k, TTL / step) + 1`` events are."""
    rows, progress = run["rows"], run["progress"]
    p = stream_params(seed)
    if rows.empty:
        raise AssertionError(f"overlay: no output rows after {progress[-1]['batchId'] + 1} batches")
    if rows.duplicated(["source_id", "frame_id"]).any():
        raise AssertionError("overlay: a frame was emitted twice")
    sid = rows["source_id"].to_numpy(np.int64)
    k = rows["frame_id"].to_numpy(np.int64)
    ts = pd.to_datetime(p["start_ms"] * 1000 + k * FRAME_STEP_US, unit="us").to_numpy()
    candidates = np.minimum(k, int(TTL_SECONDS * 1e6) // FRAME_STEP_US) + 1
    bad = (
        (sid < p["source_offset"])
        | (sid >= p["source_offset"] + N_CAMERAS)
        | (rows["frame_ts"].to_numpy() != ts)
        | (rows["ev_frame_id"].to_numpy(np.int64) != k)
        | (rows["ev_ts"].to_numpy() != ts)
        | (rows["n_candidate_events"].to_numpy(np.int64) != candidates)
        | (rows["ev_detections"].map(len).to_numpy(np.int64) != _n_detections(sid, k))
    )
    if bad.any():
        first = rows[bad].iloc[0].to_dict()
        raise AssertionError(f"overlay: {int(bad.sum())} of {len(rows)} frames wrong; first {first}")

"""Compaction: fewer, bounded-size files, with the rows untouched."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from cupertino_nvr_spark.operators.compaction import compact_parquet, plan_compaction
from cupertino_nvr_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


def test_plan_bins_respect_target(spark):
    """Every bin's byte total stays under target + its largest member
    (the prefix-sum cut guarantee), and no bin is empty."""
    files = spark.createDataFrame(
        [(f"f{i:03d}", (i % 7 + 1) * 10_000) for i in range(200)],
        "path string, bytes long",
    )
    target = 100_000
    plan = plan_compaction(files, target).collect()
    bins: dict[tuple, list[int]] = {}
    for r in plan:
        bins.setdefault((r["bucket"], r["bin"]), []).append(r["bytes"])
    assert len(bins) < 200  # actually compacts
    for sizes in bins.values():
        assert sum(sizes) <= target + max(sizes)


def test_compact_parquet_end_to_end(spark, tmp_path):
    ev = load_table(spark, "events", SF).select("event_id", "user_id", "value")
    src = f"{tmp_path}/small"
    ev.repartition(64).write.parquet(src)  # 64 tiny files
    n_small = len(glob.glob(f"{src}/*.parquet"))
    assert n_small >= 60

    dst = f"{tmp_path}/compacted"
    plan = compact_parquet(spark, src, dst, target_bytes=256 * 1024)
    out_files = glob.glob(f"{dst}/*.parquet")
    # far fewer files, bounded by the planned bin count
    n_bins = plan.select("bucket", "bin").distinct().count()
    assert len(out_files) <= n_bins
    assert len(out_files) < n_small / 4

    # rows are untouched: same count and content checksum
    back = spark.read.parquet(dst)
    chk = lambda df: df.agg(  # noqa: E731
        F.count("*"), F.sum(F.crc32(F.concat_ws(":", "event_id", "user_id")))
    ).first()
    assert chk(back) == chk(ev)


def test_compacted_sizes_bounded(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    src = f"{tmp_path}/small2"
    ev.repartition(32).write.parquet(src)
    dst = f"{tmp_path}/out2"
    target = 256 * 1024
    compact_parquet(spark, src, dst, target_bytes=target)
    sizes = [os.path.getsize(f) for f in glob.glob(f"{dst}/*.parquet")]
    assert sizes
    # no output file wildly above target (2x slack: parquet re-encoding
    # changes sizes and a bin may close just past the boundary)
    assert max(sizes) <= 2 * target + max(
        os.path.getsize(f) for f in glob.glob(f"{src}/*.parquet")
    )


def test_compact_survives_reserved_looking_columns(spark, tmp_path):
    """A source whose schema legitimately contains `bucket`, `bin`, and
    `_file` columns compacts cleanly: the rewrite join rides on
    collision-proof __compact_* internals."""
    ev = (
        load_table(spark, "events", SF)
        .select(
            "event_id",
            F.col("user_id").alias("bucket"),
            (F.col("value") > 0).alias("bin"),
            F.lit("keep-me").alias("_file"),
        )
    )
    src = f"{tmp_path}/clash_src"
    ev.repartition(16).write.parquet(src)
    dst = f"{tmp_path}/clash_dst"
    compact_parquet(spark, src, dst, target_bytes=512 * 1024)
    back = spark.read.parquet(dst)
    assert set(back.columns) == {"event_id", "bucket", "bin", "_file"}
    chk = lambda df: df.agg(  # noqa: E731
        F.count("*"), F.sum(F.crc32(F.concat_ws(":", "event_id", "bucket")))
    ).first()
    assert chk(back) == chk(ev)

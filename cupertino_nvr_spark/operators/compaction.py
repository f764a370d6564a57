"""Small-file compaction: the table-maintenance pass that keeps a
100 TB layout scannable.

Streaming sinks and fine-grained partition writes accumulate thousands
of KB-scale files; every one costs a task, an open, and a footer read,
so scan wall-clock becomes file-count-bound instead of byte-bound. The
fix is periodic compaction: group small files into ~target-size bins
and rewrite each bin as one file.

Planning is DISTRIBUTED (the file listing of a 100 TB table is itself
millions of rows — no driver-side bin packing): files are ordered
size-descending within a hash bucket and assigned
``bin = floor(cumulative_bytes_before / target)`` by a windowed prefix
sum — the shard_pack pattern, parallel per bucket, deterministic.
Execution joins the broadcast plan onto the scan by file path and
repartitions by (bucket, bin) so each planned bin lands in one output
file (hash collisions can only MERGE bins, never split them — the
file-count bound still holds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def plan_compaction(
    files: DataFrame,
    target_bytes: int,
    n_buckets: int = 16,
    path_col: str = "path",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Assign every file to a (bucket, bin): files hash-bucketed for
    parallel planning, then size-descending prefix sums cut bins at the
    ``target_bytes`` boundary. Returns (path, bytes, bucket, bin)."""
    bucketed = files.select(
        F.col(path_col).alias("path"),
        F.col(bytes_col).alias("bytes"),
        F.pmod(F.crc32(F.col(path_col)), F.lit(n_buckets)).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("bytes").desc(), "path")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("bytes").over(w), F.lit(0))
    return bucketed.withColumn(
        "bin", F.floor(before / F.lit(target_bytes)).cast("int")
    )


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int,
    n_buckets: int = 16,
) -> DataFrame:
    """Compact a parquet directory into ~target-size files. Returns the
    plan manifest (path, bytes, bucket, bin). File sizes come from the
    filesystem listing (``binaryFile`` metadata read — no content load);
    rows are rewritten verbatim."""
    # binaryFile reports `file:/x` while input_file_name reports
    # `file:///x` — normalize the scheme slashes on BOTH join keys or the
    # path equi-join silently matches nothing
    def _norm(c: F.Column) -> F.Column:
        return F.regexp_replace(c, "^[a-z0-9]+:/+", "/")

    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(src_dir)
        .select(_norm(F.col("path")).alias("path"), F.col("length").alias("bytes"))
    )
    plan = plan_compaction(listing, target_bytes, n_buckets)
    n_bins = max(plan.select("bucket", "bin").distinct().count(), 1)
    # the rewrite join rides on internal columns; collision-proof names so
    # a source table legitimately containing `bucket`/`bin`/`_file` never
    # hits an ambiguous-reference error or a wrongly-dropped data column
    fcol, bkcol, bncol = "__compact_file", "__compact_bucket", "__compact_bin"
    src = spark.read.parquet(src_dir)
    clash = set(src.columns) & {fcol, bkcol, bncol}
    if clash:
        raise ValueError(
            f"compact_parquet: source schema uses reserved internal "
            f"column name(s) {sorted(clash)}"
        )
    data = src.withColumn(fcol, _norm(F.input_file_name()))
    grouped = data.join(
        F.broadcast(
            plan.select(
                F.col("path").alias(fcol),
                F.col("bucket").alias(bkcol),
                F.col("bin").alias(bncol),
            )
        ),
        fcol,
    )
    (
        grouped.repartition(n_bins, bkcol, bncol)
        .drop(fcol, bkcol, bncol)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    return plan

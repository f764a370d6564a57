"""Data-layout optimization: Z-order (Morton) clustering for
multi-dimensional scan pruning.

Parquet scans prune row groups / files with min-max statistics, but a
table sorted on ONE column has useless statistics for every other
column. Interleaving the bits of several normalized columns into one
Morton key and range-partition-sorting by it bounds EVERY participating
column's span within each output file — so predicates on any of the
clustered dimensions skip most of a 100 TB table, which is the whole
point of layout jobs in lakehouse table formats.

Mechanics: each column is min-max normalized to a ``bits``-wide integer
bucket (the min/max come from one tiny aggregate, attached as a 1-row
broadcast — a layout job owns a full pass anyway), buckets are bit-
interleaved JVM-side (pure codegen shifts/masks, no UDF), and the frame
is ``repartitionByRange`` + sorted on the key so both the file split
points and the within-file order follow the Z-curve.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2 cols x 21 bits = 42-bit keys; 3 x 16 = 48 — both well inside BIGINT.
MAX_TOTAL_BITS = 60


def _bucket(c: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Min-max normalize ``c`` into [0, 2^bits) as a long; constant
    columns (hi == lo) land in bucket 0, and so do NULLs — without the
    explicit coalesce, floor(null*top) is NULL and F.least skips NULLs,
    so null rows would silently cluster at the curve's MAX corner and
    give the files there artificially wide min-max stats on every other
    dimension."""
    span = (hi - lo).cast("double")
    frac = F.coalesce(
        F.when(span > 0, (c.cast("double") - lo.cast("double")) / span),
        F.lit(0.0),
    )
    top = F.lit((1 << bits) - 1)
    return F.least(F.floor(frac * top).cast("long"), top.cast("long"))


def zorder_key(df: DataFrame, cols: list[str], bits: int = 21) -> DataFrame:
    """Return ``df`` with a ``_zkey`` column: the Morton interleave of the
    min-max-normalized ``cols``. Numeric and timestamp columns supported
    (timestamps order by their epoch value)."""
    if len(cols) * bits > MAX_TOTAL_BITS:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits exceeds {MAX_TOTAL_BITS}-bit keys; "
            "lower `bits`"
        )

    def _ordinal(name: str) -> Column:
        c = F.col(name)
        field = dict(zip(df.schema.fieldNames(), df.schema.fields))[name]
        if field.dataType.simpleString().startswith("timestamp"):
            return F.unix_micros(c)
        return c

    stats = df.agg(
        *[F.min(_ordinal(c)).alias(f"_lo_{i}") for i, c in enumerate(cols)],
        *[F.max(_ordinal(c)).alias(f"_hi_{i}") for i, c in enumerate(cols)],
    )
    with_stats = df.join(F.broadcast(stats))
    buckets = [
        _bucket(_ordinal(c), F.col(f"_lo_{i}"), F.col(f"_hi_{i}"), bits)
        for i, c in enumerate(cols)
    ]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * len(cols) + j)
    return with_stats.withColumn("_zkey", z).drop(
        *[f"_lo_{i}" for i in range(len(cols))],
        *[f"_hi_{i}" for i in range(len(cols))],
    )


def zorder_repartition(
    df: DataFrame, cols: list[str], num_files: int, bits: int = 21
) -> DataFrame:
    """Layout pass: Z-key the frame, range-partition into ``num_files``
    splits along the curve, sort within each, and drop the key — ready
    for a parquet write whose per-file min-max statistics are tight on
    EVERY clustered column."""
    keyed = zorder_key(df, cols, bits)
    return (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )

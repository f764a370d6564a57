"""Batch table access over the driver's parquet test data.

Every table is read with its declared schema (``schemas.TABLE_SCHEMAS``)
through ``spark.read.schema(...).parquet``, so building a plan over a scan
runs no Spark job; a bare ``spark.read.parquet`` runs one per call to infer
the schema. The check that inference made is kept on the driver: one
parquet footer of the table, read with pyarrow (no Spark job), must carry
the declared column names and types, else ``SchemaMismatchError``. No
other read options are set, so filters and projections applied by callers
are pushed into the scan (verify with ``df.explain``: ``PushedFilters`` /
``ReadSchema``). At 100 TB these paths would be partitioned directories or
an Iceberg/Delta table; the loader is the single seam where that swap
happens.
"""

from __future__ import annotations

import os
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from cupertino_nvr_spark.schemas import BATCH_TABLES, EVENTS_SCHEMA, TABLE_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: ``events`` with ``ts`` stored as int64 nanos, read as long and converted
EVENTS_NANOS_SCHEMA = T.StructType(
    [
        T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType, True)
        for f in EVENTS_SCHEMA
    ]
)


class SchemaMismatchError(ValueError):
    """A table's parquet footer disagrees with its declared schema."""


def _footer_file(path: str) -> str | None:
    """The file whose footer stands for the table: ``path`` itself, or the
    first file of the directory in name order, skipping names that start
    with ``_`` or ``.`` as Spark does. None when there is none."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    data = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
    return os.path.join(path, data[0]) if data else None


def _spark_type(t: pa.DataType) -> T.DataType:
    """The type Spark's parquet reader gives a column of arrow type ``t``:
    a naive timestamp is TIMESTAMP_NTZ, a nanosecond one int64 nanos."""
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return T.LongType()
    return from_arrow_type(t, prefer_timestamp_ntz=True)


def _matches(declared: T.DataType, found: T.DataType) -> bool:
    # a naive column read as TIMESTAMP is the instant the UTC pin gives it
    return declared == found or (
        isinstance(declared, T.TimestampType) and isinstance(found, T.TimestampNTZType)
    )


def _check_footer(name: str, path: str, declared: T.StructType) -> T.StructType:
    """Compare the footer's column names and types with ``declared`` and
    return the schema to read with. A missing path or an empty directory is
    left to Spark's read.

    The footer also picks the read of ``events.ts``, whose encoding differs
    across data generations:

    * ``timestamp[us]`` (the driver data, naive), ``timestamp[us, tz=UTC]``
      and INT96 (Spark-written fixtures) read through ``EVENTS_SCHEMA`` as
      TIMESTAMP. Under the UTC session tz that ``load_table`` pins, Spark
      reads a naive value as the same UTC instant DuckDB's naive read
      implies.
    * plain ``int64`` nanos and parquet TIMESTAMP(NANOS) read as long
      (``EVENTS_NANOS_SCHEMA``); ``load_table`` truncates them to micros by
      integer division, exactly as DuckDB does, so both engines agree.
    """
    footer = _footer_file(path)
    if footer is None:
        return declared
    # INT96 (Spark's default timestamp output) as µs, not as nanos
    with pq.ParquetFile(footer, coerce_int96_timestamp_unit="us") as pf:
        arrow = pf.schema_arrow
    found = T.StructType([T.StructField(f.name, _spark_type(f.type), True) for f in arrow])
    if name == "events" and "ts" in found.names and found["ts"].dataType == T.LongType():
        declared = EVENTS_NANOS_SCHEMA
    want = {f.name: f.dataType for f in declared}
    got = {f.name: f.dataType for f in found}
    if want.keys() != got.keys() or not all(_matches(want[c], got[c]) for c in want):
        raise SchemaMismatchError(
            f"table {name!r}: parquet footer of {footer} has "
            f"{found.simpleString()}, declared schema is {declared.simpleString()}"
        )
    return declared


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one named table from a scale-factor directory with its declared
    schema, checked against one parquet footer (``SchemaMismatchError`` on a
    difference); a missing table raises Spark's ``PATH_NOT_FOUND``.

    Pins the session timezone to UTC on EVERY call — not just for events —
    so timestamp literals, date functions, and the naive ``events.ts`` read
    all resolve identically to DuckDB's timezone-naive reads regardless of
    the order in which tables are loaded or what tz the caller's session was
    built with. (An events-only pin would make unrelated queries' results
    depend on whether events had been loaded earlier in the session.)
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name not in BATCH_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {BATCH_TABLES}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _check_footer(name, path, TABLE_SCHEMAS[name])
    df = spark.read.schema(schema).parquet(path)
    if schema is EVENTS_NANOS_SCHEMA:
        # integer div — float division would lose precision on int64 nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in BATCH_TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every table as a temp view so SQL-form operators can run.

    Failure-isolated per table: one table's format change must not take down
    SQL queries that never touch it (round 3 lost three pure-orders queries
    to an events-only schema change). A query that does need the broken
    table still fails — with TABLE_OR_VIEW_NOT_FOUND — at its own call site.
    """
    for name in BATCH_TABLES:
        try:
            load_table(spark, name, sf_dir).createOrReplaceTempView(name)
        except Exception as exc:  # pragma: no cover - defensive isolation
            warnings.warn(f"register_views: skipping table {name!r}: {exc}")

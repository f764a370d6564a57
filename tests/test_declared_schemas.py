"""``load_table`` reads every table with its declared schema: building a
scan runs no Spark job, the schema is the one inference gave, every
``events.ts`` encoding reads to the same instants, and a footer that
disagrees with the declaration is an error, not a column of NULLs."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cupertino_nvr_spark.schemas import BATCH_TABLES
from cupertino_nvr_spark.sources.tables import SchemaMismatchError, load_table
from tests.conftest import SF_CORRECTNESS, SF_SMOKE
from tests.job_count import jobs_run

SRC_EVENTS = f"{SF_SMOKE}/events.parquet"


def inferred_schema(spark, name: str, sf_dir: str) -> T.StructType:
    """What the loader returned when it inferred: Spark's inferred schema,
    with a naive ``events.ts`` cast to TIMESTAMP."""
    schema = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
    if name != "events":
        return schema
    return T.StructType(
        [T.StructField(f.name, T.TimestampType(), True) if f.name == "ts" else f for f in schema]
    )


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECTNESS])
@pytest.mark.parametrize("name", BATCH_TABLES)
def test_load_table_runs_no_job_and_keeps_the_inferred_schema(spark, name, sf_dir):
    df, jobs = jobs_run(spark, lambda: load_table(spark, name, sf_dir))
    assert jobs == 0
    assert df.schema == inferred_schema(spark, name, sf_dir)


def _events_with_ts(ts: pa.ChunkedArray) -> pa.Table:
    src = pq.read_table(SRC_EVENTS)
    return src.set_column(src.schema.get_field_index("ts"), "ts", ts)


def _write_dir(table: pa.Table, path: str, **kw) -> None:
    """Two part files behind an empty ``_SUCCESS`` marker and an empty
    dot-file, which the footer lookup must skip as Spark does."""
    os.makedirs(path)
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), f"{path}/part-00000.parquet", **kw)
    pq.write_table(table.slice(half), f"{path}/part-00001.parquet", **kw)
    open(f"{path}/_SUCCESS", "w").close()
    open(f"{path}/.staging", "w").close()


#: every ``events.ts`` encoding seen in data and fixtures
TS_ENCODINGS = {
    "timestamp_us": lambda us: us,
    "timestamp_us_utc": lambda us: us.cast(pa.timestamp("us", tz="UTC")),
    "int64_nanos": lambda us: pc.multiply(us.cast(pa.int64()), 1000),
    "timestamp_nanos": lambda us: us.cast(pa.timestamp("ns")),
    # what Spark writes by default; pyarrow reports it as timestamp[ns]
    "int96": lambda us: us,
}


@pytest.fixture(scope="module")
def ts_fixtures(tmp_path_factory):
    """One ``events`` table per encoding: the first a single file, the
    others directories."""
    us = pq.read_table(SRC_EVENTS).column("ts")
    assert us.type == pa.timestamp("us")
    dirs = {}
    for i, (enc, convert) in enumerate(TS_ENCODINGS.items()):
        d = str(tmp_path_factory.mktemp(enc))
        table = _events_with_ts(convert(us))
        if i == 0:
            pq.write_table(table, f"{d}/events.parquet")
        else:
            int96 = enc == "int96"
            _write_dir(table, f"{d}/events.parquet", use_deprecated_int96_timestamps=int96)
        dirs[enc] = d
    return dirs


@pytest.mark.parametrize("enc", TS_ENCODINGS)
def test_events_ts_encoding_reads_declared_without_a_job(spark, ts_fixtures, enc):
    df, jobs = jobs_run(spark, lambda: load_table(spark, "events", ts_fixtures[enc]))
    assert jobs == 0
    assert df.schema == inferred_schema(spark, "events", SF_SMOKE)


def test_events_ts_encodings_read_to_the_same_instants(spark, ts_fixtures):
    def rows(d):
        df = load_table(spark, "events", d).select("event_id", "ts")
        return sorted(tuple(r) for r in df.collect())

    # the instants of the inferred naive read cast under the UTC pin
    inferred = spark.read.parquet(SRC_EVENTS).select("event_id", F.col("ts").cast("timestamp"))
    expected = sorted(tuple(r) for r in inferred.collect())
    assert len(expected) > 0
    assert rows(SF_SMOKE) == expected
    for enc, d in ts_fixtures.items():
        assert rows(d) == expected, enc


def test_missing_table_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, "orders", str(tmp_path))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, "events", str(tmp_path))


def test_footer_that_disagrees_with_the_declaration_raises(spark, tmp_path):
    src = pq.read_table(SRC_EVENTS)
    i = src.schema.get_field_index("user_id")
    wrong = src.set_column(i, "user_id", src.column(i).cast(pa.string()))
    _write_dir(wrong, f"{tmp_path}/events.parquet")
    with pytest.raises(SchemaMismatchError, match="'events'") as exc:
        load_table(spark, "events", str(tmp_path))
    msg = str(exc.value)
    assert "user_id:string" in msg and "user_id:bigint" in msg

    region = pq.read_table(f"{SF_SMOKE}/region.parquet")
    renamed = region.rename_columns(["r_regionkey", "r_label"])
    pq.write_table(renamed, f"{tmp_path}/region.parquet")
    with pytest.raises(SchemaMismatchError, match="'region'"):
        load_table(spark, "region", str(tmp_path))

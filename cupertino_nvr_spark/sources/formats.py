"""Batch file-format connectors beyond parquet: CSV and JSON-lines, with
the same quarantine discipline as the wire codec (``streaming/codec.py``):
every malformed record lands in a dead-letter frame carrying the raw
text, never silently dropped and never failing the job.

Reference analog: the NVR ingests its config/events as JSON payloads and
validates before use (``cupertino_nvr/processor/validators.py``); batch
re-ingestion of exported data needs the same malformed-input posture.

Mechanics: the files are scanned as TEXT and parsed per line with
``from_csv`` / ``from_json`` carrying a corrupt-record field. The native
readers' internal ``_corrupt_record`` column cannot be referenced on its
own without caching the whole parse (Spark's
QUERY_ONLY_CORRUPT_RECORD_COLUMN rule) — a non-starter at 100 TB; parsing
from text makes the corrupt column an ordinary column, so the good and
quarantine frames are two lazy filters over ONE parse definition. Cost:
``from_csv`` parses every declared field (no parse-time column skipping)
— acceptable for an ingest/quarantine path; parquet stays the
performance-path format.

Scale posture: text scans are splittable; schema is explicit (no
inference pass); a bad record costs one quarantine row, never a task
failure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    """Schema + the corrupt-record capture field (must be declared for
    PERMISSIVE capture to populate it)."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    # copy the field list: StructType keeps the passed list by reference,
    # so .add() on a shared list would mutate the CALLER's schema
    return StructType(list(schema.fields)).add(CORRUPT_COL, "string")


def _split(parsed: DataFrame, schema: StructType) -> tuple[DataFrame, DataFrame]:
    corrupt = F.col(f"rec.{CORRUPT_COL}")
    # from_json returns a NULL struct (not a corrupt capture) for
    # blank/whitespace-only lines — without the rec-null test those lines
    # would surface as phantom all-null GOOD rows instead of quarantine
    ok = corrupt.isNull() & F.col("rec").isNotNull()
    good = parsed.filter(ok).select(
        *[F.col(f"rec.{f.name}").alias(f.name) for f in schema.fields]
    )
    bad = parsed.filter(~ok).select(
        F.col("value").alias("raw"),
        F.coalesce(corrupt, F.col("value")).alias(CORRUPT_COL),
    )
    return good, bad


def _parse(
    lines: DataFrame, parser: Column, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    return _split(lines.select("value", parser.alias("rec")), schema)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) from a CSV directory/file under an explicit
    schema. A row that fails to parse (wrong arity, bad cast) lands in
    the quarantine frame as (raw, _corrupt_record). With ``header``,
    only each file's FIRST header-valued line is dropped: header
    candidates (the rare lines equal to the header string) are
    aggregated per file into a tiny frame that anti-joins back by
    (file, position), so a legitimate DATA row whose values happen to
    equal the column names survives — a global value filter would
    silently drop it."""
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    opts.update(options)
    lines = spark.read.text(path)
    if header:
        header_line = ",".join(schema.fieldNames())
        lines = lines.select(
            "value",
            F.input_file_name().alias("_f"),
            F.input_file_block_start().alias("_bs"),
            F.monotonically_increasing_id().alias("_i"),
        )
        # the true header is each file's first line, i.e. the first row of
        # the block at byte offset 0. Restricting candidates to _bs == 0
        # makes the min-id pick CONTRACTUAL: one block is scanned
        # sequentially inside one partition, where monotonically
        # increasing ids follow row order by construction — no reliance
        # on how FileSourceScan orders splits across partitions (which is
        # size-sorted and internal). A data
        # row equal to the header string in any later block can never be
        # picked; in block 0 it always carries a larger id than the true
        # header above it.
        headers = (
            lines.filter((F.col("value") == header_line) & (F.col("_bs") == 0))
            .groupBy("_f")
            .agg(F.min("_i").alias("_i"))
        )
        lines = lines.join(
            F.broadcast(headers), ["_f", "_i"], "left_anti"
        ).select("value")
    parser = F.from_csv(
        F.col("value"), _with_corrupt(schema).simpleString(), opts
    )
    return _parse(lines, parser, schema)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) from JSON-lines files under an explicit schema.
    Unparseable lines land in the quarantine frame as
    (raw, _corrupt_record)."""
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    opts.update(options)
    lines = spark.read.text(path)
    parser = F.from_json(F.col("value"), _with_corrupt(schema), opts)
    return _parse(lines, parser, schema)


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    df.write.option("header", str(header).lower()).mode(mode).csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)

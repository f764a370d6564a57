"""CSV / JSON-lines connectors: schema-enforced reads, corrupt-record
quarantine (never drop, never fail), and lossless round-trips against the
parquet originals."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cupertino_nvr_spark.sources.formats import (
    CORRUPT_COL,
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)
from cupertino_nvr_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

DOC_SCHEMA = (
    StructType()
    .add("doc_id", "long")
    .add("lang", "string")
    .add("source", "string")
    .add("n_chars", "long")
)


def _docs(spark):
    return load_table(spark, "documents", SF).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy("doc_id").collect()]


def test_csv_roundtrip(spark, tmp_path):
    docs = _docs(spark)
    write_csv(docs, f"{tmp_path}/docs_csv")
    good, bad = read_csv(spark, f"{tmp_path}/docs_csv", DOC_SCHEMA)
    assert bad.count() == 0
    assert _sorted_rows(good) == _sorted_rows(docs)


def test_jsonl_roundtrip(spark, tmp_path):
    docs = _docs(spark)
    write_jsonl(docs, f"{tmp_path}/docs_jsonl")
    good, bad = read_jsonl(spark, f"{tmp_path}/docs_jsonl", DOC_SCHEMA)
    assert bad.count() == 0
    assert _sorted_rows(good) == _sorted_rows(docs)


def test_csv_quarantines_bad_rows(spark, tmp_path):
    p = tmp_path / "bad_csv"
    p.mkdir()
    (p / "part-0.csv").write_text(
        "doc_id,lang,source,n_chars\n"
        "1,en,src1,10\n"
        "not_a_number,en,src1,abc\n"  # bad casts
        "2,fr,src2,20\n"
    )
    good, bad = read_csv(spark, str(p), DOC_SCHEMA)
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "not_a_number" in bad_rows[0][CORRUPT_COL]


def test_jsonl_quarantines_bad_lines(spark, tmp_path):
    p = tmp_path / "bad_jsonl"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "lang": "en", "source": "src1", "n_chars": 10}\n'
        "{this is not json\n"
        '{"doc_id": 2, "lang": "fr", "source": "src2", "n_chars": 20}\n'
    )
    good, bad = read_jsonl(spark, str(p), DOC_SCHEMA)
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "not json" in bad_rows[0][CORRUPT_COL]


def test_readers_schema_enforced_and_lazy(spark, tmp_path):
    """Schema is declared, never inferred (no inference job over the
    data), result dtypes match the declaration, and both output frames
    are lazy filters over one parse definition (no caching required to
    consume the quarantine side — the native-reader corrupt-column
    restriction does not apply)."""
    docs = _docs(spark)
    write_csv(docs, f"{tmp_path}/docs_csv2")
    good, bad = read_csv(spark, f"{tmp_path}/docs_csv2", DOC_SCHEMA)
    assert [f.dataType.simpleString() for f in good.schema.fields] == [
        "bigint",
        "string",
        "string",
        "bigint",
    ]
    # quarantine side consumable standalone, repeatedly, without caching
    assert bad.count() == 0
    assert bad.count() == 0


def test_chunk_udtf_matches_codegen(spark):
    """The UDTF chunker and the codegen chunker are two physical paths
    for ONE contract — their outputs must be row-identical."""
    from cupertino_nvr_spark.plans import REGISTRY

    a = sorted(map(tuple, REGISTRY["docs_chunked_udtf"].spark(spark, SF).collect()))
    b = sorted(map(tuple, REGISTRY["docs_chunked"].spark(spark, SF).collect()))
    assert a == b and len(a) > 0


def test_jsonl_blank_lines_quarantined(spark, tmp_path):
    """A blank/whitespace line parses to a NULL struct, not a corrupt
    capture — it must land in quarantine, never as a phantom all-null
    good row (review finding)."""
    p = tmp_path / "blank_jsonl"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "lang": "en", "source": "src1", "n_chars": 10}\n'
        "\n"
        "   \n"
        '{"doc_id": 2, "lang": "fr", "source": "src2", "n_chars": 20}\n'
    )
    good, bad = read_jsonl(spark, str(p), DOC_SCHEMA)
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    assert bad.count() == 2


def test_csv_header_valued_data_row_survives(spark, tmp_path):
    """Only each file's FIRST header line may be dropped; a data row
    whose values equal the column names is real data (review finding)."""
    from pyspark.sql.types import StructType

    schema = StructType().add("a", "string").add("b", "string")
    p = tmp_path / "hdr_csv"
    p.mkdir()
    (p / "part-0.csv").write_text("a,b\nx,y\na,b\nz,w\n")
    good, bad = read_csv(spark, str(p), schema)
    assert bad.count() == 0
    assert sorted(map(tuple, good.collect())) == [("a", "b"), ("x", "y"), ("z", "w")]


def test_chunk_udtf_matches_codegen_on_null_text(spark):
    """NULL text must produce identical rows on both physical paths
    (review finding: the UDTF used to coerce None to '' and diverge)."""
    from cupertino_nvr_spark.functions.udtf import chunk_docs_udtf
    from pyspark.sql import functions as F

    from cupertino_nvr_spark.llm.text import chunk_spans, ws_tokens

    df = spark.createDataFrame(
        [(1, None), (2, "a b c"), (3, "   ")], "doc_id long, text string"
    )
    toks = df.select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    chunked = toks.select(
        "doc_id", "toks", F.explode(chunk_spans(F.col("toks"), 24)).alias("start")
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, 32)
    codegen = chunked.select(
        "doc_id",
        (F.col("start") / 24).cast("bigint").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.least(F.lit(32), F.size("toks") - F.col("start")).alias("n_chunk_tokens"),
        F.size("toks").alias("n_doc_tokens"),
    )
    a = sorted(map(tuple, chunk_docs_udtf(df).collect()))
    b = sorted(map(tuple, codegen.collect()))
    assert a == b


def test_csv_header_drop_is_block_anchored(spark, tmp_path):
    """The header drop only considers candidates in the byte-0 block of
    each file (input_file_block_start == 0), where min-id-equals-first-
    line is contractual — not dependent on FileSourceScan's internal
    split ordering. A header-valued data row far into the
    file (a later block under adversarial splitting) can never be the
    drop target."""
    import pyspark.sql.types as T

    schema = T.StructType().add("a", "string").add("b", "string")
    p = tmp_path / "blocky.csv"
    # header + many rows, one of which repeats the header string mid-file
    rows = ["a,b"] + [f"r{i},v{i}" for i in range(500)]
    rows[250] = "a,b"  # data row equal to the header line
    p.write_text("\n".join(rows) + "\n")
    good, bad = read_csv(spark, str(p), schema, header=True)
    out = good.collect()
    assert len(out) == 500  # 499 distinct rows + the header-valued one
    assert sum(1 for r in out if (r.a, r.b) == ("a", "b")) == 1
    assert bad.count() == 0

"""Every registered query hash-matches its DuckDB oracle at sf0.001 —
the same check the driver runs at sf0.01 (tests/test_registry_oracle_sf001
keeps the loop fast; run with SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
before a round ends to rehearse the real gate)."""

from __future__ import annotations

import os

import pytest

from cupertino_nvr_spark.plans import REGISTRY, all_oracles, all_queries
from tests.oracle_utils import compare, duckdb_run

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

ORACLE_SPECS = sorted(name for name, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_SPECS = sorted(name for name, s in REGISTRY.items() if s.oracle is None)

# Fast-by-default oracle smoke: one row per query family, so the default
# (gate) run still exercises the whole Spark-vs-DuckDB comparison
# machinery end-to-end while the FULL 441-row rehearsal is `slow` (the
# whole sweep is long enough for a bounded test window to cut it; the
# full rehearsal remains the documented command in pytest.ini). Chosen: the flagship, one scan-agg, one window chain, one
# event chain, the touched-this-round dedup/clustering/curation chains,
# one simhash, one embedding blocking chain, one IVF ANN, the exact
# brute-force top-k (the block-matmul kernel every brute-force consumer
# runs), one rollup, one media row.
SMOKE_SPECS = [
    "asof_ttl_overlay",
    "pricing_summary",
    "latest_event_per_user",
    "events_funnel",
    "orders_rollup",
    "docs_exact_dedup",
    "docs_token_stats",
    "docs_minhash_lsh_candidates",
    "docs_simhash_neardup",
    "docs_dup_clusters",
    "docs_curation_inc_report",
    "embedding_cosine_neardup",
    "embedding_ivf_ann",
    "embedding_cosine_topk",
    "media_features",
]


def test_every_declared_query_has_an_oracle():
    """Driver contract: a declared query without an oracle is recorded as
    `err: no_oracle` — a guaranteed red row whenever sampled (this was
    user_value_sketches, rounds 1-4). Everything without an oracle must be
    bench_only."""
    assert set(all_queries()) == set(all_oracles())
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            assert spec.bench_only, f"{name} has no oracle but is driver-declared"


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_SPECS)
def test_declared_output_schema_is_scalar_only(spark, name):
    """Driver contract: the external comparator sorts the result pandas
    frame raw, and pandas `sort_values` on a list-typed column throws
    `TypeError: unhashable type: 'list'` (round 6's sole red row,
    embedding_int8_quant, `q: array<int>`). The local `_normalize`
    converts lists to tuples before sorting, so the rehearsal would pass
    where the gate fails — this analysis-only guard closes that gap: no
    declared query may expose an Array/Map/Struct top-level column.
    Flatten (c0..cN), stringify (concat_ws/to_json on both engines), or
    explode instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    schema = REGISTRY[name].spark(spark, SF_DIR).schema
    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name} exposes non-scalar top-level columns {bad} "
        f"({schema.simpleString()}) — the driver's canonicalizer cannot "
        "sort these; flatten or stringify on both engines"
    )


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_SPECS)
def test_oracle_match(spark, name):
    spec = REGISTRY[name]
    result = spec.spark(spark, SF_DIR)
    expected = duckdb_run(spec.oracle, SF_DIR)
    compare(result, expected)


@pytest.mark.slow
@pytest.mark.parametrize("name", ROWS_ONLY_SPECS)
def test_rows_only_runs(spark, name):
    spec = REGISTRY[name]
    result = spec.spark(spark, SF_DIR)
    assert result.count() >= 0
    assert len(result.schema) > 0


@pytest.mark.parametrize("name", SMOKE_SPECS)
def test_oracle_match_smoke(spark, name):
    spec = REGISTRY[name]
    result = spec.spark(spark, SF_DIR)
    expected = duckdb_run(spec.oracle, SF_DIR)
    compare(result, expected)

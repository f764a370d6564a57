"""Query registry: every operator from SURVEY §2 lands here as a named
query with (a) a Spark DataFrame program and (b) an equivalent ANSI-SQL
oracle string for DuckDB, so the driver can hash-compare results at
sf0.01. Column names are the contract: alias every computed column
identically in both forms. REGISTRY, all_queries() and all_oracles() all
keep registration order (plans/__init__.py imports the flagship first).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    doc: str = ""
    # bench_only entries are alternative physical kernels (or sketch
    # estimators) whose results are impl-defined at the last ulp, so no
    # cross-engine hash oracle exists. They stay in REGISTRY for bench.py
    # and the local test suite but are NOT declared to the driver: the
    # driver scores every declared query against oracle_sql(), and a
    # declared query without an oracle is a guaranteed red row
    # (user_value_sketches, rounds 1-4).
    bench_only: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, doc: str = "", bench_only: bool = False
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            spark=fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            bench_only=bench_only,
        )
        return fn

    return deco


def all_queries() -> dict[str, SparkQuery]:
    """Declared queries (what __spark_entry__.queries() exposes), in
    registration order: every entry has an oracle_sql() twin."""
    return {name: spec.spark for name, spec in REGISTRY.items() if not spec.bench_only}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None and not spec.bench_only
    }

"""Training-shard materialization: the sink side of ``shard_pack``.

``docs_train_shards`` (plans/llm.py) computes a deterministic packing
*assignment*; this module writes the packed corpus to disk in the layout
a training loader consumes: ``split=train/bucket=3/shard=12/part-*``.
Parquet for columnar pipelines, JSONL (Spark's ``json`` writer is
line-delimited) for text-loader pipelines.

Scale posture: the only shuffle is the explicit repartition on the
partition columns — it co-locates each shard into one task so each shard
directory holds one file (a training loader wants ~shard-sized files,
not 32 slivers per shard). Everything else is the write itself. At 100 TB
raise ``n_buckets`` (shard_pack's parallelism knob) with the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cupertino_nvr_spark.llm.pipeline import shard_pack


def write_train_shards(
    docs: DataFrame,
    out_dir: str,
    fmt: str = "parquet",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_budget: int = 2048,
    n_buckets: int = 16,
) -> DataFrame:
    """Pack ``docs`` into token-budget shards and write them partitioned by
    (split, bucket, shard). Returns the per-(split, bucket, shard) manifest
    DataFrame (doc count + token total) so callers can record or validate
    the layout without re-listing the filesystem.
    """
    if fmt not in ("parquet", "json"):
        raise ValueError(f"fmt must be 'parquet' or 'json', got {fmt!r}")
    assign = shard_pack(
        docs,
        text_col=text_col,
        id_col=id_col,
        token_budget=token_budget,
        n_buckets=n_buckets,
    )
    packed = docs.join(
        assign.select(
            id_col,
            "split",
            "bucket",
            F.col("shard_in_bucket").alias("shard"),
            "n_tokens",
        ), id_col
    )
    (
        packed.repartition("split", "bucket", "shard")
        .write.format(fmt)
        .partitionBy("split", "bucket", "shard")
        .mode("overwrite")
        .save(out_dir)
    )
    # manifest from the assignment alone: every aggregated column lives in
    # `assign`, so going through `packed` would re-execute the text-bearing
    # docs join a second time when the caller collects the manifest
    return (
        assign.groupBy(
            "split", "bucket", F.col("shard_in_bucket").alias("shard")
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def curation_materialize(
    docs: DataFrame,
    out_dir: str,
    fmt: str = "parquet",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_budget: int = 2048,
    n_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """The full curation funnel materialized on ONE DAG: exact-dedup
    keepers -> benchmark exclusion -> quality gate -> 5-gram
    decontamination (``llm.pipeline.curation_flags`` — the SAME flag
    chain ``docs_curation_report`` aggregates, so the written shards can
    never drift from the report) -> token-budget shard export.

    Returns (stage_counts, shard_manifest). The flag frame is persisted
    once and feeds BOTH the clean-doc filter under the shard write and
    the stage-count aggregate — one flag DAG with no per-stage recompute
    plus one payload scan under the shard write, never one scan per
    stage; at 100 TB this is the difference between a 2-pass job and a
    5-pass one. The caller owns unpersisting the cached flag frame: call
    ``spark.catalog.clearCache()`` or collect the returned stage_counts
    and then ``stage_counts.sparkSession.catalog.clearCache()`` once both
    returned frames have been consumed (the manifest and the counts both
    read it lazily, so unpersisting inside would defeat the sharing).
    """
    from cupertino_nvr_spark.llm.pipeline import (
        curation_flags,
        curation_stage_counts,
    )

    flags = curation_flags(docs, id_col=id_col, text_col=text_col).persist()
    clean = docs.join(
        flags.filter(F.col("is_clean")).select(id_col), id_col
    )
    manifest = write_train_shards(
        clean,
        out_dir,
        fmt=fmt,
        id_col=id_col,
        text_col=text_col,
        token_budget=token_budget,
        n_buckets=n_buckets,
    )
    return curation_stage_counts(flags), manifest


def dup_clusters_materialize(
    spark,
    sf_dir: str,
    out_dir: str,
    fmt: str = "parquet",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cluster ONCE, consume three times — how a real corpus build runs
    the text dedup family at 100 TB: the iterative component computation
    (the expensive part) materializes to ``out_dir``, and the REPORT
    (cluster assignments), the DECISION (survivor flags), and the
    QUALITY row (B-cubed vs the construction gold) all derive from the
    persisted frame with cheap single-pass shapes — never re-running
    the contraction per consumer. Each derived frame is row-identical to its
    standalone registry twin (``docs_dup_clusters``,
    ``docs_dedup_survivors``, ``docs_cluster_bcubed`` — pinned by
    ``tests/test_export.py``), because all four build through the same
    shape helpers; the registry entries stay standalone by contract (the
    driver runs each in isolation), this is the composed operating mode.

    Returns (clusters [read back from ``out_dir``], survivors, bcubed).
    """
    from cupertino_nvr_spark.llm.pipeline import dedup_survivors
    from cupertino_nvr_spark.plans.llm import (
        _bcubed_from_clusters,
        _dup_cluster_frames,
    )

    if fmt not in ("parquet", "json"):
        raise ValueError(f"fmt must be 'parquet' or 'json', got {fmt!r}")
    aug, clusters = _dup_cluster_frames(spark, sf_dir)
    clusters.write.format(fmt).mode("overwrite").save(out_dir)
    mat = spark.read.format(fmt).load(out_dir)
    docs = aug.select("doc_id", F.length("text").alias("text_len"))
    return mat, dedup_survivors(docs, mat), _bcubed_from_clusters(mat)


def media_doc_components_materialize(
    spark,
    sf_dir: str,
    out_dir: str,
    fmt: str = "parquet",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The cross-modal twin of ``dup_clusters_materialize``: compute the
    shared (node, cluster_id) component frame ONCE (signatures -> bands
    -> pHash pairs -> provenance links -> contraction — the chain both
    registry entries rebuild when run standalone), persist it to
    ``out_dir``, and derive the cluster REPORT and the dedup DECISION
    from the materialized frame. Row-identical to the standalone
    ``media_doc_dup_clusters`` / ``media_doc_dedup_survivors`` because
    all paths share ``_shape_media_doc_clusters`` /
    ``_shape_media_doc_survivors`` (pinned by ``tests/test_export.py``).

    Returns (components [read back], clusters, survivors).
    """
    from cupertino_nvr_spark.plans.llm import (
        _media_doc_components,
        _shape_media_doc_clusters,
        _shape_media_doc_survivors,
        augmented_docs,
    )

    if fmt not in ("parquet", "json"):
        raise ValueError(f"fmt must be 'parquet' or 'json', got {fmt!r}")
    comp = _media_doc_components(spark, sf_dir)
    comp.write.format(fmt).mode("overwrite").save(out_dir)
    mat = spark.read.format(fmt).load(out_dir)
    aug = augmented_docs(spark, sf_dir)
    return (
        mat,
        _shape_media_doc_clusters(mat),
        _shape_media_doc_survivors(mat, aug),
    )


__all__ = [
    "write_train_shards",
    "curation_materialize",
    "dup_clusters_materialize",
    "media_doc_components_materialize",
]

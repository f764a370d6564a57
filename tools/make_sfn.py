"""Deterministic scale-up of the driver's test data for stress runs.

The driver ships sf0.001/0.01/0.1; the 100 TB posture claims need at
least one data point a size up to surface skew, window growth, and
spill behavior that 600k rows cannot. This tool replicates a source
scale-factor directory ``factor`` times with deterministic, seedless
transforms (pure column arithmetic — reproducible run-over-run):

- ``events``: copies keep the SAME user population (per-user history
  grows ``factor``x — the window/session stress case) with ids shifted
  by a per-copy stride and timestamps offset by ``copy * 11s`` so
  ordering stays strict.
- ``documents``: ids shifted; copies > 0 get a per-copy suffix token so
  exact dedup doesn't trivially collapse them while shingle overlap
  keeps the near-dup pipeline loaded.
- ``embeddings``: ids shifted; one vector dimension (vec_id mod dim)
  nudged by ``copy * 3e-3`` so copies are near- but not exact
  neighbors — the ANN stress case.
- ``orders``/``lineitem``: order keys shifted by one shared stride so
  the FK holds; customers/parts/suppliers stay fixed, so per-customer
  and per-part fan-in grows ``factor``x (the realistic skew direction).
- dimension tables (``region nation customer supplier part``): copied
  unchanged.

Usage (THE documented sf1 recipe — the exact invocation behind every
round's sf1 scaling study; defaults reproduce it):
    python tools/make_sfn.py [--src /root/testdata/sf0.1] \
        [--dst /root/repo/.sf1] [--factor 10]
Then:
    SPARK_GRAFT_SF_DIR=/root/repo/.sf1 python bench.py

Reproducibility pin: every transform above
is seedless pure column arithmetic, so two generations from the same
--src are row-identical. After generating (or with --verify-only against
an existing --dst), the tool computes a per-table manifest (row count +
order-independent sum of xxhash64 over all non-map columns) and compares
it to tools/sf1_manifest.json when the invocation matches the documented
recipe (default src/factor); --write-manifest refreshes the pin after an
intentional driver-data regeneration. A mismatch exits nonzero — the sf1
numbers in the round notes are only comparable against a verified
manifest.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from cupertino_nvr_spark.session import get_spark  # noqa: E402
from cupertino_nvr_spark.sources.tables import load_table  # noqa: E402

COPY_UNCHANGED = ("region", "nation", "customer", "supplier", "part")


def _stride(df: DataFrame, key: str) -> int:
    return int(df.agg(F.max(key)).first()[0]) + 1


def _replicate(df: DataFrame, factor: int, per_copy) -> DataFrame:
    out = None
    for i in range(factor):
        c = per_copy(df, i)
        out = c if out is None else out.unionByName(c)
    return out


def scale_dir(spark, src: str, dst: str, factor: int) -> None:
    os.makedirs(dst, exist_ok=True)

    for name in COPY_UNCHANGED:
        load_table(spark, name, src).write.mode("overwrite").parquet(
            f"{dst}/{name}.parquet"
        )

    ev = load_table(spark, "events", src)
    ev_stride = _stride(ev, "event_id")
    _replicate(
        ev,
        factor,
        lambda df, i: df.select(
            (F.col("event_id") + F.lit(i * ev_stride)).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {i * 11} SECONDS")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ),
    ).write.mode("overwrite").parquet(f"{dst}/events.parquet")

    docs = load_table(spark, "documents", src)
    d_stride = _stride(docs, "doc_id")
    _replicate(
        docs,
        factor,
        lambda df, i: df.select(
            (F.col("doc_id") + F.lit(i * d_stride)).alias("doc_id"),
            (
                F.col("text")
                if i == 0
                else F.concat(F.col("text"), F.lit(f" rep{i}"))
            ).alias("text"),
            "lang",
            "source",
            F.length(
                F.col("text") if i == 0 else F.concat(F.col("text"), F.lit(f" rep{i}"))
            ).cast("long").alias("n_chars"),
        ),
    ).write.mode("overwrite").parquet(f"{dst}/documents.parquet")

    emb = load_table(spark, "embeddings", src)
    v_stride = _stride(emb, "vec_id")
    dim = emb.select(F.size("embedding")).first()[0]
    _replicate(
        emb,
        factor,
        lambda df, i: df.select(
            (F.col("vec_id") + F.lit(i * v_stride)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda v, p: F.when(
                    p == F.pmod(F.col("vec_id"), F.lit(dim)).cast("int"),
                    v + F.lit(i * 3e-3),
                ).otherwise(v).cast("float"),
            ).alias("embedding"),
            "label",
        ),
    ).write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")

    orders = load_table(spark, "orders", src)
    li = load_table(spark, "lineitem", src)
    o_stride = _stride(orders, "o_orderkey")
    _replicate(
        orders,
        factor,
        lambda df, i: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * o_stride)
        ),
    ).write.mode("overwrite").parquet(f"{dst}/orders.parquet")
    _replicate(
        li,
        factor,
        lambda df, i: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * o_stride)
        ),
    ).write.mode("overwrite").parquet(f"{dst}/lineitem.parquet")


MANIFEST = Path(__file__).resolve().parent / "sf1_manifest.json"


def table_manifest(spark, dst: str) -> dict[str, dict[str, object]]:
    """Per-table (rows, order-independent xxhash64 sum over non-map
    columns) — deterministic for a fixed --src because every generation
    transform is seedless column arithmetic. Map columns (events.props)
    are excluded (xxhash64 does not accept MapType); their content is
    copied verbatim from --src, which the hashed event_id column keys."""
    out: dict[str, dict[str, object]] = {}
    for p in sorted(Path(dst).glob("*.parquet")):
        df = spark.read.parquet(str(p))
        cols = [c for c, t in df.dtypes if not t.startswith("map")]
        row = df.agg(
            F.count("*").alias("rows"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).first()
        out[p.name.removesuffix(".parquet")] = {
            "rows": int(row["rows"]),
            "xxh64_sum": str(row["h"]),
        }
    return out


def main() -> None:
    import json

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default=str(Path(__file__).resolve().parent.parent / ".sf1"))
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--verify-only",
        action="store_true",
        help="skip generation; manifest-check an existing --dst",
    )
    ap.add_argument(
        "--write-manifest",
        action="store_true",
        help="refresh tools/sf1_manifest.json from this generation",
    )
    args = ap.parse_args()
    spark = get_spark("make-sfn")
    if not args.verify_only:
        scale_dir(spark, args.src, args.dst, args.factor)
    manifest = table_manifest(spark, args.dst)
    for name, rec in manifest.items():
        print(f"{name}: {rec['rows']} rows, xxh64_sum {rec['xxh64_sum']}")
    # resolve() so an equivalent spelling (trailing slash, relative path,
    # symlink) cannot silently bypass the manifest verification the pin
    # exists for
    is_documented_recipe = (
        Path(args.src).resolve() == Path("/root/testdata/sf0.1").resolve()
        and args.factor == 10
    )
    if args.write_manifest:
        # the pin means ONE thing — the documented sf1 recipe's bytes; a
        # scratch-scale run must not silently clobber it (r12 review)
        if not is_documented_recipe:
            raise SystemExit(
                f"--write-manifest refused: {MANIFEST} pins the documented "
                f"recipe (--src /root/testdata/sf0.1 --factor 10), not "
                f"src={args.src} factor={args.factor}"
            )
        MANIFEST.write_text(json.dumps(manifest, indent=2) + "\n")
        print(f"wrote {MANIFEST}")
    elif is_documented_recipe and MANIFEST.exists():
        pinned = json.loads(MANIFEST.read_text())
        if manifest != pinned:
            drift = {
                k: {"pinned": pinned.get(k), "got": manifest.get(k)}
                for k in set(pinned) | set(manifest)
                if pinned.get(k) != manifest.get(k)
            }
            raise SystemExit(
                f"sf1 manifest drift vs {MANIFEST} — the driver's sf0.1 "
                f"data changed or a generation transform did; re-pin with "
                f"--write-manifest after confirming which: {drift}"
            )
        print(f"manifest matches {MANIFEST}")
    elif is_documented_recipe:
        # documented recipe but no pin on disk: the hashes above are
        # UNVERIFIED — say so (the silent third branch the r13 review
        # caught), and point at the flag that creates the pin
        print(
            f"manifest check skipped ({MANIFEST} does not exist; run with "
            "--write-manifest to pin this generation)"
        )
    elif not is_documented_recipe:
        # the per-table hashes above are informational only in this case —
        # say so instead of printing them as if they were checked
        print(
            f"manifest check skipped (non-default recipe: src={args.src} "
            f"factor={args.factor}; the pin covers --src /root/testdata/sf0.1 "
            "--factor 10)"
        )


if __name__ == "__main__":
    main()

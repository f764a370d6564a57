"""Training-data pipeline operators: PII scrubbing, duplicate clustering,
deterministic splits + shard packing, BM25 retrieval.

These are the stages between "raw crawl" and "training shards" that the
dedup/similarity/text modules feed. All are DataFrame→DataFrame; every one
except the iterative component loop is pure column expressions.

Scale notes per operator:

- **PII scrub** — regex detect + redact in one projection (codegen,
  zero shuffles). Patterns are RE2-compatible so the DuckDB oracle runs
  the identical regexes.
- **Duplicate clustering** — connected components over the *bipartite*
  (doc, band-key) membership from MinHash banding. Each key stars its
  members onto the key's min member, so the edge count is linear in
  membership rows (never pair rows): a hot band of m docs costs m, not
  m², and no candidate pair is materialized. Large-star/small-star
  contraction then finds the components in O(log² n) rounds independent
  of graph diameter; each round costs fixed job overhead, so the round
  count, not the data volume, sets the price. ``reliable_checkpoint``
  truncates the lineage each round (fault-tolerant ``checkpoint()`` on
  clusters, local otherwise).
- **Split + shard packing** — hash-split (train/val/test) then greedy
  token-budget packing via a running sum windowed over (split, bucket):
  bucketing bounds every window partition to ~1/n_buckets of the split,
  so the packing sort parallelizes instead of serializing per split
  (the classic single-writer packing bottleneck at 100 TB).
- **BM25** — query terms are a tiny broadcast side; the posting join
  prunes the corpus to docs containing a query term BEFORE any scoring,
  so the expensive explode feeds one semi-joinable equi-join. Stats
  (N, avgdl) are scalar aggregates broadcast back.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cupertino_nvr_spark.llm.text import token_count, ws_tokens
from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

# RE2-compatible (DuckDB) AND java.util.regex-compatible (Spark): no
# lookaround, no backrefs; \b and bounded repetition work in both.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_REDACTIONS = [  # applied in order; email first so its domain dots never
    # survive into the IP pass
    (EMAIL_RE, "<EMAIL>"),
    (PHONE_RE, "<PHONE>"),
    (IPV4_RE, "<IP>"),
]

def pii_counts(text: Column) -> dict[str, Column]:
    return {
        "n_emails": F.regexp_count(text, F.lit(EMAIL_RE)),
        "n_phones": F.regexp_count(text, F.lit(PHONE_RE)),
        "n_ips": F.regexp_count(text, F.lit(IPV4_RE)),
    }


def redact_pii(text: Column) -> Column:
    out = text
    for pattern, placeholder in _REDACTIONS:
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc PII audit + redaction: match counts per category, a
    has_pii flag, and the redacted text plus its fingerprint (the
    downstream dedup key — redaction collapses docs differing only in
    the scrubbed spans)."""
    text = F.col(text_col)
    counts = pii_counts(text)
    redacted = redact_pii(text)
    return docs.select(
        F.col(id_col),
        *[c.alias(name) for name, c in counts.items()],
        (sum(counts.values(), F.lit(0)) > 0).alias("has_pii"),
        F.md5(redacted).alias("clean_fp"),
        F.length(redacted).alias("clean_len"),
    )


def components_over_keys(
    nodes: DataFrame,
    membership: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "band_key",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the bipartite (node, key) graph: two nodes
    are connected iff they transitively share keys. Returns
    (id_col, cluster_id) where cluster_id = min node id in the component.

    Per key, every member is starred onto the key's minimum member — a
    window MIN over the membership rows, O(|membership|) edges and never
    a pair join, so a hot key of m members costs m. The edge set then
    goes to large-star/small-star contraction (``_star_contract``),
    whose rounds are independent of graph diameter. A node with no edge
    is its own root. Every membership id must also appear in ``nodes``.
    ``max_iter`` is the contraction's round budget; running out raises
    rather than returning a partial clustering.
    """
    from pyspark.sql import Window

    kmin = F.min(id_col).over(Window.partitionBy(key_col))
    edges = (
        membership.select(F.col(id_col).alias("u"), kmin.alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    roots = _star_contract(edges, max_iter)
    ids = nodes.select(id_col).distinct()
    return ids.join(roots, ids[id_col] == roots["_cn"], "left").select(
        F.col(id_col), F.coalesce("_croot", id_col).alias("cluster_id")
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the (child, parent) edge set is a union of disjoint
    stars: every child has exactly one parent and no parent is itself a
    child. At that point both star operations are no-ops and every
    child's parent is its component min (edges stay child>parent
    oriented throughout, so a star's root is its min). One aggregate
    (per node: its parents, as edges are distinct, and all its edges)
    under one ``isEmpty`` probe."""
    roles = edges.select(F.col("u").alias("_node"), F.lit(1).alias("_child")).unionByName(
        edges.select(F.col("v").alias("_node"), F.lit(0).alias("_child"))
    )
    per_node = roles.groupBy("_node").agg(
        F.sum("_child").alias("_parents"), F.count("*").alias("_edges")
    )
    # two parents, or a parent and a child
    parents, edges_at = F.col("_parents"), F.col("_edges")
    off_star = (parents > 1) | ((parents > 0) & (edges_at > parents))
    return per_node.filter(off_star).isEmpty()


def _star_contract(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al. 2014): per round, large-star(u) hangs every LARGER neighbor
    of u onto min(N(u) ∪ {u}); small-star(u) (edges oriented
    child>parent) merges u and its smaller neighbors onto their min.
    Both preserve connectivity (paper Lemmas 1-2) and strictly decrease
    a potential until the edge set is a star forest, in O(log^2 n)
    rounds independent of graph diameter. Returns (_cn [child node], _croot [component min]) for
    every non-root node in ``edges``. Raises on round exhaustion."""
    edges = reliable_checkpoint(edges.select("u", "v").distinct())
    for _ in range(max_iter):
        if _is_star_forest(edges):
            return edges.select(
                F.col("u").alias("_cn"), F.col("v").alias("_croot")
            )
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        gmin = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        # large-star: for v in N(u) with v > u, emit (v, min(N(u) ∪ {u}))
        large = (
            sym.join(gmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("_mn"), F.col("u")).alias("v"),
            )
            .distinct()
        )
        # small-star: large-star output is child>parent oriented, so
        # N⁻(u) is just N(u); merge u and all its parents onto their min
        smin = large.groupBy("u").agg(F.min("v").alias("_mn"))
        e_sib = (
            large.join(smin, "u")
            .filter(F.col("v") != F.col("_mn"))
            .select(F.col("v").alias("u"), F.col("_mn").alias("v"))
        )
        e_self = smin.select("u", F.col("_mn").alias("v"))
        edges = reliable_checkpoint(e_sib.unionByName(e_self).distinct())
    raise RuntimeError(f"components_over_keys: no fixpoint after {max_iter} rounds")


def duplicate_clusters(
    corpus: DataFrame,
    membership: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "band_key",
) -> DataFrame:
    """Candidate-duplicate clusters from blocking-key membership (MinHash
    bands, fingerprints, …): every doc labeled with its component's min
    doc id, plus the cluster size. Docs sharing no key are singletons."""
    from pyspark.sql import Window

    comp = components_over_keys(corpus, membership, id_col, key_col)
    w = F.count("*").over(Window.partitionBy("cluster_id"))
    return comp.select(F.col(id_col), "cluster_id", w.alias("cluster_size"))


def dedup_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    order_col: str = "text_len",
) -> DataFrame:
    """Pick one canonical survivor per duplicate cluster: the doc with the
    largest ``order_col`` (ties → smallest id). Returns every doc with its
    cluster and an ``is_survivor`` flag — the materialization a dedup
    stage feeds downstream (keep survivors, drop or remap the rest).

    Survivor selection is ``max_by`` over a (order, -id) struct — a
    groupBy with map-side partial aggregation, so a pathological
    million-doc cluster costs one combine per partition, NOT a
    per-cluster sort (the window-rank formulation would serialize hot
    clusters). The flag join back is an equi-join on cluster_id whose
    right side has one row per cluster.
    """
    ranked = clusters.join(docs.select(id_col, order_col), id_col)
    surv = ranked.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col(order_col), (-F.col(id_col)).alias("nid"))
        ).alias("survivor_id")
    )
    return (
        ranked.join(surv, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            order_col,
            (F.col(id_col) == F.col("survivor_id")).alias("is_survivor"),
        )
    )


def curation_flags(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc monotone curation-funnel flags — THE funnel definition,
    shared by the ``docs_curation_report`` query and
    ``llm.export.curation_materialize`` so the report and the shards it
    gates can never drift: (id_col, is_keeper [exact-dedup winner],
    is_nonbench [not in the held-out benchmark slice], is_qual
    [repetition/quality gate], is_clean [5-gram decontamination]).
    ``id_col`` must be numeric (the benchmark slice is a modulus residue).

    One-DAG shape (the docs_curation_report plan): every doc carries its
    flags through one projection chain with no per-stage recompute — the
    flag DAG reads docs in three subtrees (keeper digests, the flag
    projection, the 1/23 benchmark slice); the only shuffles are the
    digest groupBy, the keeper join, and the broadcast contamination gram
    join. The quality gate stays OUT of any Filter (an exploded
    empty-array instead) — filter pushdown would re-evaluate the token
    projection once per reference (measured 17 s vs 3 s at sf0.1).
    """
    from cupertino_nvr_spark.llm.dedup import _shingle_spans
    from cupertino_nvr_spark.llm.text import repetition_gate

    keepers = (
        docs.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, F.lit(True).alias("is_keeper"))
    )
    t = F.col("t")
    g2 = F.transform(
        _shingle_spans(F.size(t), 2),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    flagged = (
        docs.join(keepers, id_col, "left")
        .select(
            id_col,
            F.coalesce("is_keeper", F.lit(False)).alias("is_keeper"),
            ws_tokens(F.lower(F.col(text_col))).alias("t"),
        )
        .select(
            id_col,
            "is_keeper",
            "t",
            (F.col("is_keeper") & (F.col(id_col) % 23 != 0)).alias("is_nonbench"),
        )
        .select(
            id_col,
            "is_keeper",
            "is_nonbench",
            "t",
            (F.col("is_nonbench") & repetition_gate(t, g2)).alias("is_qual"),
        )
    )
    g5 = F.transform(
        _shingle_spans(F.size(t), 5),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(5)]),
    )
    qgrams = flagged.select(
        id_col,
        F.explode(
            F.when(F.col("is_qual"), F.array_distinct(g5)).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("gram"),
    )
    bench = (
        docs.filter(F.col(id_col) % 23 == 0)
        .select(ws_tokens(F.lower(F.col(text_col))).alias("t"))
        .select(F.explode(F.array_distinct(g5)).alias("gram"))
        .distinct()
    )
    contam = (
        qgrams.join(F.broadcast(bench), "gram")
        .select(id_col)
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    return flagged.join(contam, id_col, "left").select(
        id_col,
        "is_keeper",
        "is_nonbench",
        "is_qual",
        (F.col("is_qual") & F.col("is_contam").isNull()).alias("is_clean"),
    )


def curation_stage_counts(flags: DataFrame) -> DataFrame:
    """One aggregate over the flag frame -> the per-stage survivor counts
    + retention row (the docs_curation_report output contract)."""

    def flag(c: str) -> Column:
        return F.sum(F.col(c).cast("long"))

    return flags.agg(
        F.count("*").alias("n_raw"),
        flag("is_keeper").alias("n_exact_keepers"),
        flag("is_nonbench").alias("n_nonbenchmark"),
        flag("is_qual").alias("n_quality_pass"),
        flag("is_clean").alias("n_clean"),
    ).select(
        "n_raw",
        "n_exact_keepers",
        "n_nonbenchmark",
        "n_quality_pass",
        "n_clean",
        F.round(F.col("n_clean") * 100.0 / F.col("n_raw"), 6).alias(
            "retention_pct"
        ),
    )


def train_split(id_hash: Column) -> Column:
    """80/10/10 deterministic split from a hash residue mod 10."""
    r = F.pmod(id_hash, F.lit(10))
    return F.when(r <= 7, "train").when(r == 8, "val").otherwise("test")


def shard_pack(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_budget: int = 2048,
    n_buckets: int = 16,
) -> DataFrame:
    """Deterministic split + greedy token-budget shard packing.

    Greedy stream packing: docs ordered by id accumulate into a shard
    until the next doc would start past the budget boundary —
    ``shard = floor(tokens_before_this_doc / budget)``. The running sum
    is windowed over (split, bucket) where bucket is a hash residue:
    every window partition holds ~1/n_buckets of a split, so packing
    runs parallel per bucket instead of one global sorted stream (at
    scale, raise n_buckets with the cluster, shards stay
    deterministic). Output: one packing assignment per doc.
    """
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.dedup import md5_int

    ih = md5_int(F.col(id_col).cast("string"), seed=5)
    bh = F.pmod(md5_int(F.col(id_col).cast("string"), seed=7), F.lit(n_buckets))
    base = docs.select(
        F.col(id_col),
        train_split(ih).alias("split"),
        bh.cast("int").alias("bucket"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("split", "bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w).cast("bigint")
    return base.select(
        id_col,
        "split",
        "bucket",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / F.lit(token_budget))
        .cast("bigint")
        .alias("shard_in_bucket"),
        cum.alias("cum_tokens"),
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """BM25 ranked retrieval: top-k docs per query.

    ``queries`` is (query_id, term) — the bounded side, broadcast. The
    corpus explodes to (doc, term) term frequencies but ONLY terms
    matching a query term survive the broadcast semi-prune before the
    heavy groupBy, so scored rows ≈ posting-list sizes of the query
    vocabulary, not the corpus vocabulary. idf uses the standard
    ln(1 + (N-df+.5)/(df+.5)) form. Scores are rounded before ranking
    (cross-engine float-sum order), ties break on doc id.
    """
    from pyspark.sql import Window

    terms = queries.select("query_id", F.lower(F.col("term")).alias("term"))

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(F.col(text_col))).alias("term"),
    ).withColumn("term", F.lower(F.col("term")))
    tf = (
        toks.join(F.broadcast(terms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )

    dl = docs.select(
        F.col(id_col).alias("doc_id"), token_count(F.col(text_col)).alias("dl")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))

    contrib = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(terms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("term_score"), score_decimals).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score", "rank")
    )


__all__ = [
    "EMAIL_RE",
    "PHONE_RE",
    "IPV4_RE",
    "pii_counts",
    "redact_pii",
    "pii_scrub",
    "components_over_keys",
    "duplicate_clusters",
    "curation_flags",
    "curation_stage_counts",
    "train_split",
    "shard_pack",
    "bm25_scores",
]

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
  (doc, band-key) membership from MinHash banding. Propagating min-labels
  doc→key→doc per iteration means cost per round is linear in membership
  rows (never pair rows), so a hot band of m docs costs m, not m² — the
  component structure comes out WITHOUT materializing candidate pairs.
  Two-phase: single-hop propagation for the first ``ramp_rounds`` rounds
  (shallow graphs — the common case — converge there at minimum
  per-round cost), then large-star/small-star edge contraction for the
  deep-chain tail (O(log² n) rounds independent of diameter, where
  propagation is bound by diameter). Each round is two shuffles with
  map-side combine on MIN; ``reliable_checkpoint`` truncates the growing
  lineage each round (fault-tolerant ``checkpoint()`` on clusters, local
  otherwise).
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

# Diagnostics from the most recent components_over_keys call on this
# driver (round counts + whether star contraction engaged) — what the
# path-engagement regression tests read.
# Driver-local bookkeeping only; never consulted by the plans.
LAST_RUN_STATS: dict = {}


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
    ramp_rounds: int = 6,
) -> DataFrame:
    """Connected components of the bipartite (node, key) graph: two nodes
    are connected iff they transitively share keys. Returns
    (id_col, cluster_id) where cluster_id = min node id in the component.

    Two-phase: the first ``ramp_rounds`` rounds are plain single-hop
    min-label propagation with pointer jumping — each round pushes
    labels node→key (min per key) then key→node (min over a node's
    keys), then path-halves once (label := min(label, label-of-label);
    every label is itself a node id so the hop is total). Shallow
    graphs — exact-dup band memberships with diameter 2-3, the COMMON
    case for every clustering consumer — converge inside the ramp at
    the cheapest possible per-round cost (two min-combined shuffles +
    one labels-sized join). A graph still unconverged after the ramp is
    draining a chain — the r10 sf1 profile measured the min label
    traveling exactly one key-graph EDGE per node→key→node pass
    (jumped=0 while changed>0 in tail rounds: label-tree compression
    cannot shortcut distance that lives in the KEY graph) on >40-hop
    key chains — so the loop hands the rest to alternating
    large-star/small-star edge contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") over the
    LABEL-contracted graph: nodes collapse to their current labels
    (same-component invariant), each key star-ifies to (member-label →
    key-min-label) edges, and the alternating rounds converge in
    O(log^2 n) rounds INDEPENDENT of graph diameter, vs rounds ≈
    diameter for propagation (r10 measured 19 rounds on the sf1
    cross-modal graph). Same fixpoint: the component min node's label
    is itself, so the star roots ARE the component minima.

    ``max_iter`` counts ROUNDS: a propagation round is one key hop, a
    contraction round one large-star + small-star pass; callers with
    ``max_iter <= ramp_rounds`` run pure single-hop propagation and
    never engage contraction. Work per round stays O(|membership| +
    |nodes|) (contraction: O(|edges|) with |edges| <= |membership|): no
    pair join ever happens, which is what makes clustering hot bands
    safe at scale. Raises if ``max_iter`` rounds don't reach the
    fixpoint — a loud failure beats a silently-wrong clustering.
    """
    LAST_RUN_STATS.clear()
    LAST_RUN_STATS.update(
        {"propagation_rounds": 0, "deep_path": None, "contract_rounds": 0}
    )
    labels = nodes.select(F.col(id_col)).distinct().select(
        F.col(id_col), F.col(id_col).alias("label")
    )
    memb = reliable_checkpoint(
        membership.select(F.col(id_col), F.col(key_col)).distinct()
    )

    for rnd in range(max_iter):
        if rnd >= ramp_rounds:
            # unconverged after the ramp: a deep chain — hand the
            # label-contracted graph to star contraction, which owns
            # the remaining round budget
            LAST_RUN_STATS["deep_path"] = "contract"
            return _contract_components(
                labels, memb, id_col, key_col, max_iter - rnd
            )
        LAST_RUN_STATS["propagation_rounds"] = rnd + 1
        key_min = (
            memb.join(labels, id_col)
            .groupBy(key_col)
            .agg(F.min("label").alias("key_label"))
        )
        via = (
            memb.join(key_min, key_col)
            .groupBy(id_col)
            .agg(F.min("key_label").alias("nbr_label"))
        )
        # persisted: referenced twice below (self + pointer map)
        stepped = labels.join(via, id_col, "left").select(
            id_col,
            F.col("label").alias("_old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        ).persist()
        # pointer jumping: follow the label one hop (label-of-label);
        # labels only decrease, so min(label, its label) keeps the
        # component-min invariant while halving chain distances
        ptr = stepped.select(
            F.col(id_col).alias("_t"), F.col("label").alias("_tl")
        )
        # the change flag rides in the checkpointed frame, so convergence
        # detection is a column sum over the rows this round materializes
        # anyway — no extra old-vs-new join per round. The checkpoint is
        # LAZY: the convergence aggregate below is the round's ONE action,
        # and materializing the frame as that job's side effect (instead
        # of an eager checkpoint job + a second agg job over the
        # materialized blocks) halves the per-round fixed job overhead —
        # at ~1M-row frames scheduling, not data volume, is the per-round
        # cost. The agg computes every partition (a global sum), so the
        # frame is fully materialized when the collect returns.
        new_labels = reliable_checkpoint(
            stepped.join(ptr, stepped["label"] == F.col("_t"), "left")
            .select(
                F.col(id_col),
                F.least(
                    F.col("label"), F.coalesce(F.col("_tl"), F.col("label"))
                ).alias("label"),
                (
                    F.least(
                        F.col("label"), F.coalesce(F.col("_tl"), F.col("label"))
                    )
                    < F.col("_old")
                ).cast("int").alias("_changed"),
            ),
            eager=False,
        )
        changed = new_labels.agg(F.sum("_changed")).collect()[0][0] or 0
        stepped.unpersist()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels.withColumnRenamed("label", "cluster_id")
    raise RuntimeError(f"components_over_keys: no fixpoint after {max_iter} rounds")


def _contract_components(
    labels: DataFrame,
    memb: DataFrame,
    id_col: str,
    key_col: str,
    max_iter: int,
) -> DataFrame:
    """Finish a partially-propagated clustering by star contraction.

    ``labels`` is (id, label) where label is a node id inside the same
    component (the min-propagation invariant) — so contracting every
    node to its label preserves components exactly, and the component
    MIN's label is itself (nothing smaller exists to displace it), so
    the contracted graph's component minima are the original ones.
    Edges: per key, the distinct member labels star-ify onto the
    key-min label — O(|membership|) edges, never a pair join. Final
    labels: node -> root(label) (labels absent from the edge set are
    already component minima or singletons).
    """
    lab_memb = (
        memb.join(labels, id_col)
        .select(F.col("label").alias("u"), F.col(key_col).alias("_k"))
        .distinct()
    )
    kmin = lab_memb.groupBy("_k").agg(F.min("u").alias("v"))
    edges = (
        lab_memb.join(kmin, "_k")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
    )
    roots = _star_contract(edges, max_iter)
    return (
        labels.join(roots, labels["label"] == roots["_cn"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_croot"), F.col("label")).alias("cluster_id"),
        )
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the (child, parent) edge set is a union of disjoint
    stars: every child has exactly one parent and no parent is itself a
    child. At that point both star operations are no-ops and every
    child's parent is its component min (edges stay child>parent
    oriented throughout, so a star's root is its min). Two limit-1
    probe jobs — cheap next to the round's shuffles."""
    multi = (
        edges.groupBy("u").agg(F.count("*").alias("_n")).filter(F.col("_n") > 1)
    )
    chained = edges.join(
        edges.select(F.col("u").alias("v")).distinct(), "v", "left_semi"
    )
    return multi.isEmpty() and chained.isEmpty()


def _star_contract(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al. 2014): per round, large-star(u) hangs every LARGER neighbor
    of u onto min(N(u) ∪ {u}); small-star(u) (edges oriented
    child>parent) merges u and its smaller neighbors onto their min.
    Both preserve connectivity (paper Lemmas 1-2) and strictly decrease
    a potential until the edge set is a star forest, in O(log^2 n)
    rounds independent of graph diameter — the property that makes this
    the deep-chain path where per-round propagation is bound by
    diameter. Returns (_cn [child node], _croot [component min]) for
    every non-root node in ``edges``. Raises on round exhaustion."""
    edges = reliable_checkpoint(edges.select("u", "v").distinct())
    for rnd in range(max_iter):
        if _is_star_forest(edges):
            LAST_RUN_STATS["contract_rounds"] = rnd
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
    raise RuntimeError(
        f"_star_contract: no star forest after {max_iter} rounds"
    )


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

"""Physical-plan regression guards for the 100 TB posture (SURVEY §7.4).

Correctness tests say the answers are right; these say the *plans* stay
right: filters reach the parquet scan, projections prune columns, small
dimensions broadcast, and nothing degenerates into a cartesian /
nested-loop join. A change that silently turns a broadcast join into a
cartesian product passes every value check at sf0.01 and melts a
1000-executor cluster — this is where that regression gets caught.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from cupertino_nvr_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"

# every oracle-checked query must produce a sane distributed plan
ALL_QUERIES = sorted(REGISTRY)


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Queries whose plan keeps a BroadcastNestedLoopJoin on purpose: every
# entry's build side is bounded by construction (a 1-row stats attach, a
# few-row spine, a bounded probe panel), never by the data.
# Brute-force top-k (similarity.brute_force_topk) scores its probe panel
# in one mapInPandas corpus pass with the probe matrix in the task
# closure, and IVF cell assignment and probe routing
# (similarity.assign_cells_arrow) carry the centroid matrix the same
# way, so their consumers (embedding_cosine_topk, embedding_ann_recall_eval,
# embedding_knn_label_eval, embedding_mmr_rerank, the IVF ANN and
# near-dup chains) plan no nested-loop join at all and are deliberately
# NOT listed here.
ALLOWED_BNLJ = {
    # 4-row n_probe spine range-joined against the bounded candidate-pair
    # frame (the media_phash_tau_profile spine pattern) — the sweep
    # re-ranks one pair frame, it never re-routes
    "embedding_ivf_probe_profile",
    # 1-row per-plane mean-projection attach (the centering stats); the
    # candidate generation itself is a bucket equi-join with a hot-bucket
    # cap — the linear-time blocking path
    "embedding_cosine_neardup_lsh",
    "embedding_semdedup_lsh",  # same chain + pair groupBy/keyed left join
    # the BM25 sparse leg's 1-row (N, avgdl) corpus-stats attach (the
    # docs_bm25_search shape); fusion itself is a 10-rows-per-leg
    # full-outer equi-join
    "docs_hybrid_rrf_search",
    # 1-row attaches onto the projection pass: the mean vector, the
    # checkpointed final iterate v and the (mu, sd) moments — the
    # power-iteration rounds before it are per-dim map-side-combined
    # aggregations, never dim^2
    "embedding_pc1_outliers",
    # doc-profile rows x broadcast(n_langs) candidate languages — the
    # rank-distance must score every language; the build side is the
    # distinct-language dim (5 rows), bounded by the catalog not the
    # corpus; profile lookup itself is a broadcast equi-join
    "docs_char_ngram_langid",
    # bounded-probe brute force with the label inequality folded into the
    # theta join — the build side is the fixed 200-slot probe panel
    "embedding_hard_negatives",
    # BM25 attaches the single-row (N, avgdl) corpus stats to every scored
    # row: a broadcast of exactly one row — BroadcastNestedLoopJoin Cross
    # with a 1-row build side IS the right plan (a shuffle-free scalar
    # attach), not an accidental blowup
    "docs_bm25_search",
    # same 1-row-stats attach shape: corpus token total (unigram LM),
    # min-language count (temperature sampling), corpus doc count
    # (hot-gram df threshold), packed per-dim min/max arrays (int8 quant)
    "docs_unigram_lm_score",
    "docs_perplexity_buckets",  # same unigram-LM 1-row n_total attach
    "docs_lang_balanced_sample",
    "docs_hot_ngram_coverage",
    "embedding_int8_quant",
    # 1-row smoothing-denominator attach (bigram LM) and the asymmetric
    # int8 exact-scoring baseline (all-pairs over a bounded probe side by
    # definition, like embedding_cosine_topk; probe side hard-bounded by
    # the _PROBE_BOUND predicate)
    "docs_bigram_lm_score",
    # same 1-row attach (distinct-bigram total for the continuation
    # probability); the scoring joins are vocab-keyed equi-joins
    "docs_kneser_ney_score",
    "embedding_int8_ann",
    # int8 scale path: its BNLJ stage is the bounded 1-row packed
    # codebook attach; the candidate scoring itself is a cell_id
    # equi-join (asserted below)
    "embedding_int8_ivf_ann",
    # two-stage exact baseline: bounded-probe x corpus coarse scoring by
    # definition (probe side carries the same hard bound as int8_ann)
    "embedding_prefix_rerank_ann",
    # 1-row mixture normalizer attach
    "docs_mixture_weights",
    # 1-row corpus-size (N for idf) attach; the df scoring join itself is
    # a term equi-join (vocab-sized side, never broadcast by construction)
    "docs_tfidf_topterms",
    # two 1-row attaches: global-max timestamp + the quartile thresholds
    # (the alternative, NTILE(4) over all users, is an unpartitioned
    # global-sort window — the actual scale hazard)
    "events_rfm_segments",
    # 1-row corpus-revenue-total attach (the Q11 HAVING scalar subquery)
    "important_parts",
    # 1-row basket-total (n_orders) attach onto the support-floored pair
    # table; the pair derivation itself is the order-keyed equi-join and
    # the stats attaches are part-keyed equi-joins
    "parts_copurchase_lift",
    # 1-row (nr, nt) totals attach onto the FIXED 1024-row bucket table —
    # the corpus-sized sides (token stream, per-doc rollup) are equi-joins
    "docs_dsir_weights",
    # three 1-row count frames (candidates / truth / hits) cross-joined
    # into the single metrics row; both underlying pipelines stay
    # equi-keyed (band join, shingle posting-list join, pair-id join)
    "docs_lsh_quality_eval",
    # 1-row revenue-total attach onto the 12-row month table
    "orders_seasonality",
    # 1-row grand-total attach onto the types x 24 cell table (margins
    # and total all derive from the cell aggregate, no second corpus pass)
    "events_type_hour_chisq",
    # the pair join runs over the |types|-sized per-type SKETCH table
    # (both sides are post-aggregation, bounded by the event-type
    # vocabulary — never per-user rows); a theta `<` join on a
    # broadcast-tiny side is the right physical shape for the
    # unordered-pair enumeration
    "event_type_user_overlap_sketch",
    # one extra all-centroids pass by definition: corpus x
    # broadcast(centroids) distances for a/b, centroid count bounded by
    # the IVF stride cap — the eval scales wherever embedding_kmeans does
    "embedding_silhouette",
    # BM25's 1-row stats attach on the sparse leg; the RBO spine join is
    # 10 depth rows x <=10 overlap rows per query
    "docs_retrieval_rbo",
    # 4-row seq_len spine x #shards-row token totals — both sides bounded
    # post-aggregation, the corpus contributes one map-side-combined agg
    "docs_packing_efficiency",
    # 3-row candidate-N spine x the TakeOrdered top-1000 head, plus the
    # 1-row (total_tokens, vocab_size) attach — the corpus contributes one
    # map-side-combined term count; nothing vocabulary-sized crosses
    "docs_vocab_coverage",
    # 1-row corpus-horizon attach onto the per-session frame; the KM
    # estimator itself runs on the whole-second duration grid
    "events_session_survival",
    # 2-row lag spine x the #days-bounded daily rollup; the lag self-join
    # itself is an (event_type, day) equi-join on that bounded frame
    "events_daily_acf",
    # two 1-row totals attaches (bigram total, token total); the scoring
    # joins are term-keyed equi-joins bounded by the vocabularies
    "docs_pmi_collocations",
    # 17-row tau spine range-joined against the bounded post-banding
    # candidate table (band balance bounds scored rows, never all-pairs);
    # the spine side broadcasts — the events_psi_drift spine pattern
    "media_phash_tau_profile",
    # 9-row decile-threshold spine x the bounded 0.1-granular value grid
    # (the threshold-crossing edge derivation); the fact table contributes
    # one map-side-combined groupBy, and the bucket assignment itself is
    # an event_type equi-join against the 9-edges-per-type dim
    "events_psi_drift",
    # (1 + #channels)-row scenario dim x the state-vocabulary-squared edge
    # table (~40 rows), then 1-row p_full / total-effect attaches — the
    # fact table contributes one user window pass + one edge aggregate;
    # all 16 propagation rounds run on the scenario x state frame
    "events_markov_removal_effect",
    # per-cap metric assembly: each swept setting cross-joins three 1-ROW
    # aggregate frames (cell count, candidate count, base-hit count) plus
    # the 1-row base-count spine — every BNLJ side is a global aggregate,
    # bounded by construction at any corpus size; the reference chain
    # (embedding_cosine_neardup's) and the swept candidate counts ride
    # cell_id equi-joins
    "embedding_ivf_cell_budget_profile",
}


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_cartesian_or_nested_loop(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} degenerated to a cartesian product"
    if name not in ALLOWED_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} uses a nested-loop join"


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "pricing_summary")
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan), "shipdate filter not pushed"


def test_forecast_revenue_all_predicates_pushed(spark):
    """The Q6 shape exists to prove scan-level pruning: all three
    predicates (shipdate range, discount band, quantity cap) must reach
    the parquet scan, and the plan must contain no join."""
    plan = plan_of(spark, "forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m, "no pushed filters at all"
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed to scan"
    assert "Join" not in plan


def test_column_pruning_reaches_scan(spark):
    # pricing_summary never touches partkey/suppkey; the scan schema must
    # not include them (ReadSchema pruning)
    plan = plan_of(spark, "pricing_summary")
    read_schemas = re.findall(r"ReadSchema: (.*)", plan)
    assert read_schemas and all("l_partkey" not in s and "l_suppkey" not in s for s in read_schemas)


@pytest.mark.parametrize(
    "name",
    [
        "revenue_by_nation",
        "shipping_priority",
        "nation_region_broadcast",
        "market_share",
        "product_profit",
        "embedding_lsh_ann",
        # bounded-by-construction sides: benchmark gram set, per-lang rate
        # table, hot boilerplate-gram set
        "docs_contamination",
        "docs_lang_balanced_sample",
        "docs_hot_ngram_coverage",
        # cohort-sizes side is bounded by #distinct days
        "events_retention_cohorts",
    ],
)
def test_dimension_joins_broadcast(spark, name):
    """Joins against bounded-size sides must be broadcast, not shuffled."""
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"


def test_int8_ivf_candidates_are_equi_join(spark):
    """embedding_int8_ivf_ann's candidate generation must stay a cell_id
    equi-join (cost n_probe/n_cells of brute force) — the whole point of
    routing the dequantized corpus through the IVF index instead of the
    exact baseline's probe x corpus product."""
    plan = plan_of(spark, "embedding_int8_ivf_ann")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*\n.*cell_id", plan) or re.search(
        r"keys.*\[cell_id", plan
    ), "cell_id equi-join missing from the int8 IVF plan"


def test_int8_ann_probe_bound_filter(spark):
    """The exact int8 baseline's probe side must carry the deterministic
    _PROBE_BOUND predicate so its broadcast cannot grow with the
    corpus."""
    plan = plan_of(spark, "embedding_int8_ann")
    assert "6553600" in plan, "probe bound predicate missing from int8 ANN plan"


def _brute_force_callers() -> list[str]:
    """Every plans/llm.py function whose body calls brute_force_topk."""
    import ast
    import inspect

    from cupertino_nvr_spark.plans import llm

    tree = ast.parse(inspect.getsource(llm))
    return sorted(
        f.name
        for f in tree.body
        if isinstance(f, ast.FunctionDef)
        and any(
            isinstance(n, ast.Call) and getattr(n.func, "id", None) == "brute_force_topk"
            for n in ast.walk(f)
        )
    )


class _Recorded(Exception):
    """Stops a plan build right after its probe panel is recorded."""


@pytest.mark.parametrize("name", _brute_force_callers())
def test_brute_force_probe_panel_is_bounded(spark, monkeypatch, name):
    """brute_force_topk carries its whole probe panel in the task closure
    and rejects more than MAX_PROBES rows at plan build, so a panel that
    grows with the corpus (e.g. ``vec_id % 100 == 0`` alone, 1 % of it)
    breaks above 6.5M rows. Every caller's probe plan must bound the
    panel by a constant: a ``vec_id <`` literal of at most
    100 * MAX_PROBES (with the %100 sampling), or an IN list."""
    from cupertino_nvr_spark.llm.similarity import MAX_PROBES
    from cupertino_nvr_spark.plans import llm

    assert name in REGISTRY, f"{name} calls brute_force_topk but is not a query"
    plans = []

    def recording(corpus, probes, *args, **kwargs):
        plans.append(probes._jdf.queryExecution().optimizedPlan().toString())
        raise _Recorded

    monkeypatch.setattr(llm, "brute_force_topk", recording)
    with pytest.raises(_Recorded):
        REGISTRY[name].spark(spark, SF)
    plan = plans[0]
    bounds = [int(b) for b in re.findall(r"vec_id#\d+L? < (\d+)", plan)]
    in_list = re.search(r"vec_id#\d+L? IN \(", plan)
    assert in_list or (bounds and min(bounds) <= 100 * MAX_PROBES), (
        f"{name}: probe panel has no constant bound:\n{plan}"
    )


def test_vocab_topk_takeordered(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition heaps),
    never an unpartitioned window over the full distinct-term set."""
    plan = plan_of(spark, "docs_vocab_topk")
    assert "TakeOrderedAndProject" in plan


def test_pmi_collocations_takeordered(spark):
    """The top-20 collocations must arrive via TakeOrderedAndProject
    (per-partition heaps), never a full sort of the bigram vocabulary."""
    plan = plan_of(spark, "docs_pmi_collocations")
    assert "TakeOrderedAndProject" in plan


def test_zipf_slope_takeordered(spark):
    """The regression input is the top-1000 head — it must arrive via
    TakeOrderedAndProject, never an unpartitioned window over the full
    vocabulary (the docs_vocab_topk rule)."""
    plan = plan_of(spark, "docs_zipf_slope")
    assert "TakeOrderedAndProject" in plan


def test_repetition_quality_no_shuffle(spark):
    """The repetition rules are pure per-row array math — the plan must be
    a zero-Exchange projection that runs at scan speed."""
    plan = plan_of(spark, "docs_repetition_quality")
    assert "Exchange" not in plan


def test_funnel_single_user_shuffle(spark):
    """Both window levels and the per-user agg of events_funnel share one
    user_id hash partitioning — a second user_id Exchange would mean the
    sequence pass re-shuffles the event stream (2x shuffle volume at
    100 TB for zero semantic gain)."""
    plan = plan_of(spark, "events_funnel")
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1


def test_lifecycle_single_pass(spark):
    """events_user_lifecycle emits class + churn entries via ONE
    build-and-explode pass: one events scan, one user-only partitioning
    for all three windows (the distinct's (user, week) exchange is the
    only other shuffle before the weeks-sized rollup). A UNION form would
    double the scan and every shuffle."""
    plan = plan_of(spark, "events_user_lifecycle")
    # one scan node: formatted output lists each node twice (tree + detail
    # header), so count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"hashpartitioning\(user_id#\d+L, \d+\)", plan)) == 1


def test_attribution_single_user_shuffle(spark):
    """events_last_touch_attribution's sequence window is the only
    user_id Exchange; the daily rollup re-keys on day, never back on
    user."""
    plan = plan_of(spark, "events_last_touch_attribution")
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1


def test_dim_stats_partial_agg(spark):
    """embedding_dim_stats must partial-aggregate map-side: the shuffle
    carries #dims rows per partition, not the exploded element stream."""
    plan = plan_of(spark, "embedding_dim_stats")
    assert "Generate" in plan  # posexplode, not a collect
    assert len(re.findall(r"HashAggregate", plan)) >= 2


def test_curation_report_gate_not_in_filter(spark):
    """The repetition gate must never sit inside a Filter node: filter
    pushdown substitutes projection aliases into the predicate with no
    duplicate-expensive-expression guard, re-evaluating ws_tokens per
    token reference (measured 17 s vs 3 s at sf0.1 for the qgrams branch).
    The gate's signature expression is the run-length array_sort — assert
    no Filter condition carries it."""
    plan = plan_of(spark, "docs_curation_report")
    for m in re.finditer(r"\(\d+\) Filter[^\n]*\nInput[^\n]*\nCondition : (.*)", plan):
        assert "array_sort" not in m.group(1), "repetition gate pushed into a Filter"


def test_partial_aggregation_present(spark):
    """groupBy aggregates must show map-side partial aggregation
    (HashAggregate appears in partial_ and final modes), keeping shuffle
    volume at #groups per partition rather than #rows."""
    plan = plan_of(spark, "pricing_summary")
    assert len(re.findall(r"HashAggregate", plan)) >= 2


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Hive-partitioned layouts must prune at the directory level: a
    day-partitioned events copy filtered to one day shows the predicate
    under PartitionFilters (zero I/O for other days), not as a post-scan
    Filter. The shipped testdata is unpartitioned single files, so this
    is the one pushdown class the registry queries cannot exercise."""
    from cupertino_nvr_spark.sources.tables import load_table

    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, "events", SF).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.partitionBy("day").mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "day" in m.group(1), "day predicate not in PartitionFilters"
    # and it must not degrade into a full-scan + row filter on `day`
    assert df.count() == ev.filter(F.col("day") == "2024-01-05").count()


def test_runtime_bloom_filter_injected(spark):
    """100 TB posture: a selective dim filter on the build side of a
    shuffle join should inject a runtime bloom filter (`might_contain`)
    into the FACT scan's condition — rows are semi-filtered before they
    pay the shuffle. Guarded here so a conf or plan regression that
    silently drops row-level runtime filtering is caught. (Broadcast is
    disabled on a forked session: a broadcast hash join already prunes
    at the hash probe, so bloom injection targets shuffle joins.)"""
    import contextlib
    import io

    from pyspark.sql import functions as F

    ns = spark.newSession()
    ns.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ns.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = ns.read.parquet(f"{SF}/lineitem.parquet")
    orders = ns.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan

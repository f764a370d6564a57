"""Semantic tests for the training-data pipeline stages
(``llm/pipeline.py``) — the DuckDB oracle pins cross-engine equality; these
pin the *semantics* on crafted inputs where the right answer is known by
construction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cupertino_nvr_spark.llm.pipeline import (
    bm25_scores,
    components_over_keys,
    pii_scrub,
    redact_pii,
    shard_pack,
)
from cupertino_nvr_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def test_components_chain_and_singletons(spark):
    """1-2 share k1, 2-3 share k2 (transitive chain -> one cluster), 10
    sits alone on k9, 99 has no keys at all."""
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 99)], "doc_id long")
    memb = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (2, "k2"), (3, "k2"), (10, "k9")],
        "doc_id long, bkey string",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in components_over_keys(nodes, memb, key_col="bkey").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 99: 99}


def test_components_no_fixpoint_raises(spark):
    # a 64-chain: one membership round moves labels ~1 key-hop and the
    # frontier pointer jumps (<=3 per round) at most triple the reach,
    # so max_iter=1 cannot finish — the loud-failure path must fire
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    memb = spark.createDataFrame(
        [(i, f"k{i}") for i in range(n - 1)]
        + [(i + 1, f"k{i}") for i in range(n - 1)],
        "doc_id long, bkey string",
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        components_over_keys(nodes, memb, key_col="bkey", max_iter=1)
    got = components_over_keys(nodes, memb, key_col="bkey", max_iter=25)
    assert {r["cluster_id"] for r in got.collect()} == {0}


def test_components_contract_equals_propagation_on_random_graphs(spark):
    """The star-contraction deep path and pure single-hop propagation
    (``ramp_rounds >= max_iter``: contraction never engages) must reach
    the identical fixpoint (component = transitive key-sharing,
    cluster_id = component min) on adversarial shapes: a long chain (the
    contraction trigger), a hot key (star), bridged stars, and
    singletons — the contraction side forced with ramp_rounds=0."""
    import random

    from cupertino_nvr_spark.llm import pipeline as P

    rng = random.Random(17)
    n = 120
    rows = []
    # chain segments + hot keys + random extra memberships
    for i in range(n - 1):
        if i % 3:
            rows += [(i, f"c{i}"), (i + 1, f"c{i}")]
    for i in range(0, n, 17):
        rows.append((i, "hot"))
    for _ in range(60):
        rows.append((rng.randrange(n), f"r{rng.randrange(20)}"))
    nodes = spark.createDataFrame([(i,) for i in range(n + 5)], "doc_id long")
    memb = spark.createDataFrame(rows, "doc_id long, bkey string")
    kw = dict(id_col="doc_id", key_col="bkey", max_iter=40)
    via_contract = {
        r["doc_id"]: r["cluster_id"]
        for r in components_over_keys(nodes, memb, ramp_rounds=0, **kw).collect()
    }
    assert P.LAST_RUN_STATS["deep_path"] == "contract"
    via_propagation = {
        r["doc_id"]: r["cluster_id"]
        for r in components_over_keys(nodes, memb, ramp_rounds=40, **kw).collect()
    }
    assert P.LAST_RUN_STATS["deep_path"] is None
    assert via_contract == via_propagation
    # singletons (n..n+4) map to themselves
    for i in range(n, n + 5):
        assert via_contract[i] == i


def test_components_contract_string_ids(spark):
    """The cross-modal graph clusters namespaced STRING node ids — the
    contraction's min/least comparisons must agree with lexicographic
    label propagation. Chain d:1 ~ m:1 ~ m:2 ~ d:2 via shared keys,
    forced through the deep path."""
    nodes = spark.createDataFrame(
        [("d:1",), ("d:2",), ("m:1",), ("m:2",), ("m:9",)], "node string"
    )
    memb = spark.createDataFrame(
        [("d:1", "p1"), ("m:1", "p1"), ("m:1", "e1"), ("m:2", "e1"),
         ("m:2", "p2"), ("d:2", "p2")],
        "node string, bkey string",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in components_over_keys(
            nodes, memb, id_col="node", key_col="bkey",
            ramp_rounds=0,
        ).collect()
    }
    assert got == {"d:1": "d:1", "d:2": "d:1", "m:1": "d:1",
                   "m:2": "d:1", "m:9": "m:9"}


def test_components_deep_path_engages_only_past_ramp(spark):
    """Path-selection regression: a shallow graph must finish inside the
    single-hop ramp (contraction never engages — its plan is identical
    to the pre-contraction loop), while a 64-hop chain must hand off to
    contraction and converge in a handful of star rounds (the
    diameter-independence that is the whole point)."""
    from cupertino_nvr_spark.llm import pipeline as P

    shallow_nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    shallow_memb = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b"), (3, "b")], "doc_id long, bkey string"
    )
    components_over_keys(shallow_nodes, shallow_memb, key_col="bkey").collect()
    assert P.LAST_RUN_STATS["deep_path"] is None
    assert P.LAST_RUN_STATS["propagation_rounds"] <= 6

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    memb = spark.createDataFrame(
        [(i, f"k{i}") for i in range(n - 1)]
        + [(i + 1, f"k{i}") for i in range(n - 1)],
        "doc_id long, bkey string",
    )
    got = components_over_keys(nodes, memb, key_col="bkey")
    assert {r["cluster_id"] for r in got.collect()} == {0}
    assert P.LAST_RUN_STATS["deep_path"] == "contract"
    # the ramp's pointer jumping plus the label-contracted star-edge
    # derivation leave only O(log) residual distance; star contraction
    # must close it in a handful of rounds (0 = already a star forest)
    assert P.LAST_RUN_STATS["contract_rounds"] <= 6


def test_components_contract_budget_exhaustion_raises(spark):
    """The contraction path inherits the loud-failure contract: a deep
    chain with a 1-round contraction budget (ramp_rounds=0, max_iter=1)
    must raise, not return a partial clustering."""
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    memb = spark.createDataFrame(
        [(i, f"k{i}") for i in range(n - 1)]
        + [(i + 1, f"k{i}") for i in range(n - 1)],
        "doc_id long, bkey string",
    )
    with pytest.raises(RuntimeError, match="no star forest"):
        components_over_keys(
            nodes, memb, key_col="bkey", ramp_rounds=0, max_iter=1
        )


def test_dup_clusters_group_planted_copies(spark):
    """The augmented corpus plants exact copies at +1M (doc_id%7) and
    tail-marked near copies at +2M (doc_id%11): each must land in its
    original's cluster (exact copies share every band; near copies share
    at least one on this corpus)."""
    rows = REGISTRY["docs_dup_clusters"].spark(spark, SF).collect()
    cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
    exact = [d for d in cluster if 1000000 <= d < 2000000]
    assert exact
    for d in exact:
        assert cluster[d] == cluster[d - 1000000]
    sizes = {r["doc_id"]: r["cluster_size"] for r in rows}
    assert all(sizes[d] >= 2 for d in exact)


def test_pii_redaction_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@mail-host.org today"),
            (2, "call 555-123-4567 or 555-987-6543 now"),
            (3, "server at 192.168.0.17 answered"),
            (4, "nothing sensitive here"),
            (5, "a@b.io via 10.0.0.1 phone 123-456-7890"),
        ],
        "doc_id long, text string",
    )
    audit = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (audit[1]["n_emails"], audit[1]["n_phones"], audit[1]["n_ips"]) == (1, 0, 0)
    assert audit[2]["n_phones"] == 2
    assert audit[3]["n_ips"] == 1
    assert not audit[4]["has_pii"]
    assert (audit[5]["n_emails"], audit[5]["n_phones"], audit[5]["n_ips"]) == (1, 1, 1)

    red = {
        r["doc_id"]: r["clean"]
        for r in df.select("doc_id", redact_pii(F.col("text")).alias("clean")).collect()
    }
    assert red[1] == "reach me at <EMAIL> today"
    assert red[2] == "call <PHONE> or <PHONE> now"
    assert red[3] == "server at <IP> answered"
    assert red[4] == "nothing sensitive here"
    assert red[5] == "<EMAIL> via <IP> phone <PHONE>"


def test_shard_pack_invariants(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = shard_pack(docs, token_budget=64).collect()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # greedy packing: shard = tokens_before // budget, monotone per
    # (split, bucket) in doc_id order, and consistent with the running sum
    by_part = {}
    for r in sorted(rows, key=lambda r: (r["split"], r["bucket"], r["doc_id"])):
        part = (r["split"], r["bucket"])
        prev_cum, prev_shard = by_part.get(part, (0, 0))
        assert r["cum_tokens"] == prev_cum + r["n_tokens"]
        assert r["shard_in_bucket"] == (r["cum_tokens"] - r["n_tokens"]) // 64
        assert r["shard_in_bucket"] >= prev_shard
        by_part[part] = (r["cum_tokens"], r["shard_in_bucket"])
    # hash split is roughly 80/10/10 on 1k docs
    n = len(rows)
    n_train = sum(r["split"] == "train" for r in rows)
    assert 0.7 < n_train / n < 0.9


def test_bm25_ranking_semantics(spark):
    """Same doc length: higher tf wins; covering both query terms beats
    one; a doc without query terms never appears."""
    docs = spark.createDataFrame(
        [
            (1, "apple apple apple pear pear pear"),
            (2, "apple pear pear pear pear pear"),
            (3, "apple banana pear kiwi kiwi kiwi"),
            (4, "kiwi kiwi kiwi kiwi kiwi kiwi"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "apple"), (2, "apple"), (2, "banana")], "query_id int, term string"
    )
    rows = bm25_scores(docs, queries, k1=1.25, b=0.75, top_k=10).collect()
    q1 = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"]) if r["query_id"] == 1]
    assert q1[0] == 1 and set(q1) == {1, 2, 3}  # tf 3 > tf 1; doc 4 absent
    q2 = {r["doc_id"]: r for r in rows if r["query_id"] == 2}
    assert q2[3]["rank"] == 1  # only doc covering both terms

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


def _chain(spark, n):
    """An n-node chain 0-1-...-(n-1): node i and i+1 share key k{i}."""
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    memb = spark.createDataFrame(
        [(i, f"k{i}") for i in range(n - 1)]
        + [(i + 1, f"k{i}") for i in range(n - 1)],
        "doc_id long, bkey string",
    )
    return nodes, memb


def test_components_no_fixpoint_raises(spark):
    # a 64-chain needs several contraction rounds, so a 1-round budget
    # cannot finish — the loud-failure path must fire, not a partial
    # clustering
    nodes, memb = _chain(spark, 64)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        components_over_keys(nodes, memb, key_col="bkey", max_iter=1)
    got = components_over_keys(nodes, memb, key_col="bkey", max_iter=25)
    assert {r["cluster_id"] for r in got.collect()} == {0}


def _union_find_components(n_nodes, rows):
    """Reference: plain union-find over (node, key) rows -> {node: min
    node of its component}."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first_member = {}
    for node, key in rows:
        other = first_member.setdefault(key, node)
        a, b = find(node), find(other)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {i: find(i) for i in range(n_nodes)}


@pytest.mark.parametrize("seed", [3, 17, 29])
def test_components_match_union_find_on_random_graphs(spark, seed):
    """Component = transitive key-sharing, cluster_id = component min, on
    adversarial shapes: chain segments, a hot key (star), random extra
    memberships bridging them, and singletons — checked against a
    pure-Python union-find on the same rows."""
    import random

    rng = random.Random(seed)
    n = 120
    rows = []
    for i in range(n - 1):
        if i % 3:
            rows += [(i, f"c{i}"), (i + 1, f"c{i}")]
    for i in range(0, n, 17):
        rows.append((i, "hot"))
    for _ in range(60):
        rows.append((rng.randrange(n), f"r{rng.randrange(20)}"))
    nodes = spark.createDataFrame([(i,) for i in range(n + 5)], "doc_id long")
    memb = spark.createDataFrame(rows, "doc_id long, bkey string")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in components_over_keys(nodes, memb, key_col="bkey").collect()
    }
    assert got == _union_find_components(n + 5, rows)


def test_components_contract_string_ids(spark):
    """The cross-modal graph clusters namespaced STRING node ids — the
    contraction's min/least comparisons must be lexicographic. Chain
    d:1 ~ m:1 ~ m:2 ~ d:2 via shared keys."""
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
            nodes, memb, id_col="node", key_col="bkey"
        ).collect()
    }
    assert got == {"d:1": "d:1", "d:2": "d:1", "m:1": "d:1",
                   "m:2": "d:1", "m:9": "m:9"}


def test_components_chain_converges_in_few_rounds(spark):
    """Round-budget pin: a 64-hop chain converges within a small fixed
    round budget — star contraction's rounds do not grow with the
    graph's diameter (min-label propagation would need ~64). Measured:
    6 contraction rounds at 64 nodes, 8 at 200, 10 at 1,000; the budget
    counts the final star-forest check as a round, hence 7."""
    nodes, memb = _chain(spark, 64)
    got = components_over_keys(nodes, memb, key_col="bkey", max_iter=7)
    assert {r["cluster_id"] for r in got.collect()} == {0}


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

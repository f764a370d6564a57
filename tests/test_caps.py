"""The quadratic-blowup guards: stop-shingle DF cap (n-gram Jaccard) and
hot-band cap (MinHash LSH) must suppress degenerate keys while leaving
genuinely-similar pairs intact."""

from __future__ import annotations

from pyspark.sql import functions as F

from cupertino_nvr_spark.llm.dedup import (
    lsh_candidates,
    minhash_signature,
    ngram_jaccard_pairs,
)


def _corpus(spark, n_boiler: int = 30):
    """n_boiler identical boilerplate docs (one degenerate key shared by all)
    + one genuine near-dup pair with distinct text."""
    rows = [(i, "terms of service apply to all users", "en") for i in range(n_boiler)]
    rows += [
        # exact duplicates: band agreement is deterministic (a single-token
        # edit leaves band agreement probabilistic, ~0.94 for 4 bands of 2)
        (1000, "quick brown fox jumps over the lazy dog", "en"),
        (1001, "quick brown fox jumps over the lazy dog", "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_shingle_df_cap_suppresses_boilerplate(spark):
    docs = _corpus(spark)
    uncapped = ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=10_000)
    # 30 identical docs -> 30*29/2 = 435 boilerplate pairs without the cap
    assert uncapped.count() >= 435
    capped = ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # every boilerplate shingle has df=30 > 10 -> no boilerplate pairs ...
    assert all(a >= 1000 for a, _ in got), got
    # ... while the genuine near-dup pair (unique shingles, df <= 2) survives
    assert (1000, 1001) in got


def test_blocked_kernels_reject_oversized_probe_side(spark, monkeypatch):
    """brute_force_topk collect()s the probe side into the UDF closure; an
    unbounded probe frame (e.g. probes=corpus) must fail fast on the
    driver instead of OOMing it mid-collect."""
    import pytest

    from cupertino_nvr_spark.llm import similarity as S

    emb = spark.range(13).select(
        F.col("id").alias("vec_id"),
        F.array(
            [((F.col("id") % 12) * 7 + i).cast("double") % 13 for i in range(4)]
        ).alias("embedding"),
    )
    monkeypatch.setattr(S, "MAX_PROBES", 8)
    with pytest.raises(ValueError, match="MAX_PROBES"):
        S.brute_force_topk(emb, emb, k=2)
    # a bounded batch under the cap still runs: every probe gets its k
    # neighbors, and id 0's identical twin (id 12, folded by id % 12) ranks
    # first at cosine 1
    small = emb.filter(F.col("vec_id") < 3)
    got = S.brute_force_topk(emb, small, k=2).collect()
    assert len(got) == 3 * 2
    assert {(r.neighbor_id, r.sim) for r in got if r.probe_id == 0 and r.rank == 1} == {
        (12, 1.0)
    }


def test_band_cap_suppresses_hot_buckets(spark):
    docs = _corpus(spark)
    sigs = minhash_signature(docs, num_hashes=8)
    uncapped = lsh_candidates(sigs, band_cap=10_000)
    assert uncapped.count() >= 435
    capped = lsh_candidates(sigs, band_cap=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # identical docs share every band -> all four buckets are hot -> dropped
    assert all(a >= 1000 for a, _ in got), got
    # the exact-dup pair shares every band; its buckets hold 2 docs < cap
    assert (1000, 1001) in got


def test_simhash_banding_rejects_indivisible_bits(spark):
    """bits % n_bands != 0 would silently leave the top remainder bits
    out of every band, voiding the pigeonhole recall guarantee — loud
    ValueError instead, the margin cand_cap < k convention."""
    import pytest

    from cupertino_nvr_spark.llm.dedup import simhash_band_membership

    sigs = spark.createDataFrame([(1, 7)], "doc_id bigint, simhash bigint")
    with pytest.raises(ValueError, match="positive divisor"):
        simhash_band_membership(sigs, bits=32, n_bands=5)
    # degenerate counts fail the same loud way, not ZeroDivisionError /
    # a silently-negative mask (32 % -4 == 0 in Python)
    with pytest.raises(ValueError, match="positive divisor"):
        simhash_band_membership(sigs, bits=32, n_bands=0)
    with pytest.raises(ValueError, match="positive divisor"):
        simhash_band_membership(sigs, bits=32, n_bands=-4)
    # the registered configuration still bands cleanly
    assert simhash_band_membership(sigs, bits=32, n_bands=4).count() == 4

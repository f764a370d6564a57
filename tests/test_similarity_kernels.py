"""ANN quality pins.

Recall floors: the synthetic embeddings are near-uniform random, so ANN
recall on arbitrary neighbors is ~(fraction of corpus searched) by
construction — not a useful pin. What a dedup/retrieval pipeline actually
needs is that HIGH-similarity neighbors are found, so the recall tests run
over the augmented corpus with planted exact (+1M) and perturbed (+2M)
copies and require those to surface in the top-k. A weak floor on natural
recall guards against total bucketing breakage."""

from __future__ import annotations

from pyspark.sql import functions as F

from cupertino_nvr_spark.llm.similarity import ivf_ann_topk, lsh_ann_topk
from cupertino_nvr_spark.plans import REGISTRY
from cupertino_nvr_spark.plans.llm import augmented_embeddings

SF = "/root/testdata/sf0.001"


def _planted_recall(topk_rows, planted: dict[int, int]) -> float:
    found = {
        r.probe_id
        for r in topk_rows
        if planted.get(r.probe_id) == r.neighbor_id
    }
    return len(found) / len(planted)


def test_ann_finds_planted_near_dups(spark):
    aug = augmented_embeddings(spark, SF)
    # probe with every original that has an exact copy planted at +1M
    probes = aug.filter((F.col("vec_id") % 9 == 0) & (F.col("vec_id") < 1000000))
    planted_exact = {
        r.vec_id: r.vec_id + 1000000 for r in probes.select("vec_id").collect()
    }
    assert planted_exact

    lsh = lsh_ann_topk(aug, probes, dim=64, k=5).collect()
    ivf = ivf_ann_topk(aug, probes, k=5, n_probe=2).collect()
    # an exact copy hashes to the same LSH bucket / IVF cell deterministically
    assert _planted_recall(lsh, planted_exact) == 1.0
    assert _planted_recall(ivf, planted_exact) == 1.0

    # perturbed copies (elementwise ±2%, cosine ~0.9996) may flip a
    # hyperplane sign or a cell boundary, but only rarely
    pprobes = aug.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 1000000))
    planted_pert = {
        r.vec_id: r.vec_id + 2000000 for r in pprobes.select("vec_id").collect()
    }
    lshp = lsh_ann_topk(aug, pprobes, dim=64, k=5).collect()
    ivfp = ivf_ann_topk(aug, pprobes, k=5, n_probe=2).collect()
    single = _planted_recall(lshp, planted_pert)
    assert single >= 0.8
    assert _planted_recall(ivfp, planted_pert) >= 0.8

    # multi-probe searches a superset of the single-probe buckets, so its
    # recall can only rise — the flipped weak bits are exactly where a
    # perturbed copy's sign crosses
    multi = _planted_recall(
        lsh_ann_topk(aug, pprobes, dim=64, k=5, n_flip=2).collect(), planted_pert
    )
    assert multi >= single


def test_int8_ivf_planted_recall(spark):
    """The int8 SCALE path (dequantized corpus routed through IVF cells,
    full-precision probes — embedding_int8_ivf_ann's shape) must surface
    planted exact copies at top rank: quantization noise (<0.4% of each
    dim's range) cannot eject an identical vector from the probe's routed
    cells at n_probe=2."""
    from cupertino_nvr_spark.plans.llm import (
        _int8_exprs,
        _int8_packed,
        augmented_embeddings,
    )

    aug = augmented_embeddings(spark, SF)
    packed = _int8_packed(aug)
    _, _, _, _, dq_i = _int8_exprs()
    dq = F.transform(F.sequence(F.lit(1), F.size("embedding")), dq_i)
    deq = aug.crossJoin(F.broadcast(packed)).select("vec_id", dq.alias("embedding"))
    probes = aug.filter((F.col("vec_id") % 9 == 0) & (F.col("vec_id") < 1000000))
    planted = {r.vec_id: r.vec_id + 1000000 for r in probes.select("vec_id").collect()}
    assert planted
    got = ivf_ann_topk(deq, probes, k=5, n_probe=2).collect()
    assert _planted_recall(got, planted) == 1.0


def test_natural_recall_floor(spark):
    bf = {
        (r.probe_id, r.neighbor_id)
        for r in REGISTRY["embedding_cosine_topk"].spark(spark, SF).collect()
    }
    lsh = {
        (r.probe_id, r.neighbor_id)
        for r in REGISTRY["embedding_lsh_ann"].spark(spark, SF).collect()
    }
    # uniform-random corpus: recall ~ searched fraction (~1/256 buckets x
    # corpus); anything > 0 proves bucketing routes probes with the corpus,
    # and the planted-pair test above pins the quality that matters
    assert len(bf & lsh) / len(bf) >= 0.04


def test_lsh_blocked_neardup_recall(spark):
    """The linear-time LSH-blocked near-dup path recovers the IVF-blocked
    exact pair set at high recall with zero false positives above the
    threshold (every emitted pair pays the exact cosine): exact planted
    copies (identical projections -> identical buckets) are never missed;
    perturbed copies (±2%, cosine ~0.9996) may flip a weak sign bit but
    multi-probe on both sides recovers most."""
    from cupertino_nvr_spark.llm.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    aug = augmented_embeddings(spark, SF)
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(aug, threshold=0.99).collect()
    }
    lsh_rows = embedding_neardup_pairs_lsh(aug, threshold=0.99).collect()
    lsh = {(r.id_a, r.id_b) for r in lsh_rows}
    assert exact, "fixture must plant near-dup pairs"
    # no false positives: recompute the exact cosine for every emitted
    # pair and assert it clears the threshold (and matches the emitted sim)
    import math

    vecs = {r.vec_id: list(r.embedding) for r in aug.collect()}

    def _cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den

    assert lsh_rows
    for r in lsh_rows:
        ref = _cos(vecs[r.id_a], vecs[r.id_b])
        assert round(ref, 6) >= 0.99, (r.id_a, r.id_b, ref)
        assert abs(ref - r.sim) < 1e-6
    # exact copies: (id, id+1M) pairs must all be present
    exact_copies = {p for p in exact if p[1] - p[0] == 1000000}
    assert exact_copies <= lsh
    # overall recall floor vs the IVF-blocked set
    assert len(lsh & exact) / len(exact) >= 0.8

    # the drop rule over the LSH chain: is_dup iff a lower-id LSH pair
    # exists — a recall miss can only KEEP a duplicate, never drop a
    # non-duplicate, so dropped ⊆ the IVF twin's dropped set
    ivf_dropped = {
        r.vec_id
        for r in REGISTRY["embedding_semdedup"].spark(spark, SF).collect()
        if r.is_dup
    }
    lsh_dropped = {
        r.vec_id
        for r in REGISTRY["embedding_semdedup_lsh"].spark(spark, SF).collect()
        if r.is_dup
    }
    extra_drops = lsh_dropped - ivf_dropped
    # pairs the LSH blocking finds that IVF's 2-probe cells missed are
    # legitimate (both passed the exact cosine); they must be rare
    assert len(extra_drops) <= max(2, len(ivf_dropped) // 10)
    assert len(lsh_dropped & ivf_dropped) / max(len(ivf_dropped), 1) >= 0.8


def test_phash_neardup_exact_copies_never_missed(spark):
    """Structural recall guarantee of the banded Hamming blocking: an
    exact copy has the identical 64-bit hash, so it shares every band
    and MUST surface at hamming 0."""
    import duckdb

    from cupertino_nvr_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["media_phash_neardup"].spark(spark, sf).collect()
    got_exact = {
        (r.id_a, r.id_b) for r in rows if r.is_sig_exact == 1 and r.id_b - r.id_a == 1000000
    }
    want = {
        (int(i), int(i) + 1000000)
        for (i,) in duckdb.sql(
            f"select doc_id from '{sf}/documents.parquet' where doc_id % 7 = 0"
        ).fetchall()
    }
    assert want <= got_exact
    # every emitted pair is within the Hamming cap, and the cased-prefix
    # near-variants actually produce nonzero-distance matches
    assert all(0 <= r.hamming <= 6 for r in rows)
    assert any(r.hamming > 0 for r in rows)


def test_margin_scoring_penalizes_hubs(spark):
    """The ratio margin's reason to exist: two pairs with IDENTICAL raw
    cosine must rank differently when one endpoint is a hub (similar to
    everything) — the isolated pair's margin beats the hub pair's.
    Values are exact integer ppm by construction, so they're asserted
    exactly; non-positive sims are not mining candidates."""
    from cupertino_nvr_spark.llm.similarity import margin_scored_pairs

    rows = (
        # isolated strong pair: both endpoints otherwise weak (0.2 x3)
        [(10, 11, 0.8)]
        + [(10, n, 0.2) for n in (20, 21, 22)]
        + [(11, n, 0.2) for n in (23, 24, 25)]
        # hub pair: same raw sim, but endpoint 1 is near EVERYTHING
        + [(1, n, 0.8) for n in (2, 3, 4, 5)]
        + [(2, n, 0.2) for n in (30, 31, 32)]
        # negative sim: dropped
        + [(40, 41, -0.5)]
    )
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, sim double")
    got = {
        (r["id_a"], r["id_b"]): (r["margin_ppm"], r["is_confident"])
        for r in margin_scored_pairs(pairs, k=4).collect()
    }
    # isolated: avg_k = (0.8 + 3*0.2)/4 = 0.35 both sides -> 0.8/0.35
    assert got[(10, 11)] == (2285714, True)
    # hub: avg_k(1) = 0.8, avg_k(2) = 0.35 -> 0.8/0.575
    assert got[(1, 2)] == (1391304, True)
    assert got[(10, 11)][0] > got[(1, 2)][0]
    assert (40, 41) not in got
    # weak pairs fall under the 1.05 confidence bar: 0.2/0.35 < 1
    assert got[(10, 20)][1] is False


def test_margin_cand_cap_pinned_by_recompute(spark):
    """The r12 per-endpoint candidate cap is a definition, not a best-effort
    prune — pin it with a first-principles Python recompute of the capped
    rule (rank by sim6 desc then neighbor id; keep a pair iff it sits
    inside EITHER endpoint's cap; stats from the top-k of the capped
    list) on a corpus where the cap actually binds."""
    from cupertino_nvr_spark.llm.similarity import margin_scored_pairs

    # two hubs (1 and 2) with 8 strong spokes each, joined by a weak
    # bridge: the bridge ranks 9th for BOTH endpoints, so cap=5 drops it;
    # every hub-spoke pair survives via the spoke's (short) capped list
    rows = [(1, 10 + i, round(0.9 - 0.05 * i, 6)) for i in range(8)]
    rows += [(2, 20 + i, round(0.9 - 0.05 * i, 6)) for i in range(8)]
    rows += [(1, 2, 0.1), (3, 4, 0.7), (5, 6, -0.2)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, sim double")
    cap, k = 5, 2

    # Python recompute of the capped definition
    cand: dict[int, list[tuple[int, int]]] = {}
    for a, b, s in rows:
        s6 = round(s * 1_000_000)
        cand.setdefault(a, []).append((b, s6))
        cand.setdefault(b, []).append((a, s6))
    capped = {
        x: sorted(lst, key=lambda t: (-t[1], t[0]))[:cap]
        for x, lst in cand.items()
    }
    stats = {
        x: (sum(s6 for _, s6 in lst[:k]), len(lst[:k]))
        for x, lst in capped.items()
    }
    keep = {
        (min(x, n), max(x, n))
        for x, lst in capped.items()
        for n, _ in lst
    }
    want = {}
    for a, b, s in rows:
        s6 = round(s * 1_000_000)
        if (a, b) not in keep or s6 <= 0:
            continue
        sa, ca = stats[a]
        sb, cb = stats[b]
        den = sa * cb + sb * ca
        if den <= 0:
            continue
        want[(a, b)] = (2 * s6 * ca * cb * 1_000_000) // den

    got = {
        (r.id_a, r.id_b): r.margin_ppm
        for r in margin_scored_pairs(pairs, k=k, cand_cap=cap).collect()
    }
    assert got == want
    # the cap must actually bind on this corpus: the bridge is outside
    # BOTH hubs' top-5 and has no other sponsor, so it must be gone —
    # while every hub-spoke pair survives via the spoke's short list
    assert (1, 2) not in got
    assert (1, 17) in got and (2, 27) in got
    assert len(cand[1]) > cap
    # and a cap below k is a loud error, not silently-wrong stats
    import pytest as _pytest

    with _pytest.raises(ValueError):
        margin_scored_pairs(pairs, k=4, cand_cap=3)


def test_margin_cap_profile_row32_is_the_declared_shortlist(spark):
    """The profile's cap=32 configuration must be the DECLARED
    embedding_margin_pairs definition: same survivors feeding the same
    margin arithmetic, so the cap=32 top-100 set equals the declared
    query's pair set, and the margins are cap-invariant (top-4 stats
    come from ranks <= 4 <= every profiled cap)."""
    from cupertino_nvr_spark.llm.dedup import embedding_neardup_pairs
    from cupertino_nvr_spark.llm.similarity import margin_scored_pairs
    from cupertino_nvr_spark.plans.llm import augmented_embeddings

    declared = {
        (r.id_a, r.id_b): r.margin_ppm
        for r in REGISTRY["embedding_margin_pairs"].spark(spark, SF).collect()
    }
    aug = augmented_embeddings(spark, SF)
    pairs = embedding_neardup_pairs(aug, threshold=-1.0, per_cell_cap=64)
    m = margin_scored_pairs(pairs, k=4, cand_cap=64, include_rank=True)
    prof32 = {
        (r.id_a, r.id_b): r.margin_ppm
        for r in m.filter(F.col("pair_rank") <= 32)
        .orderBy(F.col("margin_ppm").desc(), "id_a", "id_b")
        .limit(100)
        .collect()
    }
    assert prof32 == declared
    # and the registered profile's row must agree with the recount
    prof = {
        r.cap: (r.n_pairs, r.top100_overlap)
        for r in REGISTRY["embedding_margin_cap_profile"].spark(spark, SF).collect()
    }
    assert prof[64][1] == 100  # the reference overlaps itself fully
    assert set(prof) == {8, 16, 32, 64}
    # survivor count is monotone in the cap
    assert prof[8][0] <= prof[16][0] <= prof[32][0] <= prof[64][0]

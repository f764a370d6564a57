"""Streaming MinHash-LSH near-dup candidate generation — the streaming
twin of the batch ``lsh_candidates`` banding (llm/dedup.py).

An ingestion pipeline wants near-dup CANDIDATES for each arriving
document against everything already ingested, without re-banding the
corpus per batch. Keyed state per (band_idx, band_key) bucket holds the
doc ids seen in that bucket; a micro-batch's new members pair against
the stored members plus lower-id members of the same batch, so each
unordered candidate pair is emitted exactly at the first batch where the
two docs co-occupy a bucket. The union of emitted pairs (distinct —
a pair can surface through several bands, once per band bucket at most)
equals the batch candidate set on the same corpus, pinned in
``tests/test_streaming.py``.

Scale posture: state is the band membership itself — O(docs × bands)
ids sharded by bucket key, each entry 8 bytes. ``band_cap`` bounds the
hot-bucket blowup exactly like the batch path, with the streaming
semantics difference made explicit: the batch form drops over-full
buckets ENTIRELY (membership is known up front), while the stream caps
a bucket's stored membership at the cap as it fills — the first
``band_cap`` members still pair (the bucket was small when they
arrived), later arrivals into a saturated bucket emit nothing from that
bucket and are not stored. Members of a saturated bucket still pair
through their other, more selective bands — the same recall argument as
the batch cap.

Reference analog: none (north-star dedup family, SURVEY §2.11); the
batch twin is ``docs_minhash_lsh_candidates``.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

NEARDUP_OUTPUT_SCHEMA = "id_a bigint, id_b bigint"
NEARDUP_STATE_SCHEMA = "ids array<bigint>"


def lsh_candidates_stream(
    members: DataFrame,
    id_col: str = "doc_id",
    band_cap: int = 64,
) -> DataFrame:
    """(band_idx, band_key, id) membership stream -> candidate pair stream.

    ``members`` carries one row per (doc, band): build it with the same
    ``lsh_band_membership`` projection the batch path uses (minus its
    corpus-wide hot-bucket anti-join — capping is stateful here).
    """

    def update_fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (stored,) = state.get if state.exists else ([],)
        stored = list(stored)
        out_a: list[int] = []
        out_b: list[int] = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # deterministic intra-batch order; drop re-observations
            seen = set(stored)
            for i in sorted(int(x) for x in pdf[id_col].values):
                if i in seen:
                    continue
                if len(stored) >= band_cap:
                    break  # saturated bucket: emit/store nothing more
                for j in stored:
                    a, b = (j, i) if j < i else (i, j)
                    out_a.append(a)
                    out_b.append(b)
                stored.append(i)
                seen.add(i)
        if not out_a and not state.exists and not stored:
            return
        state.update((stored,))
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return members.groupBy("band_idx", "band_key").applyInPandasWithState(
        update_fn,
        NEARDUP_OUTPUT_SCHEMA,
        NEARDUP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def embedding_lsh_candidates_stream(
    members: DataFrame,
    id_col: str = "vec_id",
    bucket_cap: int = 256,
) -> DataFrame:
    """Streaming embedding near-dup candidates — the streaming twin of
    ``embedding_neardup_pairs_lsh``'s centered sign-bit LSH blocking.

    ``members`` is a (vec_id, bucket) probe-bucket membership stream:
    build it by applying ``llm.dedup.embedding_bucket_membership`` with
    FIXED calibration offsets (``lsh_plane_offsets``) to the arriving
    embeddings — the projection is stateless per row, so batch and stream
    compute identical buckets. An arriving embedding pairs against every
    prior member of each bucket it probes, via the same keyed-state shape
    as the text-side MinHash TWIN (``lsh_candidates_stream``): one state
    entry per bucket holding member ids, ``bucket_cap`` saturating hot
    buckets with first-cap-members-still-pair semantics (later arrivals
    into a saturated bucket emit/store nothing there but still pair
    through their other probe buckets).

    CAP-SEMANTICS DIVERGENCE FROM THE BATCH EMBEDDING PATH: the batch
    ``embedding_neardup_pairs_lsh`` drops an over-cap bucket's membership
    ENTIRELY (a corpus-wide left-anti join — membership is known up
    front), while this stream keeps and pairs the first ``bucket_cap``
    arrivals. With equal finite caps the two therefore produce different
    (overlapping) candidate sets on hot buckets; batch/stream equality is
    pinned UNCAPPED only (tests/test_streaming.py). Both are recall
    heuristics with the same argument — a saturated bucket's members
    still meet through their more selective probe buckets.

    The emitted pairs are CANDIDATES (bucket co-occupancy, pre-cosine):
    score them with the exact kernel downstream, same as the batch chain.
    With an uncapped bucket the distinct pair union equals the batch
    membership self-join, pinned in tests/test_streaming.py.

    State: O(vectors × (1 + n_flip)) ids sharded by bucket key, 8 bytes
    each — identical asymptotics to the text twin's band membership.
    """
    m = members.select(
        F.lit(0).alias("band_idx"),
        F.col("bucket").cast("string").alias("band_key"),
        F.col(id_col).alias("doc_id"),
    )
    return lsh_candidates_stream(m, band_cap=bucket_cap)


SIMHASH_ND_OUTPUT_SCHEMA = "id_a bigint, id_b bigint, hamming int, is_sig_exact int"
SIMHASH_ND_STATE_SCHEMA = "ids array<bigint>, sigs array<bigint>"


def simhash_neardup_stream(
    members: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    tau: int = 3,
    band_cap: int = 64,
) -> DataFrame:
    """Streaming SimHash near-dup pairing — the streaming twin of
    ``llm.dedup.simhash_neardup_pairs`` (the registered
    docs_simhash_neardup definition).

    ``members`` carries one row per (doc, band) WITH the doc's signature:
    build it by computing the stateless per-row signature
    (``llm.dedup.simhash_stateless`` — pinned equal to the batch
    explode+groupBy form) and exploding the shared
    ``simhash_band_membership`` banding. Keyed state per (band_idx,
    band_key) stores (id, signature) for the bucket's members; an
    arriving doc Hamming-verifies against the stored members IN the
    stateful operator (a 32-bit xor/popcount per stored member — the
    verification the batch path does with a join happens at emit time
    here), so a verified pair is emitted exactly at the first micro-batch
    where its docs co-occupy a band bucket. The distinct union of emitted
    pairs equals the batch pairing for ANY chopping (a pair sharing
    several bands surfaces once per band bucket at most), pinned in
    tests/test_streaming.py with the same uncapped-equality convention as
    the MinHash twin: the batch hot-cap drops over-full buckets ENTIRELY
    (membership known up front) while the stream saturates at
    ``band_cap`` with first-cap-members-still-pair semantics.

    State: O(docs × bands) (id, sig) entries sharded by bucket key, 16
    bytes each — the same asymptotics as the MinHash twin's band
    membership plus the 8-byte signature.
    """

    def update_fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, sigs = state.get
            ids, sigs = list(ids), list(sigs)
        else:
            ids, sigs = [], []
        known = set(ids)
        out_a: list[int] = []
        out_b: list[int] = []
        out_h: list[int] = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            arrivals = sorted(
                (int(i), int(s))
                for i, s in zip(pdf[id_col].values, pdf[sig_col].values)
            )
            for i, s in arrivals:
                if i in known:
                    continue
                if len(ids) >= band_cap:
                    break  # saturated bucket: emit/store nothing more
                for j, sj in zip(ids, sigs):
                    h = (sj ^ s).bit_count()
                    if h <= tau:
                        a, b = (j, i) if j < i else (i, j)
                        out_a.append(a)
                        out_b.append(b)
                        out_h.append(h)
                ids.append(i)
                sigs.append(s)
                known.add(i)
        if not out_a and not state.exists and not ids:
            return
        state.update((ids, sigs))
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": out_a,
                    "id_b": out_b,
                    "hamming": out_h,
                    "is_sig_exact": [int(h == 0) for h in out_h],
                }
            )

    return members.groupBy("band_idx", "band_key").applyInPandasWithState(
        update_fn,
        SIMHASH_ND_OUTPUT_SCHEMA,
        SIMHASH_ND_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


__all__ = [
    "lsh_candidates_stream",
    "embedding_lsh_candidates_stream",
    "simhash_neardup_stream",
    "NEARDUP_OUTPUT_SCHEMA",
    "SIMHASH_ND_OUTPUT_SCHEMA",
]

"""Deduplication operators: exact, MinHash(+LSH), SimHash, n-gram Jaccard.

Scale design notes (the point of each variant):

- **Exact / fingerprint dedup** — hash-groupBy on a digest column. One
  shuffle on the digest; map-side partial aggregation makes the reduce side
  tiny. The only correct answer for byte-identical dups.
- **n-gram Jaccard** — the *relational* formulation (shingle → explode →
  self-join on shingle → pair-count) rather than the quadratic all-pairs
  loop: cost is sum over shingles of (docs sharing it)², which posting-list
  length caps keep bounded. Still the expensive exact path; use it to
  verify candidates, not to generate them.
- **MinHash + LSH banding** — the scale path for near-dup at 100 TB:
  signature is k mins over shingle hashes (linear scan, no pairs), banding
  turns "similar" into "equal band key", so candidate generation is an
  equi-join Spark executes as a hash join. Only candidates pay the exact
  Jaccard check.
- **SimHash** — one 64-bit (here 16-bit for oracle tractability) signature
  per doc; near-dup = small Hamming distance. Signature build is a single
  explode + groupBy-sum, fully JVM-side.

Hashing: the oracle-checked queries use md5-derived integers (identical in
Spark and DuckDB); ``hash_fn='xxhash64'`` switches to the cheaper JVM
xxhash64 for production use (no cross-engine oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cupertino_nvr_spark.llm.similarity import SIM_DECIMALS
from cupertino_nvr_spark.llm.text import ws_tokens


# MinHash re-mix parameters: one expensive base hash per shingle, then
# num_hashes affine transforms h_j(x) = (a_j*x + b_j) mod P over x = base
# mod P (universal hashing).  P = 2^31-1 keeps a_j*x inside int64; the
# constants are fixed Knuth-style multipliers so Spark and the DuckDB
# oracle compute byte-identical signatures.
MINHASH_P = 2_147_483_647


def minhash_affine(j: int) -> tuple[int, int]:
    a = (2_654_435_761 * (j + 1)) % MINHASH_P
    b = (40_503 * (j + 7) + 1) % MINHASH_P
    return a, b


def md5_int(col: Column, seed: int = 0) -> Column:
    """Deterministic 60-bit integer hash reproducible in DuckDB:
    first 15 hex chars of md5(concat(seed, ':', value))."""
    payload = F.concat(F.lit(str(seed)), F.lit(":"), col)
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("bigint")


def hash_int(col: Column, seed: int = 0, hash_fn: str = "md5") -> Column:
    if hash_fn == "xxhash64":
        return F.xxhash64(col, F.lit(seed))
    return md5_int(col, seed)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams (set semantics, as Jaccard requires).

    NOTE: ``text``'s tokenization is referenced k times inside the lambda;
    pass an already-materialized token *attribute* on hot paths (see
    ``shingle_rows``) — higher-order functions run interpreted, and an
    inlined split() subtree is re-evaluated per element.
    """
    toks = ws_tokens(text)
    grams = F.transform(
        _shingle_spans(F.size(toks), k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        ),
    )
    return F.array_distinct(grams)


def _shingle_spans(n: Column, k: int) -> Column:
    """1-based start positions of the k-gram windows over an n-token doc.

    Guarded: ``F.sequence(1, n-(k-1))`` auto-REVERSES to a descending
    [1, 0] when n < k, which would make the transform lambda index past the
    token array and throw. Docs shorter than k tokens have zero shingles —
    the same empty set the DuckDB oracle's range() produces.
    """
    return F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, extra...], shingle) exploded rows.

    Two-step projection: tokens land as a real column first, so the
    element_at references inside the shingle lambda hit one computed array
    attribute instead of re-running split() per element (CollapseProject
    would otherwise inline the split into every reference).
    """
    keep = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    toked = df.select(*keep, ws_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    grams = F.transform(
        _shingle_spans(F.size(toks), shingle_k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(shingle_k)]
        ),
    )
    return toked.select(*keep, F.explode(F.array_distinct(grams)).alias("shingle"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by digest; keep the lowest id as canonical."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """One row per doc: id + h0..h{n-1} minhash values.

    One base hash per shingle (explode), then ``num_hashes`` affine
    re-mixes mod MINHASH_P, min-aggregated per doc. Cost is linear in
    total shingle count with a single map-side-combined shuffle keyed by
    id — vs hashing every shingle ``num_hashes`` times, whose duplicated
    expression trees also defeat codegen/CSE.
    """
    shingled = shingle_rows(df, text_col, id_col, shingle_k).withColumn(
        "base", F.pmod(hash_int(F.col("shingle"), 0, hash_fn), F.lit(MINHASH_P))
    )
    aggs = []
    for j in range(num_hashes):
        a, b = minhash_affine(j)
        aggs.append(
            F.min((F.lit(a) * F.col("base") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{j}")
        )
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_band_membership(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    band_cap: int = 64,
) -> DataFrame:
    """(id, band_idx, band_key) membership rows from a MinHash signature
    table, with over-full buckets (> ``band_cap`` members) anti-joined
    away — the shared blocking structure behind both candidate-pair
    generation and pairless duplicate clustering."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "_", *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(num_hashes // band_size)
        ]
    )
    exploded = sigs.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key")
    )
    hot = (
        exploded.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > band_cap)
        .select("band_idx", "band_key")
    )
    return exploded.join(hot, ["band_idx", "band_key"], "left_anti")


def lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    band_cap: int = 64,
) -> DataFrame:
    """Banding: docs sharing any band of the signature become a candidate
    pair. Equi-join on (band_idx, band_key) — a plain shuffled hash join.

    ``band_cap`` bounds the hot-band blowup: a band bucket holding m docs
    emits m·(m−1)/2 pairs, so one degenerate bucket (boilerplate text, k
    identical docs) can dominate the whole job quadratically. Buckets
    larger than the cap are dropped via an anti-join against the (tiny by
    construction: ≤ rows/cap keys) hot-bucket set — the standard LSH
    hot-bucket skip. Members of an over-full bucket are still paired
    through their other, more selective bands.
    """
    exploded = lsh_band_membership(sigs, id_col, num_hashes, band_size, band_cap)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_idx") == F.col(f"b.band_idx"))
            & (F.col(f"a.band_key") == F.col(f"b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-doc SimHash signature over distinct whitespace tokens.

    bit b of the signature = sign of sum over tokens of ±1 depending on bit
    b of the token hash. Explode + single groupBy — one shuffle keyed by id.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(ws_tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("th", hash_int(F.col("tok"), 0, hash_fn))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") >= 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def simhash_stateless(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-ROW SimHash — the streaming form of ``simhash``.

    ``simhash`` explodes tokens and aggregates per doc (one shuffle);
    a stream wants the signature as a stateless projection so the only
    stateful operator is the pairing itself. Same token set
    (distinct whitespace tokens), same per-token hash, same ±1 votes and
    >= 0 bit rule, evaluated with array HOFs inside the row — equality
    with the batch form is pinned in tests/test_streaming.py. Docs with
    no tokens are dropped, matching the batch explode (which emits no
    row for an empty token array)."""
    toks = F.array_distinct(ws_tokens(F.col(text_col)))
    ths = F.transform(toks, lambda t: hash_int(t, 0, hash_fn))
    votes = F.aggregate(
        ths,
        F.expr(f"array_repeat(cast(0 as long), {bits})"),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    )
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for b in range(bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    with_votes = df.select(
        F.col(id_col), F.size(toks).alias("_ntok"), votes.alias("_votes")
    ).filter(F.col("_ntok") > 0)
    sig = None
    for b in range(bits):
        bit = F.when(F.element_at(F.col("_votes"), b + 1) >= 0, F.lit(2**b)).otherwise(
            F.lit(0)
        )
        sig = bit if sig is None else sig + bit
    return with_votes.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def simhash_band_membership(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bits: int = 32,
    n_bands: int = 4,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band_idx, band_key) membership rows from a SimHash signature
    table — bits/n_bands consecutive bits per band, so by pigeonhole any
    pair within Hamming (n_bands - 1) shares a band. The shared banding
    projection behind the batch pairing (docs_simhash_neardup, which
    adds its corpus-wide hot-band anti-join) and the streaming twin
    (capping is stateful there). No hot-cap here: membership is
    incremental knowledge in a stream."""
    if n_bands <= 0 or bits % n_bands != 0:
        # silent remainder bits would never be banded, voiding the
        # pigeonhole guarantee (a pair within Hamming n_bands-1 whose
        # differing bits all sit in the uncovered high bits shares no
        # band) — fail loudly, the margin cand_cap < k convention.
        # n_bands <= 0 is guarded here too: 0 would ZeroDivisionError on
        # the modulo and a negative count satisfies Python's modulo
        # (32 % -4 == 0) while producing a nonsensical negative mask.
        raise ValueError(
            f"n_bands={n_bands} must be a positive divisor of bits={bits}: "
            "uncovered remainder bits would break the pigeonhole recall "
            "guarantee"
        )
    band_bits = bits // n_bands
    mask = 2**band_bits - 1
    arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], F.explode(arr).alias("band")
    ).select(
        id_col,
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
        *extra_cols,
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    n_bands: int = 4,
    tau: int = 3,
    band_cap: int | None = 64,
    hash_fn: str = "md5",
) -> DataFrame:
    """Batch SimHash near-dup pairing (Charikar 2002 / Manku et al. 2007):
    banded candidates (shared ``simhash_band_membership`` projection, hot
    bands above ``band_cap`` anti-joined away — the MinHash band-cap
    rule), exact Hamming verification <= ``tau`` on candidates only.
    THE definition behind the registered docs_simhash_neardup query and
    the equality target of the streaming twin
    (streaming/neardup.py::simhash_neardup_stream).

    ``band_cap=None`` skips the hot-band prune entirely — the UNCAPPED
    semantics the stream=batch equality pin is stated on (with no cap
    nothing saturates, so the twins agree exactly for any micro-batch
    chopping; the registered anchor row docs_simhash_neardup_uncapped is
    exactly this form). The pigeonhole recall guarantee is then
    unconditional, at the price of the unbounded Σ|bucket|² candidate
    term on clumpy corpora — production keeps the capped default."""
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    # r14: the signature table is consumed by FOUR subtrees (both sides
    # of the candidate self-join, plus the two signature re-attach joins
    # it used to pay) and Spark cannot CSE across self-join arms — the
    # pre-r14 plan recomputed the whole explode+32-vote aggregate (and
    # its 5-scan augmented-union input) four times, zero ReusedExchange.
    # Materialize the (id, simhash) table once — 16 bytes/doc, the
    # blocking family's standard lineage cut — and carry the signature
    # THROUGH the banding so Hamming verification needs no join at all:
    # distinct over (id_a, id_b, sh_a, sh_b) equals distinct over the
    # pair (signatures are functionally dependent on ids), so the result
    # is row-identical while two full joins and three signature rebuilds
    # disappear.
    sig = reliable_checkpoint(simhash(docs, text_col, id_col, bits, hash_fn))
    bands = simhash_band_membership(
        sig, id_col, bits, n_bands, extra_cols=("simhash",)
    )
    if band_cap is None:
        kept = bands
    else:
        hot = (
            bands.groupBy("band_idx", "band_key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > band_cap)
            .select("band_idx", "band_key")
        )
        kept = bands.join(hot, ["band_idx", "band_key"], "left_anti")
    a = kept.select(
        F.col(id_col).alias("id_a"),
        "band_idx",
        "band_key",
        F.col("simhash").alias("sh_a"),
    )
    b = kept.select(
        F.col(id_col).alias("id_b"),
        "band_idx",
        "band_key",
        F.col("simhash").alias("sh_b"),
    )
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return cand.select(
        "id_a",
        "id_b",
        hamming.alias("hamming"),
        (hamming == 0).cast("int").alias("is_sig_exact"),
    ).filter(F.col("hamming") <= tau)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    shingle_k: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int = 256,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via the relational (posting-list)
    formulation. ``block_col`` restricts pairs to the same block — at scale
    you never run this unblocked.

    ``max_shingle_df`` drops stop-shingles (document frequency above the
    cap within a block) BEFORE the self-join: a shingle shared by m docs
    contributes m² join rows, so one boilerplate phrase can make the job
    quadratic in corpus size. The hot set is tiny by construction
    (≤ rows/cap distinct keys), removed with an anti-join, and the Jaccard
    is then EXACT over the non-stop-shingle universe — sizes and
    intersections both count only kept shingles, so identical docs still
    score 1.0.
    """
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    keys = ["shingle", *((block_col,) if block_col else ())]
    # r14: the shingle table feeds FIVE arms (stop-shingle count, the
    # anti-join left side, per-doc sizes, and both pair-join sides) and
    # Spark cannot CSE across them — the explode + tokenization ran five
    # times per query. Materialize it once; the posting rows are the
    # structure a posting-list join materializes anyway.
    shingled = reliable_checkpoint(
        shingle_rows(
            df, text_col, id_col, shingle_k,
            extra_cols=(block_col,) if block_col else (),
        )
    )
    hot = (
        shingled.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_shingle_df)
        .select(*keys)
    )
    shingled = shingled.join(hot, keys, "left_anti")
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    join_cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        join_cond = join_cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    common = (
        a.join(b, join_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )
    return out


def embedding_cell_members(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int | None = None,
    n_assign: int = 2,
    n_rows: int | None = None,
) -> DataFrame:
    """Multi-probe IVF cell membership: (member_id, mvec, cell_id), one
    row per (vector, assigned cell), top-``n_assign`` cells by rounded
    centroid cosine (ties on cell id). The blocking stage of
    ``embedding_neardup_pairs``, factored out so the cell-budget profile
    (plans/llm.py::embedding_ivf_cell_budget_profile) sweeps the EXACT
    membership the registered near-dup family pays for — candidate volume
    and base-pair co-location can be measured per ``max_cells`` setting
    without scoring the candidate stream (the profile's whole point: the
    Σ|cell|² term is a function of membership alone). Assignment is one
    ``similarity.assign_cells_arrow`` pass (centroid matrix in the task
    closure): no n x |C| row materialization and no member-keyed
    exchange carrying the vector."""
    from cupertino_nvr_spark.llm.similarity import (
        IVF_MAX_CELLS,
        as_double,
        assign_cells_arrow,
        ensure_min_parallelism,
        ivf_centroids,
    )

    centroids = ivf_centroids(
        vectors,
        id_col,
        IVF_MAX_CELLS if max_cells is None else max_cells,
        n_rows=n_rows,
    )
    cent = centroids.select(
        F.col(id_col).alias("cell_id"), as_double(F.col(vec_col)).alias("centvec")
    )
    vecs = ensure_min_parallelism(
        vectors.select(
            F.col(id_col).alias("member_id"), as_double(F.col(vec_col)).alias("mvec")
        )
    )
    return assign_cells_arrow(vecs, cent, n_top=n_assign, keep_vec=True)


def embedding_candidate_ids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int | None = None,
    n_assign: int = 2,
    n_rows: int | None = None,
    members: DataFrame | None = None,
) -> DataFrame:
    """The blocking chain's DISTINCT candidate pair SET, id-only:
    (id_a, id_b) with id_a < id_b, one row per pair co-occupying at
    least one assigned cell — ``embedding_neardup_pairs``' `pairs` stage
    without the cosine (sim is pair-intrinsic, so the set is identical).
    The skinny self-join shuffles 16-byte rows, never vectors. THE
    shared definition behind the cell-budget profile's swept counts and
    the sf1 A/B harness — one function, so a measurement can never
    drift from the registered blocking (the _emb_neardup_chain_sql /
    embedding_cell_members convention)."""
    # ``members``: a caller holding a pre-built (and typically
    # checkpointed) membership frame passes it instead of paying the
    # assignment chain again — the cell-budget profile consumes every
    # swept membership TWICE (both self-join arms) plus the base chain,
    # so without the passthrough each consumption re-ran the whole
    # scan+assign upstream (no CSE across self-join arms).
    mem = (
        members
        if members is not None
        else embedding_cell_members(
            vectors, id_col, vec_col, max_cells, n_assign, n_rows
        )
    ).select("member_id", "cell_id")
    return (
        mem.select("cell_id", F.col("member_id").alias("id_a"))
        .join(mem.select("cell_id", F.col("member_id").alias("id_b")), "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    max_cells: int | None = None,
    n_assign: int = 2,
    per_cell_cap: int | None = None,
    n_rows: int | None = None,
    members: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a, id_b, sim) with id_a < id_b
    and rounded cosine >= ``threshold``.

    ``members``: pre-built (member_id, mvec, cell_id) membership frame —
    same passthrough contract as ``embedding_candidate_ids``; the chain
    downstream of the membership is identical either way.

    ``n_rows``: pre-counted corpus size forwarded to the centroid build
    (``ivf_centroids`` stride derivation), mirroring
    ``embedding_candidate_ids`` — a caller that already counted the
    corpus (the cell-budget profile counts it ONCE for every swept
    chain) must not pay a redundant count job here.

    The scale path mirrors IVF ANN: every vector is multi-probe-assigned to
    its ``n_assign`` nearest centroids (a hash-sampled ~sqrt(n) subset,
    capped — see ``ivf_centroids``), and only same-cell pairs pay
    the exact cosine — a self-equi-join on cell_id instead of the O(n^2)
    cross product. Single-probe assignment can split an eps-perturbed pair
    whose argmax cell sits on a boundary (observed at sf0.001); with top-2
    assignment the pair is missed only if BOTH rank boundaries flip the same
    way, so recall at thresholds near 1 is effectively exact while cost stays
    sum over cells of |cell|^2. Completes the dedup family of llm/dedup.py
    for embedding columns (reference has no analog; north star per
    /root/repo/BASELINE.json).

    ``per_cell_cap`` (the mining-family consumer, r12): keep only each
    member's ``per_cell_cap`` best candidates WITHIN each of its cells
    (rank by rounded sim desc, then neighbor id — the same total order
    ``margin_scored_pairs`` ranks by). For a downstream consumer that
    keeps only pairs inside some endpoint's global top-C candidates
    (C <= per_cell_cap, computed over the deduped cross-cell union),
    this prune is EXACTLY result-preserving, not best-effort: a
    candidate's cell-local rank never exceeds its global rank (the
    candidates above it in a cell are a subset of the candidates above
    it globally), so every global-top-C candidate survives in each cell
    that generated it, and a pruned-away candidate has global rank > C
    in every cell — its removal can only shift ranks of candidates that
    were already past C. The win is WHERE the volume dies: the
    sum(|cell|^2) candidate stream is cut to <= 2 * cap * n directed
    rows BEFORE the pair distinct and any downstream shuffle, and the
    per-(cell, member) window reuses the pair join's existing cell_id
    partitioning (no extra exchange — just a sort). At sf1 this change
    alone took the unthresholded margin chain from 78.3 s to 41-48 s
    (two order-swapped probes; an untouched control query measured
    75-77 s in the same window).
    """
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import dot, norm

    if members is None:
        members = embedding_cell_members(
            vectors, id_col, vec_col, max_cells, n_assign, n_rows
        )
    # norm hoisting (r14): cosine pays dot + BOTH norms per candidate
    # pair — 3 x dim flops on the chain's dominant Σ|cell|² stream.
    # A member's norm is pair-invariant, so compute it once per
    # membership row and divide by the product: try_divide(dot(a,b),
    # norm(a) * norm(b)) with the two factors hoisted is the same
    # IEEE expression (hoisting never changes a double), now ~dim
    # flops per pair instead of 3 x dim.
    members = members.withColumn("_mn", norm(F.col("mvec")))
    a = members.select(
        F.col("cell_id"),
        F.col("member_id").alias("id_a"),
        F.col("mvec").alias("avec"),
        F.col("_mn").alias("_na"),
    )
    b = members.select(
        F.col("cell_id"),
        F.col("member_id").alias("id_b"),
        F.col("mvec").alias("bvec"),
        F.col("_mn").alias("_nb"),
    )
    pairs = a.join(b, "cell_id").filter(F.col("id_a") < F.col("id_b"))
    sim = F.try_divide(
        dot(F.col("avec"), F.col("bvec")), F.col("_na") * F.col("_nb")
    )
    scored = pairs.select(
        "cell_id",
        "id_a",
        "id_b",
        F.round(sim, SIM_DECIMALS).alias("sim"),
    )
    if per_cell_cap is not None:
        # cosine paid once per cell-pair, THEN fanned to both directions;
        # the (cell_id, member) window clusters by a superset of the pair
        # join's cell_id partitioning, so Catalyst plans a sort, not a
        # new exchange — the full candidate volume is never shuffled
        directed = scored.select(
            "cell_id",
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("x"),
                        F.col("id_b").alias("n"),
                        F.col("sim").alias("sim"),
                    ),
                    F.struct(
                        F.col("id_b").alias("x"),
                        F.col("id_a").alias("n"),
                        F.col("sim").alias("sim"),
                    ),
                )
            ).alias("e"),
        ).select("cell_id", "e.*")
        wcell = Window.partitionBy("cell_id", "x").orderBy(
            F.col("sim").desc(), F.col("n")
        )
        scored = (
            directed.withColumn("rc", F.row_number().over(wcell))
            .filter(F.col("rc") <= per_cell_cap)
            .select(
                F.least("x", "n").alias("id_a"),
                F.greatest("x", "n").alias("id_b"),
                "sim",
            )
        )
    return (
        scored.select("id_a", "id_b", "sim")
        .filter(F.col("sim") >= threshold)
        .distinct()  # a pair sharing both probed cells counts once
    )


def lsh_probe_buckets(cprojs: Column, n_planes: int, n_flip: int) -> Column:
    """Probe-bucket array (base sign bucket + ``n_flip`` least-confident
    flips, distinct) from CENTERED hyperplane projections.

    The rank key is |centered projection| ROUNDED to SIM_DECIMALS with
    the plane index as tie-break: raw doubles differ between engines in
    the last ulp (summation order), and two planes of one vector CAN
    land within an ulp of each other — rounding + a deterministic
    tie-break makes the flip choice replayable in an exact SQL oracle
    (a rank flip would change which buckets get probed, hence the
    emitted pair set). A key sitting exactly on a rounding boundary is
    the only residual risk, same measure as the sign test at zero.

    Shared by the batch near-dup path (``embedding_neardup_pairs_lsh``)
    and the streaming membership projection
    (``embedding_bucket_membership``) so the two can never drift.
    """
    base = None
    for p in range(n_planes):
        bit = F.when(cprojs[p] >= 0, F.lit(2**p)).otherwise(F.lit(0))
        base = bit if base is None else base + bit
    base = base.cast("int")
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.round(F.abs(cprojs[p]), SIM_DECIMALS).alias("a"),
                    F.lit(p).alias("plane"),
                )
                for p in range(n_planes)
            ]
        )
    )  # weakest |centered projection| first
    powers = F.array(*[F.lit(1 << p) for p in range(n_planes)])
    flips = F.transform(
        F.slice(ranked, 1, n_flip),
        lambda s: base.bitwiseXOR(F.element_at(powers, s["plane"] + 1)).cast("int"),
    )
    return F.array_distinct(F.concat(F.array(base), flips))


def lsh_plane_offsets(
    vectors: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
) -> list[float]:
    """Per-plane mean projections of a CALIBRATION corpus, collected to
    the driver (one 1-row aggregate — a calibration-time action, not a
    per-query one).

    The streaming near-dup path must center against FIXED offsets: a
    stream has no corpus-wide mean, and an offset that drifted between
    micro-batches would put the same vector in different buckets at
    different times, silently missing pairs. Production recipe: compute
    offsets once from a bootstrap sample (any few million rows — the mean
    projection converges fast), broadcast as literals, re-calibrate only
    with a state rebuild.
    """
    from cupertino_nvr_spark.llm.similarity import as_double, lsh_projections

    row = (
        vectors.select(
            lsh_projections(as_double(F.col(vec_col)), dim, n_planes).alias("projs")
        )
        .agg(F.array(*[F.avg(F.col("projs")[p]) for p in range(n_planes)]).alias("o"))
        .collect()[0]
    )
    if any(x is None for x in row["o"]):
        raise ValueError(
            "lsh_plane_offsets: empty calibration corpus (avg projection is "
            "NULL) — pass a non-empty bootstrap sample"
        )
    return [float(x) for x in row["o"]]


def embedding_bucket_membership(
    vectors: DataFrame,
    offsets: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_flip: int = 2,
) -> DataFrame:
    """(member_id, bucket) probe-bucket membership with FIXED centering
    offsets — the streaming-safe projection: stateless per row, so it
    applies unchanged to a micro-batch or the whole corpus. Feed the
    result into ``streaming.neardup.embedding_lsh_candidates_stream`` (or
    self-join on ``bucket`` for the equivalent batch candidate set).
    """
    from cupertino_nvr_spark.llm.similarity import as_double, lsh_projections

    n_planes = len(offsets)
    offs = F.array(*[F.lit(float(o)) for o in offsets])
    projected = vectors.select(
        F.col(id_col).alias("member_id"),
        as_double(F.col(vec_col)).alias("mvec"),
    ).withColumn(
        "cprojs",
        F.zip_with(
            lsh_projections(F.col("mvec"), dim, n_planes),
            offs,
            lambda pr, o: pr - o,
        ),
    )
    return projected.select(
        "member_id",
        F.explode(
            lsh_probe_buckets(F.col("cprojs"), n_planes, n_flip)
        ).alias("bucket"),
    )


def embedding_neardup_pairs_lsh(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    dim: int = 64,
    n_planes: int | None = None,
    n_flip: int = 2,
    bucket_cap: int = 256,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via CENTERED sign-bit LSH blocking — the
    linear-time alternative to ``embedding_neardup_pairs``'s IVF cells.

    Why it exists: single-level exact-assignment IVF blocking is Θ(n^1.5)
    at its own optimum (assignment n·c + within-cell pairs n²/c is
    minimized at c = sqrt(n)) — measured 11.7-18.6x for 10x data at sf1
    (round 7). Hyperplane buckets cost O(n · planes · dim) to assign with
    no centroid set, and with ``n_planes ≈ log2(n)`` the bucket count
    tracks n, keeping expected candidate volume Σ|bucket|² at O(n).

    Two scale guards both matter in practice (round-7 measurements):

    - **Centering.** Raw sign bits assume a corpus centered at the
      origin; this corpus is not, so fixed hyperplanes split it 90/10
      instead of 50/50 and collapse 2^12 buckets into ~250 with a
      210-member hot bucket at sf0.1 — the candidate join degenerates
      toward quadratic (36.7x for 10x data, WORSE than IVF). Subtracting
      the per-plane mean projection (ONE 1-row aggregate, broadcast back
      — still linear) restores balanced splits. Exact copies project
      identically, so centering never separates them.
    - **Hot-bucket cap.** Correlated dimensions leave residual skew, so
      buckets with more than ``bucket_cap`` members are anti-joined out
      of candidate generation — the same documented recall-for-boundedness
      trade as the MinHash band cap (`lsh_band_membership`). A dropped
      bucket costs recall only for pairs WHOLLY inside it; the multi-probe
      flips give those pairs other chances to meet.

    A 0.99-cosine pair (≈8 degrees apart) flips each centered plane with
    small probability; both sides also probe their ``n_flip``
    least-confident flip buckets, and near-equal vectors rank the same
    planes weakest, so the probe sets align where it matters. Candidates
    are distinct-deduped BEFORE the exact cosine so a pair sharing
    several probed buckets pays the kernel once. Recall vs the IVF-exact
    pair set is pinned in tests/test_similarity_kernels.py.
    """
    from cupertino_nvr_spark.llm.similarity import (
        as_double,
        dot,
        ensure_min_parallelism,
        lsh_projections,
        norm,
    )

    if n_planes is None:
        n = vectors.count() if n_rows is None else n_rows
        n_planes = max(8, min(20, max(n, 2).bit_length()))

    projected = ensure_min_parallelism(
        vectors.select(
            F.col(id_col).alias("member_id"),
            as_double(F.col(vec_col)).alias("mvec"),
        )
    ).withColumn("projs", lsh_projections(F.col("mvec"), dim, n_planes))
    # per-plane mean projection: one 1-row aggregate, broadcast back —
    # centers every hyperplane on the corpus so each bit splits ~50/50
    offsets = projected.agg(
        F.array(
            *[F.avg(F.col("projs")[p]) for p in range(n_planes)]
        ).alias("offs")
    )
    centered = projected.crossJoin(F.broadcast(offsets)).withColumn(
        "cprojs", F.zip_with("projs", "offs", lambda pr, o: pr - o)
    )
    # norm hoisting (r14): a member's norm is pair-invariant — compute
    # it once per member row (BEFORE the bucket explode, so the value
    # just rides the fan-out) and score pairs as try_divide(dot,
    # norm_a * norm_b): the identical IEEE expression cosine builds, at
    # ~1/3 of its per-pair flops.
    exploded = centered.select(
        "member_id",
        "mvec",
        norm(F.col("mvec")).alias("_mn"),
        F.explode(
            lsh_probe_buckets(F.col("cprojs"), n_planes, n_flip)
        ).alias("bucket"),
    )
    hot = (
        exploded.groupBy("bucket")
        .agg(F.count("*").alias("nb"))
        .filter(F.col("nb") > bucket_cap)
        .select("bucket")
    )
    exploded = exploded.join(F.broadcast(hot), "bucket", "left_anti")
    a = exploded.select(
        "bucket",
        F.col("member_id").alias("id_a"),
        F.col("mvec").alias("avec"),
        F.col("_mn").alias("_na"),
    )
    b = exploded.select(
        "bucket",
        F.col("member_id").alias("id_b"),
        F.col("mvec").alias("bvec"),
        F.col("_mn").alias("_nb"),
    )
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "avec", "bvec", "_na", "_nb")
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = F.round(
        F.try_divide(
            dot(F.col("avec"), F.col("bvec")), F.col("_na") * F.col("_nb")
        ),
        SIM_DECIMALS,
    )
    return cand.select("id_a", "id_b", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )

"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing (BASELINE north star; SURVEY §7.3 M5).

The raw ``documents`` corpus contains no duplicates, so dedup queries run
over a deterministically *augmented* corpus both engines build identically:
exact copies (doc_id%7, +1M), near copies with a tail marker (doc_id%11,
+2M), upper-cased variants (doc_id%13, +3M), and two-token truncations
(doc_id%17, +4M). Exact dedup must catch only the first group, fingerprint
dedup the first and third, MinHash/Jaccard all three. The truncated group
has fewer tokens than the shingle width k=3 and therefore an EMPTY shingle
set — it exists to pin the short-document guard in both engines (an
unguarded F.sequence reverses to [1,0] when n<k and indexes out of
bounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cupertino_nvr_spark.llm.dedup import (
    MINHASH_P,
    exact_dedup,
    lsh_candidates,
    minhash_affine,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from cupertino_nvr_spark.llm.multimodal import decode_features, frame_sample_plan
from cupertino_nvr_spark.llm.similarity import (
    IVF_MAX_CELLS,
    MAX_PROBES,
    brute_force_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)
from cupertino_nvr_spark.llm.text import (
    avg_token_len,
    chunk_spans,
    fingerprint,
    max_token_run_frac,
    predict_lang,
    punct_ratio,
    quality_score,
    regex_tokens,
    repetition_gate,
    token_count,
    ws_tokens,
)
from cupertino_nvr_spark.plans.registry import register
from cupertino_nvr_spark.sources.tables import load_table

TAIL = " duplicated tail marker"

# Deterministic probe-panel bound for every brute-force (exact) top-k
# consumer: probes are vec_id % 100 == 0 AND vec_id below this, so the
# probe side holds at most MAX_PROBES (65536) rows NO MATTER the corpus
# size — the budget brute_force_topk enforces via _collect_bounded
# (llm/similarity.py). A predicate (not limit()) keeps the probe set
# deterministic, so the oracle replays it exactly; below 6.5M corpus rows
# it selects every %100 probe and the result is unchanged.
_PROBE_BOUND = 100 * MAX_PROBES


def augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents corpus with injected duplicates both engines build
    identically: exact copies (+1M), tail-appended near-dups (+2M),
    upper-cased variants (+3M), 2-token truncations (+4M).

    INVARIANT: base doc_ids must stay < 1,000,000 — the
    fixed +1M/+2M/+3M/+4M strides both ENCODE the variant kind and let
    consumers DECODE a variant's base id as ``doc_id % 1000000``
    (docs_source_quality_report's re-crawl attribution inverts the
    offset this way). The driver's generator tops out well under the
    stride at every shipped SF (max 49,999 at sf0.1; the sf1 stress
    generator shifts by the observed max, reaching ~500k), and
    tests/test_short_docs.py::test_aug_offsets_encode_variant_kind pins
    max(base doc_id) < 1e6 on the driver data so a future generator
    change breaks loudly in CI instead of silently mis-attributing."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "lang")
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
    )
    near = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(TAIL)).alias("text"),
        "lang",
    )
    cased = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
        "lang",
    )
    short = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.array_join(F.slice(ws_tokens(F.col("text")), 1, 2), " ").alias("text"),
        "lang",
    )
    return (
        docs.unionByName(exact).unionByName(near).unionByName(cased).unionByName(short)
    )


_AUG_SQL = f"""
  SELECT doc_id, text, lang FROM documents
  UNION ALL SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 7 = 0
  UNION ALL SELECT doc_id + 2000000, text || '{TAIL}', lang FROM documents WHERE doc_id % 11 = 0
  UNION ALL SELECT doc_id + 3000000, upper(text), lang FROM documents WHERE doc_id % 13 = 0
  UNION ALL SELECT doc_id + 4000000,
            array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 2), ' '),
            lang FROM documents WHERE doc_id % 17 = 0
"""

# DuckDB word-3-gram shingle set (mirrors llm.dedup.word_shingles k=3)
_SHINGLE_SQL = """
  SELECT doc_id, lang,
         unnest(list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t FROM aug)
"""


def _md5_int_sql(expr: str, seed: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::UBIGINT AS BIGINT)"
    )


def _minhash_band_chain_sql(prefix: str = "") -> str:
    """THE MinHash/LSH banding definition (8 md5-seed-0 hashes, band_size
    2, band cap 64) as based→sig→bands→hot→kept CTEs — the single source
    every banding oracle builds from (clustering, candidate pairs, the
    blocking-quality eval), so the constants cannot drift between the
    evaluated pipeline and its evaluations. ``prefix`` renames the
    band-level CTEs for queries that host this chain next to the
    shingle-level hot/kept chain."""
    p = prefix
    return f"""based AS (
      SELECT doc_id, {_md5_int_sql('shingle', 0)} % {MINHASH_P} AS base FROM sh
    ),
    sig AS (
      SELECT doc_id,
             {", ".join(f"MIN(({minhash_affine(j)[0]} * base + {minhash_affine(j)[1]}) % {MINHASH_P}) AS h{j}" for j in range(8))}
      FROM based GROUP BY doc_id
    ),
    {p}bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, CAST(h{2 * b} AS VARCHAR) || '_' || CAST(h{2 * b + 1} AS VARCHAR) AS band_key FROM sig" for b in range(4))}
    ),
    {p}hot AS (SELECT band_idx, band_key FROM {p}bands GROUP BY 1, 2 HAVING COUNT(*) > 64),
    {p}kept AS (SELECT {p}bands.* FROM {p}bands ANTI JOIN {p}hot USING (band_idx, band_key))"""


def _jaccard_chain_sql(prefix: str = "") -> str:
    """THE exact n-gram-Jaccard definition (3-shingles, lang blocking,
    stop-shingle df cap 256) as hot→kept→sizes→common CTEs — shared by
    the pair query and the blocking-quality eval."""
    p = prefix
    return f"""{p}hot AS (SELECT shingle, lang FROM sh GROUP BY shingle, lang HAVING COUNT(*) > 256),
    {p}kept AS (SELECT sh.* FROM sh ANTI JOIN {p}hot USING (shingle, lang)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM {p}kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM {p}kept a JOIN {p}kept b
        ON a.shingle = b.shingle AND a.lang = b.lang AND b.doc_id > a.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""


def _ivf_params_sql(corpus: str, max_cells: int | None = None) -> str:
    """DuckDB replica of llm.similarity.ivf_stride: integer floor-sqrt
    target capped at ``max_cells`` (default: the budget-derived
    IVF_MAX_CELLS — imported, not re-stated, so both engines read the one
    definition in llm/similarity.py), floor-div stride. COUNT(*) and //
    keep the whole computation in BIGINT, matching Python's
    isqrt/floor-div exactly."""
    cap = IVF_MAX_CELLS if max_cells is None else max_cells
    return f"""
      SELECT GREATEST(1, COUNT(*) // GREATEST(
               LEAST(CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT), {cap}), 1)) AS stride
      FROM {corpus}
    """


# hash-sampled centroid predicate (mirrors llm.similarity.ivf_centroids)
_CENT_PRED_SQL = f"{_md5_int_sql('CAST(vec_id AS VARCHAR)', 0)} % stride = 0"

# shared LSH-band connected-components chain (oracle side), used by BOTH
# docs_dup_clusters and docs_dedup_survivors so the cluster definition
# (8 hashes, band_size 2, band_cap 64, md5 seed 0) can never drift between
# the two verification queries
_CLUSTER_CTE_SQL = f"""aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    {_minhash_band_chain_sql()},
    edges AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id <> b.doc_id
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM aug
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)"""


@register(
    "docs_exact_dedup",
    f"""
    WITH aug AS ({_AUG_SQL})
    SELECT md5(text) AS digest, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM aug GROUP BY md5(text)
    """,
    doc="exact dedup: hash-groupBy on md5 digest, keep lowest id (map-side partial agg)",
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(augmented_docs(spark, sf_dir))


@register(
    "docs_fingerprint_dedup",
    f"""
    WITH aug AS ({_AUG_SQL})
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM aug GROUP BY 1
    """,
    doc="fingerprint dedup: case/whitespace-normalized digest catches cased variants",
)
def docs_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_docs(spark, sf_dir)
    return (
        aug.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


@register(
    "docs_token_stats",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
           length(text) AS n_chars_actual,
           CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'), t -> length(t))) AS BIGINT) AS total_token_chars,
           list_sum(list_transform(string_split_regex(trim(text), '\\s+'), t -> length(t)))
             / len(string_split_regex(trim(text), '\\s+')) AS avg_token_len
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish regex tokenizers, char totals (pure codegen)",
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    text = F.col("text")
    toks = ws_tokens(text)
    total_chars = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    return docs.select(
        "doc_id",
        token_count(text).alias("n_ws_tokens"),
        F.size(regex_tokens(text)).alias("n_bpe_tokens"),
        F.length(text).alias("n_chars_actual"),
        total_chars.cast("bigint").alias("total_token_chars"),
        avg_token_len(text).alias("avg_token_len"),
    )


# shared stopword-argmax language-ID chain (oracle side), used by BOTH
# docs_quality_lang and docs_langid_confusion so the classifier under
# evaluation is the exact classifier in production
_LANGID_CTE_SQL = """scored AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> lower(t) IN ('der','die','das','und','ein'))) AS s_de,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> lower(t) IN ('the','a','of','and','to'))) AS s_en,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> lower(t) IN ('el','la','los','y','un'))) AS s_es,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> lower(t) IN ('le','la','et','un','des'))) AS s_fr,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 t -> lower(t) IN ('de','le','shi','he','zai'))) AS s_zh,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / length(text) AS noise
      FROM documents
    ),
    predicted AS (
      SELECT doc_id, lang, n_tok, s_en, noise,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                  ELSE 'zh' END AS predicted_lang
      FROM scored
    )"""


@register(
    "docs_quality_lang",
    f"""
    WITH {_LANGID_CTE_SQL}
    SELECT doc_id, lang, predicted_lang,
           least(n_tok / 50.0, 1.0) * least(s_en / 5.0, 1.0) * (1.0 - noise) AS quality,
           noise AS punct_ratio
    FROM predicted
    """,
    doc="language-ID heuristic (stopword argmax, tie→lexicographic) + quality scoring",
)
def docs_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    text = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        predict_lang(text).alias("predicted_lang"),
        quality_score(text, F.col("lang")).alias("quality"),
        punct_ratio(text).alias("punct_ratio"),
    )


@register(
    "docs_ngram_jaccard_pairs",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    {_jaccard_chain_sql()}
    SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
           n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    """,
    doc="exact n-gram Jaccard near-dup via posting-list self-join (blocked by "
    "lang, stop-shingles with df > 256 anti-joined away before the join)",
)
def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_docs(spark, sf_dir)
    return ngram_jaccard_pairs(aug, block_col="lang", threshold=0.5)


@register(
    "docs_minhash_lsh_candidates",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    {_minhash_band_chain_sql()}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM kept a JOIN kept b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND b.doc_id > a.doc_id
    """,
    doc="MinHash(8)+LSH(4 bands x 2) candidate pairs: signature scan + equi-join "
    "on band keys, hot buckets (> 64 docs) anti-joined away before the join",
)
def docs_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    aug = augmented_docs(spark, sf_dir)
    # The signature table feeds FOUR arms downstream (hot-bucket count +
    # anti-join left, then both self-join sides) and Spark cannot CSE
    # across them — the plain plan re-ran the whole scan+shingle+md5+agg
    # chain per arm (40 parquet scans at r14). LAZY checkpoint: the
    # materialization happens inside the query's own first action (this
    # is a headline query timed exec-only, so an eager build-time
    # checkpoint would move work out of the timed region — gaming), and
    # the four arms then share ONE signature RDD. The expensive map side
    # (scan + shingles + md5) runs once even if downstream stages race on
    # the lazily-persisted blocks: they share the signature aggregate's
    # single shuffle dependency, so a race can only duplicate the cheap
    # reduce-side min-agg tasks, never the corpus scan.
    sigs = reliable_checkpoint(
        minhash_signature(aug, num_hashes=8, shingle_k=3, hash_fn="md5"),
        eager=False,
    )
    return lsh_candidates(sigs, num_hashes=8, band_size=2, band_cap=64)


def _simhash_chain_sql(rel: str, bits: int, prefix: str = "") -> str:
    """toks→hashed→votes→sig: THE SimHash signature definition over
    ``rel`` (distinct whitespace tokens, md5-seed-0 bit votes), shared by
    docs_simhash (16-bit signatures), docs_simhash_neardup (32-bit
    banded candidate generation), and the method-agreement eval so the
    pairing consumers can never drift from the published fingerprint.
    ``prefix`` renames the CTEs for queries hosting this chain next to
    another chain that also defines a ``sig`` (the MinHash banding)."""
    p = prefix
    return f"""{p}toks AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM {rel}
    ),
    {p}hashed AS (SELECT doc_id, {_md5_int_sql('tok', 0)} AS th FROM {p}toks),
    {p}votes AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits))}
      FROM {p}hashed GROUP BY doc_id
    ),
    {p}sig AS (
      SELECT doc_id,
             CAST({" + ".join(f"(CASE WHEN v{b} >= 0 THEN {2**b} ELSE 0 END)" for b in range(bits))} AS BIGINT) AS simhash
      FROM {p}votes
    )"""


@register(
    "docs_simhash",
    f"""
    WITH {_simhash_chain_sql("documents", 16)}
    SELECT doc_id, simhash FROM sig
    """,
    doc="SimHash(16-bit) signatures: explode distinct tokens, one groupBy of bit votes",
)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return simhash(docs, bits=16, hash_fn="md5")


# simhash near-dup banding parameters: 32-bit signatures, 4 bands x 8
# bits, Hamming cap 3 — by pigeonhole a pair within Hamming 3 differs in
# at most 3 bands, so it SHARES at least one band and is guaranteed a
# candidate (unless that band bucket is hot-capped, the documented
# recall/scale trade-off shared with the MinHash band cap).
_SIMHASH_ND_BITS = 32
_SIMHASH_ND_BANDS = 4
_SIMHASH_ND_BAND_BITS = 8
_SIMHASH_ND_TAU = 3
_SIMHASH_ND_BAND_CAP = 64


@register(
    "docs_simhash_neardup",
    f"""
    WITH aug AS ({_AUG_SQL}),
    {_simhash_chain_sql("aug", _SIMHASH_ND_BITS)},
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, (simhash >> {b * _SIMHASH_ND_BAND_BITS}) & {2 ** _SIMHASH_ND_BAND_BITS - 1} AS band_key FROM sig" for b in range(_SIMHASH_ND_BANDS))}
    ),
    hot AS (SELECT band_idx, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) > {_SIMHASH_ND_BAND_CAP}),
    kept AS (SELECT bands.* FROM bands ANTI JOIN hot USING (band_idx, band_key)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND b.doc_id > a.doc_id
    ),
    scored AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
      FROM cand
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, hamming, CAST(hamming = 0 AS INT) AS is_sig_exact
    FROM scored WHERE hamming <= {_SIMHASH_ND_TAU}
    """,
    doc="SimHash near-dup candidate pairs (Charikar 2002 / Manku et al. "
    "2007, the text-side sibling of media_phash_neardup): 32-bit "
    "signatures from the SHARED _simhash_chain_sql definition, banded "
    "into 4 x 8-bit keys — by pigeonhole any pair within Hamming 3 "
    "shares at least one band, so candidate generation is a band "
    "equi-join, never all-pairs; exact Hamming verification on "
    "candidates only. The hot-band cap (64, the MinHash band-cap rule) "
    "bounds every bucket's pair blowup at any corpus size — the "
    "documented recall/scale trade-off on clumpy corpora (this synthetic "
    "vocabulary concentrates signatures far more than web text). Runs "
    "over the augmented corpus so the planted exact/tail variants give "
    "the pairing real positives. is_sig_exact flags SIGNATURE equality "
    "(hamming = 0), not verified text equality — two distinct texts "
    "colliding to one 32-bit simhash carry the flag too; byte-exact "
    "duplication is docs_exact_dedup's md5 rule",
)
def docs_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        augmented_docs(spark, sf_dir),
        bits=_SIMHASH_ND_BITS,
        n_bands=_SIMHASH_ND_BANDS,
        tau=_SIMHASH_ND_TAU,
        band_cap=_SIMHASH_ND_BAND_CAP,
        hash_fn="md5",
    )


@register(
    "docs_simhash_neardup_uncapped",
    f"""
    WITH aug AS ({_AUG_SQL}),
    {_simhash_chain_sql("aug", _SIMHASH_ND_BITS)},
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, (simhash >> {b * _SIMHASH_ND_BAND_BITS}) & {2 ** _SIMHASH_ND_BAND_BITS - 1} AS band_key FROM sig" for b in range(_SIMHASH_ND_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND b.doc_id > a.doc_id
    ),
    scored AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
      FROM cand
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, hamming, CAST(hamming = 0 AS INT) AS is_sig_exact
    FROM scored WHERE hamming <= {_SIMHASH_ND_TAU}
    """,
    doc="Streaming-parity ANCHOR row: the UNCAPPED "
    "SimHash pairing — docs_simhash_neardup with no hot-band prune — "
    "which is EXACTLY the batch form the streaming twin "
    "(streaming/neardup.py::simhash_neardup_stream) is pinned equal to "
    "under arbitrary micro-batch chopping "
    "(tests/test_streaming.py::test_simhash_neardup_stream_matches_batch "
    "consumes THIS registry entry as its expectation). With no cap the "
    "pigeonhole guarantee is unconditional and nothing saturates, so "
    "stream == batch exactly; a green driver row here is therefore an "
    "external hash-confirmation of the anchor every streaming-simhash "
    "unit pin is stated against — the gate reaching semantics the "
    "batch-only rows cannot. Deliberately a CORRECTNESS anchor, not a "
    "production default: uncapped banding pays the unbounded Σ|bucket|² "
    "candidate term on clumpy corpora, so the 100 TB path remains the "
    "hot-band-capped docs_simhash_neardup (same chain, one extra "
    "anti-join); this row's cost class is the declared quadratic "
    "correctness baselines (docs_ngram_jaccard_pairs).",
)
def docs_simhash_neardup_uncapped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        augmented_docs(spark, sf_dir),
        bits=_SIMHASH_ND_BITS,
        n_bands=_SIMHASH_ND_BANDS,
        tau=_SIMHASH_ND_TAU,
        band_cap=None,
        hash_fn="md5",
    )


@register(
    "docs_neardup_method_agreement",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    {_minhash_band_chain_sql("mh")},
    mh_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mhkept a JOIN mhkept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND b.doc_id > a.doc_id
    ),
    {_simhash_chain_sql("aug", _SIMHASH_ND_BITS, "sx")},
    sxbands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, (simhash >> {b * _SIMHASH_ND_BAND_BITS}) & {2 ** _SIMHASH_ND_BAND_BITS - 1} AS band_key FROM sxsig" for b in range(_SIMHASH_ND_BANDS))}
    ),
    sxhot AS (SELECT band_idx, band_key FROM sxbands GROUP BY 1, 2 HAVING COUNT(*) > {_SIMHASH_ND_BAND_CAP}),
    sxkept AS (SELECT sxbands.* FROM sxbands ANTI JOIN sxhot USING (band_idx, band_key)),
    sx_pairs AS (
      SELECT id_a, id_b FROM (
        SELECT c.id_a, c.id_b,
               bit_count(xor(sa.simhash, sb.simhash)) AS hamming
        FROM (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sxkept a JOIN sxkept b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND b.doc_id > a.doc_id
        ) c
        JOIN sxsig sa ON sa.doc_id = c.id_a
        JOIN sxsig sb ON sb.doc_id = c.id_b
      ) WHERE hamming <= {_SIMHASH_ND_TAU}
    ),
    {_jaccard_chain_sql("jc")},
    jc_pairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    ),
    digests AS (SELECT doc_id, md5(text) AS dg FROM aug),
    methods AS (
      SELECT 'jaccard' AS method, id_a, id_b FROM jc_pairs
      UNION ALL SELECT 'minhash', id_a, id_b FROM mh_pairs
      UNION ALL SELECT 'simhash', id_a, id_b FROM sx_pairs
    ),
    flagged AS (
      SELECT m.method, m.id_a, m.id_b,
             CASE WHEN da.dg = db.dg THEN 1 ELSE 0 END AS ex
      FROM methods m
      JOIN digests da ON da.doc_id = m.id_a
      JOIN digests db ON db.doc_id = m.id_b
    ),
    counts AS (
      SELECT method, COUNT(*) AS n_pairs, CAST(SUM(ex) AS BIGINT) AS n_exact
      FROM flagged GROUP BY method
    ),
    agree AS (
      SELECT x.method AS method_a, y.method AS method_b,
             COUNT(*) AS n_common, CAST(SUM(x.ex) AS BIGINT) AS n_exact_common
      FROM flagged x JOIN flagged y
        ON x.id_a = y.id_a AND x.id_b = y.id_b AND x.method <= y.method
      GROUP BY x.method, y.method
    )
    SELECT a.method_a, a.method_b,
           ca.n_pairs AS n_pairs_a, cb.n_pairs AS n_pairs_b, a.n_common,
           ROUND(a.n_common * 1.0 / (ca.n_pairs + cb.n_pairs - a.n_common), 6)
             AS overlap_jaccard,
           a.n_exact_common,
           ROUND(a.n_exact_common * 1.0 / a.n_common, 6) AS exact_share
    FROM agree a
    JOIN counts ca ON ca.method = a.method_a
    JOIN counts cb ON cb.method = a.method_b
    """,
    doc="Near-dup METHOD-AGREEMENT matrix — the row a user reads before "
    "picking which dedup family to run at 100 TB: for each unordered "
    "pair of methods (MinHash-LSH candidates, Hamming-verified simhash "
    "pairs, exact n-gram Jaccard >= 0.5 — each the EXACT registered "
    "definition, composed from the same shared chains its standalone "
    "query verifies, with the same caps), the pair-set sizes, their "
    "intersection, the overlap Jaccard, and the share of agreed pairs "
    "that are md5-digest-identical (the verified-true-duplicate floor; "
    "per-pair digest equality, never a per-group pair enumeration, so "
    "no quadratic term on giant exact-dup groups). Diagonal rows carry "
    "each method's own pair count and exact share in the same schema. "
    "Cost is the three chains' own blocking-bounded costs plus one "
    "(pair)-keyed self-join on the union of their outputs.",
)
def docs_neardup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import (
        lsh_candidates,
        minhash_signature,
        ngram_jaccard_pairs,
        simhash_neardup_pairs,
    )
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    aug = augmented_docs(spark, sf_dir)
    # the MinHash signature feeds four arms inside lsh_candidates (no
    # CSE across self-join arms) — materialize once, 72 B/doc; extras
    # timing is build-inclusive so the eager checkpoint is honest
    mh = lsh_candidates(
        reliable_checkpoint(
            minhash_signature(aug, num_hashes=8, shingle_k=3, hash_fn="md5")
        ),
        num_hashes=8,
        band_size=2,
        band_cap=64,
    ).select("id_a", "id_b")
    sx = simhash_neardup_pairs(
        aug,
        bits=_SIMHASH_ND_BITS,
        n_bands=_SIMHASH_ND_BANDS,
        tau=_SIMHASH_ND_TAU,
        band_cap=_SIMHASH_ND_BAND_CAP,
        hash_fn="md5",
    ).select("id_a", "id_b")
    jc = ngram_jaccard_pairs(aug, block_col="lang", threshold=0.5).select(
        "id_a", "id_b"
    )
    digests = aug.select("doc_id", F.md5("text").alias("dg"))
    methods = (
        jc.select(F.lit("jaccard").alias("method"), "id_a", "id_b")
        .unionByName(mh.select(F.lit("minhash").alias("method"), "id_a", "id_b"))
        .unionByName(sx.select(F.lit("simhash").alias("method"), "id_a", "id_b"))
    )
    da = digests.select(F.col("doc_id").alias("id_a"), F.col("dg").alias("dg_a"))
    db = digests.select(F.col("doc_id").alias("id_b"), F.col("dg").alias("dg_b"))
    # the flagged pair stream feeds three consumers (counts + both sides
    # of the agreement self-join) — materialize once or all three method
    # chains re-execute per consumer
    flagged = reliable_checkpoint(
        methods.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "method",
            "id_a",
            "id_b",
            F.when(F.col("dg_a") == F.col("dg_b"), 1).otherwise(0).alias("ex"),
        )
    )
    counts = flagged.groupBy("method").agg(
        F.count("*").alias("n_pairs"),
        F.sum("ex").cast("bigint").alias("n_exact"),
    )
    x = flagged.select(
        F.col("method").alias("method_a"), "id_a", "id_b", "ex"
    )
    y = flagged.select(F.col("method").alias("method_b"), "id_a", "id_b")
    agree = (
        x.join(y, ["id_a", "id_b"])
        .filter(F.col("method_a") <= F.col("method_b"))
        .groupBy("method_a", "method_b")
        .agg(
            F.count("*").alias("n_common"),
            F.sum("ex").cast("bigint").alias("n_exact_common"),
        )
    )
    ca = counts.select(
        F.col("method").alias("method_a"), F.col("n_pairs").alias("n_pairs_a")
    )
    cb = counts.select(
        F.col("method").alias("method_b"), F.col("n_pairs").alias("n_pairs_b")
    )
    return (
        agree.join(F.broadcast(ca), "method_a")
        .join(F.broadcast(cb), "method_b")
        .select(
            "method_a",
            "method_b",
            "n_pairs_a",
            "n_pairs_b",
            "n_common",
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("n_pairs_a") + F.col("n_pairs_b") - F.col("n_common")),
                6,
            ).alias("overlap_jaccard"),
            "n_exact_common",
            F.round(F.col("n_exact_common") * 1.0 / F.col("n_common"), 6).alias(
                "exact_share"
            ),
        )
    )


@register(
    "embedding_cosine_topk",
    f"""
    WITH probes AS (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id % 100 = 0 AND vec_id < {_PROBE_BOUND}),
    scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM probes p JOIN embeddings c ON p.vec_id <> c.vec_id
    )
    SELECT probe_id, neighbor_id, sim, rank FROM (
      SELECT probe_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
    doc="brute-force cosine top-5 ANN baseline: one corpus scan, one block "
    "matmul per Arrow batch against the closure-carried probe matrix",
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PROBE_BOUND)
    )
    return brute_force_topk(emb, probes, k=5)


# The LSH hyperplanes are a pure integer formula (llm/similarity.py
# _hyperplane: w[p][d] = ((p*1000003 + d*7919 + 12345) % 2003)/1001 - 1),
# so DuckDB can derive the identical planes and bucket assignment — the
# bucketing DOES have an exact SQL oracle (verified bit-identical at
# sf0.001/sf0.01). Projections are only sign-tested, so cross-engine
# summation-order ulps cannot flip a bucket unless a projection sits
# within ~1e-15 of zero.
_LSH_PROJ_SQL = (
    "list_transform(range(0, 8), p -> list_sum(list_transform(range(1, 65), "
    "d -> e[d] * ((((p * 1000003 + (d-1) * 7919 + 12345) % 2003) / 1001.0) - 1.0))))"
)
_LSH_BUCKET_SQL = (
    "CAST(list_sum(list_transform(range(0, 8), p -> "
    "CASE WHEN projs[p+1] >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS INT)"
)
_LSH_BASE_SQL = f"""
    vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    proj AS (SELECT vec_id, e, {_LSH_PROJ_SQL} AS projs FROM vecs),
    bucketed AS (
      SELECT vec_id, e, {_LSH_BUCKET_SQL} AS bucket, projs FROM proj
    )"""
_LSH_RERANK_SQL = """,
    cand AS (
      SELECT p.probe_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.pvec, c.e), 6) AS sim
      FROM pbuckets p JOIN bucketed c USING (bucket)
      WHERE p.probe_id <> c.vec_id
    )
    SELECT probe_id, neighbor_id, sim, rank FROM (
      SELECT probe_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM cand) WHERE rank <= 5"""


@register(
    "embedding_lsh_ann",
    f"""
    WITH {_LSH_BASE_SQL},
    pbuckets AS (
      SELECT vec_id AS probe_id, e AS pvec, bucket
      FROM bucketed WHERE vec_id % 100 = 0
    )
    {_LSH_RERANK_SQL}
    """,
    doc="LSH(8 hyperplanes) bucketed ANN: candidates from bucket equi-join, "
    "exact rerank. Hyperplanes are a pure integer formula, so the oracle "
    "replays the identical bucketing in SQL",
)
def embedding_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return lsh_ann_topk(emb, probes, dim=64, k=5)


@register(
    "embedding_ivf_ann",
    f"""
    WITH params AS ({_ivf_params_sql("embeddings")}),
    cent AS (
      SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centvec
      FROM embeddings, params WHERE {_CENT_PRED_SQL}
    ),
    vecs AS (SELECT vec_id AS member_id, CAST(embedding AS DOUBLE[]) AS mvec FROM embeddings),
    assign AS (
      SELECT member_id, cell_id FROM (
        SELECT member_id, cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY member_id
                 ORDER BY round(list_cosine_similarity(mvec, centvec), 6) DESC, cell_id
               ) AS r
        FROM vecs CROSS JOIN cent) WHERE r = 1
    ),
    probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pvec
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    routed AS (
      SELECT probe_id, pvec, cell_id FROM (
        SELECT probe_id, pvec, cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY probe_id
                 ORDER BY round(list_cosine_similarity(pvec, centvec), 6) DESC, cell_id
               ) AS r
        FROM probes CROSS JOIN cent) WHERE r <= 2
    ),
    scored AS (
      SELECT DISTINCT probe_id, a.member_id AS neighbor_id,
             round(list_cosine_similarity(pvec, mvec), 6) AS sim
      FROM routed r JOIN assign a USING (cell_id)
      JOIN vecs v ON v.member_id = a.member_id
      WHERE a.member_id <> probe_id
    )
    SELECT probe_id, neighbor_id, sim, rank FROM (
      SELECT probe_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
    doc="IVF-cell ANN: hash-sampled sqrt(n)-capped centroids, top-2 cell routing, "
    "candidate equi-join on cell_id, exact rerank — the oracle-checkable scale path",
)
def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_ann_topk(emb, probes, k=5, n_probe=2)


_AUG_EMB_SQL = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 9 = 0
  UNION ALL
  SELECT vec_id + 2000000,
         list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding AS DOUBLE[])[i] * (1 + 0.02 * ((vec_id + i - 1) % 3 - 1)))
  FROM embeddings WHERE vec_id % 5 = 0
"""


def augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings corpus with injected near-dups both engines build
    identically: exact copies (vec_id%9, +1M, cosine 1.0) and elementwise
    0.98/1.00/1.02-scaled copies (vec_id%5, +2M, cosine ~0.9996)."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    vid = F.col("vec_id")
    exact = emb.filter(vid % 9 == 0).select(
        (vid + 1000000).alias("vec_id"), "embedding"
    )
    perturbed = (
        emb.filter(vid % 5 == 0)
        # perturb BEFORE renaming: an aliased vec_id in the same select
        # shadows the input column inside the transform lambda
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x, i: x * (F.lit(1) + F.lit(0.02) * ((vid + i) % 3 - 1)),
            ).alias("embedding"),
        )
        .select((vid + 2000000).alias("vec_id"), "embedding")
    )
    return emb.unionByName(exact).unionByName(perturbed)


# shared near-dup candidate chain (oracle side), used by BOTH
# embedding_cosine_neardup and embedding_semdedup so the pair definition
# (multi-probe top-2 IVF-cell blocking, rounded-cosine >= 0.99) can never
# drift between the pair query and its keep/drop materialization
def _emb_neardup_chain_sql(p: str = "", max_cells: int | None = None) -> str:
    """The embedding near-dup blocking chain (stride params → sampled
    centroids → top-2 multi-probe assignment → same-cell pair scoring →
    0.99 threshold) as ``p``-prefixed CTEs over an existing ``aug`` CTE,
    with the centroid cap a parameter. ONE generator emits both the
    registered definition (p='', default cap — _EMB_NEARDUP_CTE_SQL
    below) and the forced-cap instances the cell-budget profile sweeps,
    so the swept chain can never drift from the verified one."""
    names = {n: f"{p}{n}" for n in ("params", "cent", "assign", "pairs", "dup_pairs")}
    return f"""{names['params']} AS ({_ivf_params_sql("aug", max_cells)}),
    {names['cent']} AS (SELECT vec_id AS cell_id, e AS centvec FROM aug, {names['params']} WHERE {_CENT_PRED_SQL}),
    {names['assign']} AS (
      SELECT member_id, cell_id FROM (
        SELECT member_id, cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY member_id
                 ORDER BY round(list_cosine_similarity(mvec, centvec), 6) DESC, cell_id
               ) AS r
        FROM (SELECT vec_id AS member_id, e AS mvec FROM aug) CROSS JOIN {names['cent']}) WHERE r <= 2
    ),
    {names['pairs']} AS (
      SELECT DISTINCT a.member_id AS id_a, b.member_id AS id_b,
             round(list_cosine_similarity(va.e, vb.e), 6) AS sim
      FROM {names['assign']} a JOIN {names['assign']} b ON a.cell_id = b.cell_id AND b.member_id > a.member_id
      JOIN aug va ON va.vec_id = a.member_id
      JOIN aug vb ON vb.vec_id = b.member_id
    ),
    {names['dup_pairs']} AS (SELECT id_a, id_b, sim FROM {names['pairs']} WHERE sim >= 0.99)"""


_EMB_NEARDUP_CTE_SQL = f"""aug AS ({_AUG_EMB_SQL}),
    {_emb_neardup_chain_sql()}"""


@register(
    "embedding_cosine_neardup",
    f"""
    WITH {_EMB_NEARDUP_CTE_SQL}
    SELECT id_a, id_b, sim FROM dup_pairs
    """,
    doc="embedding-cosine near-dup: multi-probe IVF-cell blocking (top-2 of the "
    "hash-sampled sqrt(n)-capped cells), same-cell pair scoring, threshold on "
    "rounded cosine — completes the dedup family for vectors",
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        augmented_embeddings(spark, sf_dir), threshold=0.99
    )


@register(
    "embedding_semdedup",
    f"""
    WITH {_EMB_NEARDUP_CTE_SQL},
    dups AS (
      SELECT id_b AS vec_id, COUNT(*) AS n_dup_neighbors FROM dup_pairs GROUP BY id_b
    )
    SELECT a.vec_id,
           COALESCE(d.n_dup_neighbors, 0) AS n_dup_neighbors,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM aug a LEFT JOIN dups d USING (vec_id)
    """,
    doc="SemDeDup-style semantic dedup materialization (Abbas et al. 2023 "
    "shape: cluster, then drop within-cluster high-cosine copies): every "
    "vector is tagged drop/keep under the one-pass rule 'drop iff a "
    "LOWER-id near-dup neighbor exists' over the shared candidate chain "
    "(multi-probe IVF-cell blocking + rounded-cosine threshold — the same "
    "dup_pairs CTE embedding_cosine_neardup verifies). The one-pass rule "
    "is the scalable stand-in for SemDeDup's inherently serial greedy "
    "scan: decided per-vector from its pair list alone, one groupBy on "
    "the pair stream + one keyed left join — no iteration, no driver "
    "state, same blocking costs as the pair query at any corpus size.",
)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import embedding_neardup_pairs

    aug = augmented_embeddings(spark, sf_dir)
    pairs = embedding_neardup_pairs(aug, threshold=0.99)
    dups = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.count("*").alias("dup_n")
    )
    return aug.select("vec_id").join(dups, "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("dup_n"), F.lit(0)).alias("n_dup_neighbors"),
        F.col("dup_n").isNotNull().alias("is_dup"),
    )


@register(
    "embedding_eval_decontam",
    f"""
    WITH {_EMB_NEARDUP_CTE_SQL},
    split AS (SELECT vec_id, vec_id % 97 = 1 AS is_eval FROM aug),
    cross_pairs AS (
      SELECT CASE WHEN sa.is_eval THEN p.id_b ELSE p.id_a END AS vec_id
      FROM dup_pairs p
      JOIN split sa ON sa.vec_id = p.id_a
      JOIN split sb ON sb.vec_id = p.id_b
      WHERE sa.is_eval <> sb.is_eval
    ),
    hits AS (
      SELECT vec_id, COUNT(*) AS n_eval_neighbors FROM cross_pairs GROUP BY vec_id
    )
    SELECT s.vec_id,
           COALESCE(h.n_eval_neighbors, 0) AS n_eval_neighbors,
           (h.vec_id IS NOT NULL) AS is_contaminated
    FROM split s LEFT JOIN hits h USING (vec_id)
    WHERE NOT s.is_eval
    """,
    doc="Semantic eval-set decontamination — the embedding sibling of the "
    "gram-based decontam family (docs_contamination / the curation "
    "funnel's benchmark exclusion): a held-out eval split (deterministic "
    "vec_id % 97 residue — 97 is chosen so the fixture's +1M/+2M copy "
    "offsets MOVE residue class, planting true cross-split "
    "contamination) is checked against the train split for cosine "
    "near-duplicates, and every TRAIN vector is tagged with its count "
    "of eval near-neighbors — the leakage a test-set-aware pipeline "
    "must drop before training (GPT-3 appendix C / FineWeb practice, "
    "done at vector level so paraphrases and perturbed copies are "
    "caught, not just n-gram overlaps). Pairs come from the SAME "
    "dup_pairs CTE embedding_cosine_neardup verifies (shared multi-"
    "probe IVF blocking + 0.99 rounded-cosine threshold); the "
    "bipartite restriction is one split-flag join per endpoint, the "
    "tagging one groupBy + one keyed left join — semdedup's exact cost "
    "shape, so it scales wherever the neardup family does.",
)
def embedding_eval_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import embedding_neardup_pairs

    aug = augmented_embeddings(spark, sf_dir)
    split = aug.select("vec_id", (F.col("vec_id") % 97 == 1).alias("is_eval"))
    pairs = embedding_neardup_pairs(aug, threshold=0.99)
    sa = split.select(F.col("vec_id").alias("id_a"), F.col("is_eval").alias("ev_a"))
    sb = split.select(F.col("vec_id").alias("id_b"), F.col("is_eval").alias("ev_b"))
    cross = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("ev_a") != F.col("ev_b"))
        .select(
            F.when(F.col("ev_a"), F.col("id_b")).otherwise(F.col("id_a")).alias(
                "vec_id"
            )
        )
    )
    hits = cross.groupBy("vec_id").agg(F.count("*").alias("hit_n"))
    return (
        split.filter(~F.col("is_eval"))
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("hit_n"), F.lit(0)).alias("n_eval_neighbors"),
            F.col("hit_n").isNotNull().alias("is_contaminated"),
        )
    )


@register(
    "embedding_margin_pairs",
    f"""
    WITH {_EMB_NEARDUP_CTE_SQL},
    sym AS (
      SELECT id_a AS x, id_b AS n, sim,
             CAST(round(sim * 1000000) AS BIGINT) AS sim6 FROM pairs
      UNION ALL
      SELECT id_b, id_a, sim,
             CAST(round(sim * 1000000) AS BIGINT) FROM pairs
    ),
    ranked AS (
      SELECT x, n, sim, sim6,
             ROW_NUMBER() OVER (PARTITION BY x ORDER BY sim6 DESC, n) AS r
      FROM sym
    ),
    capped AS (SELECT * FROM ranked WHERE r <= 32),
    stats AS (
      SELECT x, SUM(sim6) AS s, COUNT(*) AS c FROM capped WHERE r <= 4 GROUP BY x
    ),
    cpairs AS (
      SELECT DISTINCT LEAST(x, n) AS id_a, GREATEST(x, n) AS id_b, sim, sim6
      FROM capped
    ),
    margins AS (
      SELECT p.id_a, p.id_b, p.sim,
             CAST((2 * p.sim6 * sa.c * sb.c * 1000000)
               // (sa.s * sb.c + sb.s * sa.c) AS BIGINT) AS margin_ppm
      FROM cpairs p JOIN stats sa ON sa.x = p.id_a JOIN stats sb ON sb.x = p.id_b
      WHERE p.sim6 > 0 AND (sa.s * sb.c + sb.s * sa.c) > 0
    )
    SELECT id_a, id_b, sim, margin_ppm,
           margin_ppm >= 1050000 AS is_confident
    FROM margins
    ORDER BY margin_ppm DESC, id_a, id_b
    LIMIT 100
    """,
    doc=(
        "Margin-based pair mining (Artetxe & Schwenk 2019 ratio margin — "
        "the CCMatrix/LASER bitext-mining score): raw cosine over-selects "
        "HUB vectors similar to everything, so each candidate pair's sim "
        "is normalized by the mean of its endpoints' top-4 candidate "
        "sims. Candidates come from the SAME multi-probe IVF-cell "
        "blocking chain embedding_cosine_neardup verifies (shared "
        "_EMB_NEARDUP_CTE_SQL 'pairs' stage, unthresholded), so mining "
        "pays blocking costs, never all-pairs; per-endpoint top-k stats "
        "are one window over the bounded candidate lists; the margin "
        "rides EXACT integer ppm arithmetic (truncating integer division "
        "of positive longs — identical in both engines, no cross-engine "
        "float division in the score). Only pairs inside at least one "
        "endpoint's 32 best candidates are scored (r12: the per-endpoint "
        "cand_cap, applied identically in both engines BEFORE any pair "
        "materialization — the sqrt(n)-cell blocking admits an ~n^1.5 "
        "candidate stream, and a pair outside both endpoints' top-32 "
        "cannot contend for a top-100 mining shortlist; same bounded-"
        "recall shape as the MinHash/simhash hot-band caps, pinned by a "
        "Python recompute). The shared blocking's cell count is the "
        "sqrt(n) target capped by the broadcast-budget-derived "
        "IVF_MAX_CELLS (65536 at 64 dims — the knob lives in "
        "ivf_centroids, shared with the serving paths, and "
        "embedding_ivf_cell_budget_profile measures it); the cand_cap "
        "keeps every post-blocking stage linear regardless. Emits the "
        "global top-100 "
        "pairs by margin "
        "(TakeOrdered) with the 1.05-margin confidence flag the mining "
        "literature uses."
    ),
)
def embedding_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import embedding_neardup_pairs
    from cupertino_nvr_spark.llm.similarity import margin_scored_pairs

    aug = augmented_embeddings(spark, sf_dir)
    pairs = embedding_neardup_pairs(aug, threshold=-1.0, per_cell_cap=32)
    return (
        margin_scored_pairs(pairs, k=4, threshold_ppm=1_050_000, cand_cap=32)
        .orderBy(F.col("margin_ppm").desc(), "id_a", "id_b")
        .limit(100)
    )


@register(
    "embedding_margin_cap_profile",
    f"""
    WITH {_EMB_NEARDUP_CTE_SQL},
    sym AS (
      SELECT id_a AS x, id_b AS n, sim,
             CAST(round(sim * 1000000) AS BIGINT) AS sim6 FROM pairs
      UNION ALL
      SELECT id_b, id_a, sim,
             CAST(round(sim * 1000000) AS BIGINT) FROM pairs
    ),
    ranked AS (
      SELECT x, n, sim, sim6,
             ROW_NUMBER() OVER (PARTITION BY x ORDER BY sim6 DESC, n) AS r
      FROM sym
    ),
    capped AS (SELECT * FROM ranked WHERE r <= 64),
    stats AS (
      SELECT x, SUM(sim6) AS s, COUNT(*) AS c FROM capped WHERE r <= 4 GROUP BY x
    ),
    cpairs AS (
      SELECT LEAST(x, n) AS id_a, GREATEST(x, n) AS id_b, sim, sim6,
             MIN(r) AS pair_rank
      FROM capped GROUP BY 1, 2, 3, 4
    ),
    margins AS (
      SELECT p.id_a, p.id_b, p.pair_rank,
             CAST((2 * p.sim6 * sa.c * sb.c * 1000000)
               // (sa.s * sb.c + sb.s * sa.c) AS BIGINT) AS margin_ppm
      FROM cpairs p JOIN stats sa ON sa.x = p.id_a JOIN stats sb ON sb.x = p.id_b
      WHERE p.sim6 > 0 AND (sa.s * sb.c + sb.s * sa.c) > 0
    ),
    spine AS (SELECT unnest([8, 16, 32, 64]) AS cap),
    kept AS (
      SELECT s.cap, m.id_a, m.id_b, m.margin_ppm
      FROM spine s JOIN margins m ON m.pair_rank <= s.cap
    ),
    topc AS (
      SELECT cap, id_a, id_b FROM (
        SELECT cap, id_a, id_b,
               ROW_NUMBER() OVER (PARTITION BY cap
                                  ORDER BY margin_ppm DESC, id_a, id_b) AS rk
        FROM kept) WHERE rk <= 100
    ),
    ref AS (SELECT id_a, id_b FROM topc WHERE cap = 64),
    kept_counts AS (
      SELECT cap, COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN margin_ppm >= 1050000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_confident
      FROM kept GROUP BY cap
    ),
    ovl AS (
      SELECT t.cap, COUNT(*) AS n_overlap
      FROM topc t JOIN ref USING (id_a, id_b) GROUP BY t.cap
    )
    SELECT k.cap, k.n_pairs, k.n_confident,
           COALESCE(o.n_overlap, 0) AS top100_overlap,
           ROUND(CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / 100, 6)
             AS top100_recall
    FROM kept_counts k LEFT JOIN ovl o USING (cap)
    """,
    doc="Margin-mining cand_cap tuning profile — the tuning-family row "
    "for the r12 per-endpoint candidate cap (LSH banding: "
    "docs_lsh_tuning_profile; pHash tau: media_phash_tau_profile; IVF "
    "n_probe: embedding_ivf_probe_profile): for each cap budget 8/16/32/"
    "64, the surviving-pair count (the cost axis — the volume every "
    "downstream margin stage pays is linear in it) and the top-100 "
    "mining shortlist's overlap with the most permissive profiled cap "
    "(the quality axis). ONE ranked frame serves every budget: per-"
    "endpoint top-4 stats — and therefore every pair's margin — are "
    "cap-invariant (k=4 <= every profiled cap), and a pair survives cap "
    "C exactly when its best endpoint rank <= C (pair_rank, kept by the "
    "shared margin_scored_pairs stage), so the sweep re-ranks one frame "
    "and never re-blocks or re-scores. The cap=32 shortlist here IS the "
    "declared embedding_margin_pairs result set (equality pinned in "
    "tests); a full-corpus uncapped reference would pay the ~n^1.5 "
    "candidate volume the cap exists to avoid, so the profile's "
    "reference is the largest profiled budget — the same "
    "bounded-reference convention media_phash_tau_profile uses.",
)
def embedding_margin_cap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.dedup import embedding_neardup_pairs
    from cupertino_nvr_spark.llm.similarity import margin_scored_pairs

    aug = augmented_embeddings(spark, sf_dir)
    pairs = embedding_neardup_pairs(aug, threshold=-1.0, per_cell_cap=64)
    margins = margin_scored_pairs(
        pairs, k=4, threshold_ppm=1_050_000, cand_cap=64, include_rank=True
    ).select("id_a", "id_b", "margin_ppm", "is_confident", "pair_rank")
    spine = spark.createDataFrame([(8,), (16,), (32,), (64,)], "cap int")
    # kept feeds THREE consumers (counts + the per-cap shortlists, which
    # feed both the reference set and the overlap join) — materialize it
    # once or the margin joins re-execute per consumer; it holds at most
    # 4x the cap-64 survivor count
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    kept = reliable_checkpoint(
        F.broadcast(spine)
        .join(margins, margins.pair_rank <= spine.cap)
        .select("cap", "id_a", "id_b", "margin_ppm", "is_confident")
    )
    wc = Window.partitionBy("cap").orderBy(
        F.col("margin_ppm").desc(), "id_a", "id_b"
    )
    topc = (
        kept.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= 100)
        .select("cap", "id_a", "id_b")
    )
    ref = topc.filter(F.col("cap") == 64).select("id_a", "id_b")
    kept_counts = kept.groupBy("cap").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("is_confident"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_confident"),
    )
    overlaps = topc.join(F.broadcast(ref), ["id_a", "id_b"]).groupBy("cap").agg(
        F.count("*").alias("n_overlap")
    )
    return kept_counts.join(overlaps, "cap", "left").select(
        "cap",
        "n_pairs",
        "n_confident",
        F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint")).alias(
            "top100_overlap"
        ),
        F.round(
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / 100, 6
        ).alias("top100_recall"),
    )


@register(
    "embedding_ivf_cell_budget_profile",
    f"""
    WITH aug AS ({_AUG_EMB_SQL}),
    {_emb_neardup_chain_sql()},
    {_emb_neardup_chain_sql("c8_", 8)},
    {_emb_neardup_chain_sql("c16_", 16)},
    {_emb_neardup_chain_sql("c32_", 32)},
    base AS (SELECT id_a, id_b FROM dup_pairs),
    nb AS (SELECT COUNT(*) AS n_base FROM base),
    prof AS (
      SELECT CAST(8 AS BIGINT) AS max_cells,
             (SELECT COUNT(*) FROM c8_cent) AS n_cells,
             (SELECT COUNT(*) FROM c8_pairs) AS n_candidates,
             (SELECT COUNT(*) FROM c8_pairs c JOIN base b USING (id_a, id_b))
               AS n_base_hit
      UNION ALL
      SELECT CAST(16 AS BIGINT),
             (SELECT COUNT(*) FROM c16_cent),
             (SELECT COUNT(*) FROM c16_pairs),
             (SELECT COUNT(*) FROM c16_pairs c JOIN base b USING (id_a, id_b))
      UNION ALL
      SELECT CAST(32 AS BIGINT),
             (SELECT COUNT(*) FROM c32_cent),
             (SELECT COUNT(*) FROM c32_pairs),
             (SELECT COUNT(*) FROM c32_pairs c JOIN base b USING (id_a, id_b))
      UNION ALL
      SELECT CAST({IVF_MAX_CELLS} AS BIGINT),
             (SELECT COUNT(*) FROM cent),
             (SELECT COUNT(*) FROM pairs),
             (SELECT COUNT(*) FROM pairs c JOIN base b USING (id_a, id_b))
    )
    SELECT max_cells, n_cells, n_candidates, n_base_hit,
           ROUND(CAST(n_base_hit AS DOUBLE) / NULLIF(n_base, 0), 6)
             AS recall_vs_default
    FROM prof, nb
    ORDER BY max_cells
    """,
    doc="IVF cell-budget tuning profile — the measurement row for the "
    "corpus-scaled centroid cap (the knob itself is "
    "the broadcast-budget-derived IVF_MAX_CELLS in llm/similarity.py, "
    "shared by the whole embedding blocking family): for each forced "
    "cap 8/16/32 plus the production budget, the sampled centroid "
    "count, the candidate-pair volume (the cost axis — the "
    "sum(|cell|^2) term every blocking consumer pays grows as the cap "
    "squeezes members into fewer cells, exactly the regime a "
    "too-small cap enters past cap^2 vectors), and how many of the "
    "production near-dup pairs stay co-located under the coarser "
    "blocking (the quality axis; coarser cells can only merge "
    "neighborhoods, so recall_vs_default stays ~1 while cost "
    "explodes — the measured argument for raising the cap with corpus "
    "size rather than shrinking it). The swept chains are emitted by "
    "the SAME generator as the registered near-dup definition "
    "(_emb_neardup_chain_sql / embedding_cell_members), so the profile "
    "measures the production blocking, not a lookalike; the expensive "
    "candidate streams are COUNTED from membership joins, never "
    "cosine-scored (only the production-budget reference chain pays "
    "scoring), so the profile costs ~4 membership passes + one "
    "verified chain at any scale.",
)
def embedding_ivf_cell_budget_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from functools import reduce

    from cupertino_nvr_spark.llm.dedup import (
        embedding_candidate_ids,
        embedding_neardup_pairs,
    )
    from cupertino_nvr_spark.llm.similarity import ivf_centroids
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    from cupertino_nvr_spark.llm.dedup import embedding_cell_members

    aug = augmented_embeddings(spark, sf_dir)
    # one bounded-scalar corpus count reused by every centroid build
    # below (each would otherwise re-count the corpus for its stride)
    n_aug = aug.count()
    # ONE checkpointed membership per swept cap (r15): the membership
    # used to be recomputed per consumer — each cap's candidate-id
    # self-join executed its assignment chain on BOTH arms and the
    # production cap's chain ran a third time inside the base build
    # (no CSE across self-join arms), 9 full scan+assign executions for
    # 4 memberships. The swept caps checkpoint id+cell only (16 B/row);
    # the production cap keeps the vector so the base chain below reads
    # the SAME materialized membership instead of re-assigning.
    mems: dict[int | None, DataFrame] = {}
    for cap in (8, 16, 32, None):
        m = embedding_cell_members(aug, max_cells=cap, n_rows=n_aug)
        mems[cap] = reliable_checkpoint(
            m if cap is None else m.select("member_id", "cell_id")
        )
    # the production-budget reference pair set: the registered chain
    # itself, fed by the checkpointed production membership (everything
    # downstream of the membership — cell self-join, hoisted-norm
    # scoring, threshold, distinct — is the registered definition
    # verbatim). Deliberately NOT rebuilt by joining vectors onto a
    # checkpointed candidate frame — an A/B at sf1 measured that shape
    # 5x SLOWER, while this keeps the
    # candidate stream pipelined inside the cell join's stage.
    base = reliable_checkpoint(
        embedding_neardup_pairs(
            aug, threshold=0.99, n_rows=n_aug, members=mems[None]
        ).select("id_a", "id_b")
    )
    base_flagged = F.broadcast(base.withColumn("_hit", F.lit(True)))
    rows = []
    for cap, mem in mems.items():
        label = IVF_MAX_CELLS if cap is None else cap
        # candidate volume + base-recall in ONE aggregate pass over the
        # pair stream (r15): the pair sets used to be checkpointed per
        # cap just to be counted twice (own count + base semi-join);
        # a left join against the broadcast base (668 pairs at sf0.1 —
        # bounded by the production near-dup survivor count at any
        # scale) flags hits inline, so the Σ|cell|² candidate stream is
        # never materialized, only streamed through one count.
        cand = embedding_candidate_ids(
            aug, max_cells=cap, n_rows=n_aug, members=mem
        )
        stats = cand.join(base_flagged, ["id_a", "id_b"], "left").agg(
            F.count("*").alias("n_candidates"),
            F.count("_hit").alias("n_base_hit"),
        )
        rows.append(
            spark.range(1)
            .select(F.lit(label).cast("long").alias("max_cells"))
            .crossJoin(ivf_centroids(aug, max_cells=label, n_rows=n_aug).agg(
                F.count("*").alias("n_cells")
            ))
            .crossJoin(stats)
        )
    prof = reduce(DataFrame.unionByName, rows)
    nb = base.agg(F.count("*").alias("n_base"))
    return (
        prof.crossJoin(F.broadcast(nb))
        .select(
            "max_cells",
            "n_cells",
            "n_candidates",
            "n_base_hit",
            F.round(
                F.col("n_base_hit").cast("double")
                / F.when(F.col("n_base") > 0, F.col("n_base")),
                6,
            ).alias("recall_vs_default"),
        )
        .orderBy("max_cells")
    )


# ---------------------------------------------------------------------------
# Centered sign-bit LSH near-dup chain, exact SQL oracle
#
# Every stage of embedding_neardup_pairs_lsh (llm/dedup.py) is replayable
# in DuckDB because nothing in it is data-dependent randomness: the
# hyperplanes are the same pure integer formula _LSH_PROJ_SQL already
# verifies bit-identically for embedding_lsh_ann, per-plane mean centering
# is one AVG, the sign test only flips across engines if a centered
# projection sits within ~1e-15 of zero, the flip ranking orders by
# ROUND(ABS(cproj), 6) with the plane index as tie-break (matching the
# Spark side exactly — raw doubles would tie-break on last-ulp summation
# order), the hot-bucket cap is a HAVING COUNT(*) filter, and the final
# cosine is the same 6-decimal-rounded score every other embedding oracle
# uses. Fixed n_planes (no corpus count) keeps the SQL static.
_LSH_ND_PLANES = 12
_LSH_ND_FLIP = 2
_LSH_ND_CAP = 256


def _lsh_neardup_pairs_cte_sql(
    n_planes: int = _LSH_ND_PLANES,
    dim: int = 64,
    n_flip: int = _LSH_ND_FLIP,
    bucket_cap: int = _LSH_ND_CAP,
    threshold: float = 0.99,
) -> str:
    """CTE chain ending in lsh_pairs(id_a, id_b, sim) over aug."""
    proj = (
        f"list_transform(range(0, {n_planes}), p -> "
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "d -> e[d] * ((((p * 1000003 + (d-1) * 7919 + 12345) % 2003) / 1001.0) - 1.0))))"
    )
    return f"""aug AS ({_AUG_EMB_SQL}),
    lshp AS (SELECT vec_id, e, {proj} AS projs FROM aug),
    pp AS (
      SELECT vec_id, t.p AS plane, projs[t.p + 1] AS proj
      FROM lshp, range(0, {n_planes}) t(p)
    ),
    offs AS (SELECT plane, AVG(proj) AS off FROM pp GROUP BY plane),
    cp AS (
      SELECT pp.vec_id, pp.plane, pp.proj - offs.off AS cproj
      FROM pp JOIN offs USING (plane)
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN cproj >= 0
                           THEN CAST(1 AS BIGINT) << plane ELSE 0 END) AS INT) AS base
      FROM cp GROUP BY vec_id
    ),
    rk AS (
      SELECT vec_id, plane,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY ROUND(ABS(cproj), 6), plane) AS r
      FROM cp
    ),
    mem AS (
      SELECT DISTINCT vec_id, bucket FROM (
        SELECT vec_id, base AS bucket FROM sig
        UNION ALL
        SELECT rk.vec_id,
               CAST(xor(CAST(sig.base AS BIGINT), CAST(1 AS BIGINT) << rk.plane) AS INT)
        FROM rk JOIN sig USING (vec_id) WHERE rk.r <= {n_flip}
      )
    ),
    hot AS (SELECT bucket FROM mem GROUP BY bucket HAVING COUNT(*) > {bucket_cap}),
    mem2 AS (
      SELECT m.vec_id, m.bucket FROM mem m
      LEFT JOIN hot h USING (bucket) WHERE h.bucket IS NULL
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM mem2 a JOIN mem2 b ON a.bucket = b.bucket AND b.vec_id > a.vec_id
    ),
    lsh_pairs AS (
      SELECT id_a, id_b,
             ROUND(list_cosine_similarity(ea.e, eb.e), 6) AS sim
      FROM cand
      JOIN aug ea ON ea.vec_id = cand.id_a
      JOIN aug eb ON eb.vec_id = cand.id_b
      WHERE ROUND(list_cosine_similarity(ea.e, eb.e), 6) >= {threshold}
    )"""


@register(
    "embedding_cosine_neardup_lsh",
    f"""
    WITH {_lsh_neardup_pairs_cte_sql()}
    SELECT id_a, id_b, sim FROM lsh_pairs
    """,
    doc="embedding near-dup candidate pairs via CENTERED sign-bit LSH "
    "blocking — the LINEAR-time scale path. IVF-cell blocking is Θ(n^1.5) "
    "at its own optimum (assignment n·c + pairs n²/c, minimized at "
    "c=sqrt(n); measured 11.7-18.6x for 10x data at sf1): hyperplane sign "
    "buckets cost O(n·planes·dim) to assign with NO centroid set, and "
    "with planes ≈ log2(n) the bucket count tracks n so candidate volume "
    "stays O(n). Both sides multi-probe their 2 least-confident flip "
    "buckets; exact copies bucket identically and are never missed. This "
    "declared form fixes n_planes=12 so the DuckDB oracle replays the "
    "chain exactly (centering AVG, sign bits, rounded flip ranking, "
    "hot-bucket cap, 6-decimal cosine); the library function's default "
    "adapts the plane count to ≈log2(n).",
)
def embedding_cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import embedding_neardup_pairs_lsh

    return embedding_neardup_pairs_lsh(
        augmented_embeddings(spark, sf_dir),
        threshold=0.99,
        n_planes=_LSH_ND_PLANES,
        n_flip=_LSH_ND_FLIP,
        bucket_cap=_LSH_ND_CAP,
    )


@register(
    "embedding_semdedup_lsh",
    f"""
    WITH {_lsh_neardup_pairs_cte_sql()},
    dups AS (
      SELECT id_b AS vec_id, COUNT(*) AS n_dup_neighbors
      FROM lsh_pairs GROUP BY id_b
    )
    SELECT a.vec_id,
           COALESCE(d.n_dup_neighbors, 0) AS n_dup_neighbors,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM aug a LEFT JOIN dups d USING (vec_id)
    """,
    doc="SemDeDup drop/keep materialization over the LINEAR-time "
    "LSH-blocked candidate chain (embedding_cosine_neardup_lsh) — the "
    "form that actually runs at 100 TB: same one-pass lower-id drop "
    "rule as embedding_semdedup, pair generation O(n) instead of "
    "Θ(n^1.5). Recall loss shows up only as a missed drop (a duplicate "
    "surviving), never a false drop — every emitted pair passed the "
    "exact cosine gate. Declared with the full exact oracle (same fixed "
    "12-plane HOF chain as the pair query, so the pair definition and "
    "its keep/drop materialization can never drift).",
)
def embedding_semdedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import embedding_neardup_pairs_lsh

    aug = augmented_embeddings(spark, sf_dir)
    pairs = embedding_neardup_pairs_lsh(
        aug,
        threshold=0.99,
        n_planes=_LSH_ND_PLANES,
        n_flip=_LSH_ND_FLIP,
        bucket_cap=_LSH_ND_CAP,
    )
    dups = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.count("*").alias("dup_n")
    )
    return aug.select("vec_id").join(dups, "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("dup_n"), F.lit(0)).alias("n_dup_neighbors"),
        F.col("dup_n").isNotNull().alias("is_dup"),
    )


@register(
    "media_features",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           octet_length(encode(text)) AS payload_bytes,
           ascii(substr(text, 1, 1)) AS first_byte
    FROM documents
    """,
    doc="multimodal: binary payload + typed metadata, Arrow-batched mapInPandas feature kernel (decode stubbed)",
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars") * 10.0).alias("duration_ms"),
    )
    return decode_features(media).select(
        "media_id", "kind", "payload_bytes", "first_byte"
    )


@register(
    "media_frame_plan",
    """
    SELECT doc_id AS media_id,
           unnest(range(0, greatest(CAST(ceil(n_chars * 10.0 / 1000.0) AS INT), 1))) AS frame_idx,
           unnest(range(0, greatest(CAST(ceil(n_chars * 10.0 / 1000.0) AS INT), 1))) * 1000.0 AS sample_at_ms
    FROM documents WHERE doc_id % 3 = 2
    """,
    doc="multimodal frame-sampling plan from metadata only (sequence+explode, no decode)",
)
def media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        (F.col("n_chars") * 10.0).alias("duration_ms"),
    ).filter(F.col("media_id") % 3 == 2)
    return frame_sample_plan(media, every_ms=1000.0)


@register(
    "media_exact_dedup",
    """
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             text, octet_length(encode(text)) AS payload_bytes
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END,
             text, octet_length(encode(text))
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT md5(text) AS digest, kind,
           MIN(media_id) AS keeper_id, COUNT(*) AS n_copies,
           CAST(SUM(payload_bytes) AS BIGINT) AS total_bytes
    FROM media GROUP BY md5(text), kind
    """,
    doc="multimodal exact dedup: content digest over the opaque payload "
    "bytes, grouped per (digest, kind) — byte-identical media collapse to "
    "one keeper regardless of modality metadata. Same single map-side-"
    "combined shuffle as docs_exact_dedup; the digest is computed on the "
    "binary column (DuckDB md5 hashes the same UTF-8 bytes), so a real "
    "image corpus swaps the synthesized payload without touching the plan",
)
def media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    base = docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    media = base.unionByName(copies)
    return (
        media.select(
            F.md5(F.col("payload")).alias("digest"),
            "kind",
            "media_id",
            F.octet_length(F.col("payload")).alias("payload_bytes"),
        )
        .groupBy("digest", "kind")
        .agg(
            F.min("media_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.sum("payload_bytes").cast("bigint").alias("total_bytes"),
        )
        .select("digest", "kind", "keeper_id", "n_copies", "total_bytes")
    )


# ViT-style patch geometry: synthesized image dims (deterministic from
# doc_id), 16px patches, grid capped 4x4 — the *plan* rows a patch-embed
# kernel would fan out over, computed entirely from metadata (no decode)
_PATCH_PX = 16


@register(
    "media_patch_plan",
    f"""
    WITH imgs AS (
      SELECT doc_id AS media_id,
             CAST(32 + (doc_id * 7) % 33 AS INT) AS width,
             CAST(32 + (doc_id * 11) % 33 AS INT) AS height
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT media_id, width, height,
           CAST(r.pr AS INT) AS patch_row, CAST(c.pc AS INT) AS patch_col,
           CAST(c.pc * {_PATCH_PX} AS INT) AS x0,
           CAST(r.pr * {_PATCH_PX} AS INT) AS y0
    FROM imgs,
         unnest(range(0, least(height // {_PATCH_PX}, 4))) AS r(pr),
         unnest(range(0, least(width // {_PATCH_PX}, 4))) AS c(pc)
    """,
    doc="multimodal patch-grid plan (ViT-style): one row per 16px patch of "
    "each image, from metadata only — the double explode is JVM-side "
    "sequence/Generate, so the expensive patch-embed kernel downstream "
    "starts from an already-partitioned patch list; grid capped 4x4 keeps "
    "the expansion factor a compile-time constant",
)
def media_patch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    imgs = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"),
        (32 + (F.col("doc_id") * 7) % 33).cast("int").alias("width"),
        (32 + (F.col("doc_id") * 11) % 33).cast("int").alias("height"),
    )
    n_rows = F.least(F.floor(F.col("height") / _PATCH_PX).cast("int"), F.lit(4))
    n_cols = F.least(F.floor(F.col("width") / _PATCH_PX).cast("int"), F.lit(4))

    # guarded like _shingle_spans: F.sequence(0, -1) silently REVERSES to
    # [0, -1] instead of being empty, so a sub-patch-size dimension (real
    # metadata can produce one; the synthesized 32..64 dims cannot) would
    # emit phantom patches with negative offsets where DuckDB's range()
    # emits nothing
    def span(n: F.Column) -> F.Column:
        return F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        )

    return (
        imgs.select(
            "media_id",
            "width",
            "height",
            F.explode(span(n_rows)).alias("patch_row"),
            n_cols.alias("_nc"),
        )
        .select(
            "media_id",
            "width",
            "height",
            "patch_row",
            F.explode(span(F.col("_nc"))).alias("patch_col"),
        )
        .select(
            "media_id",
            "width",
            "height",
            "patch_row",
            "patch_col",
            (F.col("patch_col") * _PATCH_PX).cast("int").alias("x0"),
            (F.col("patch_row") * _PATCH_PX).cast("int").alias("y0"),
        )
    )


@register(
    "docs_chunked",
    """
    SELECT d.doc_id,
           CAST(s.start / 24 AS BIGINT) AS chunk_id,
           array_to_string(list_slice(d.toks, s.start + 1, s.start + 32), ' ') AS chunk_text,
           least(32, len(d.toks) - s.start) AS n_chunk_tokens,
           len(d.toks) AS n_doc_tokens
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM documents) d,
         UNNEST(range(0, greatest(len(d.toks), 1), 24)) AS s(start)
    """,
    doc=(
        "document chunking into overlapping token windows (size 32, stride "
        "24) — the standard pre-embedding step of a training-data pipeline. "
        "Pure codegen: tokenize once, sequence+explode the window starts, "
        "slice per chunk. Narrow except for the explode, which multiplies "
        "rows by ~n_tokens/stride with no shuffle — partition count scales "
        "with input splits, exactly what a 100 TB corpus wants."
    ),
)
def docs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 32, 24
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    chunked = toks.select(
        "doc_id",
        "toks",
        F.explode(chunk_spans(F.col("toks"), stride)).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, size)
    return chunked.select(
        "doc_id",
        (F.col("start") / stride).cast("bigint").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.least(F.lit(size), F.size("toks") - F.col("start")).alias("n_chunk_tokens"),
        F.size("toks").alias("n_doc_tokens"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline stages (llm/pipeline.py): PII scrub, duplicate
# clustering, split+shard packing, BM25 retrieval
# ---------------------------------------------------------------------------

from cupertino_nvr_spark.llm.dedup import lsh_band_membership  # noqa: E402
from cupertino_nvr_spark.llm.pipeline import (  # noqa: E402
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    bm25_scores,
    duplicate_clusters,
    pii_scrub,
    shard_pack,
)

# documents with deterministic PII planted (both engines build the same
# rows): an email every 4th doc, a phone every 5th, an IPv4 every 6th
_PII_SQL = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 4 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE '' END
         || CASE WHEN doc_id % 5 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
         || CASE WHEN doc_id % 6 = 0
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
                   || '.' || CAST(doc_id % 100 AS VARCHAR)
              ELSE '' END AS text
  FROM documents
"""


def pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
        F.when(
            did % 6 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit("."),
                (did * 7 % 256).cast("string"),
                F.lit("."),
                (did % 100).cast("string"),
            ),
        ).otherwise(""),
    )
    return docs.select("doc_id", text.alias("text"))


@register(
    "docs_pii_scrub",
    f"""
    WITH pii AS ({_PII_SQL})
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(text, '{IPV4_RE}')) AS n_ips,
           len(regexp_extract_all(text, '{EMAIL_RE}'))
             + len(regexp_extract_all(text, '{PHONE_RE}'))
             + len(regexp_extract_all(text, '{IPV4_RE}')) > 0 AS has_pii,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g'),
               '{IPV4_RE}', '<IP>', 'g')) AS clean_fp,
           length(regexp_replace(regexp_replace(regexp_replace(text,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g'),
               '{IPV4_RE}', '<IP>', 'g')) AS clean_len
    FROM pii
    """,
    doc="PII audit + redaction over planted emails/phones/IPv4s: RE2-compatible "
    "regex detect counts and placeholder redaction, one codegen projection",
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scrub(pii_docs(spark, sf_dir))


def _dup_cluster_frames(spark: SparkSession, sf_dir: str):
    """(augmented corpus, cluster assignments) with the SAME LSH parameters
    the _CLUSTER_CTE_SQL oracle pins — single Spark-side definition for
    docs_dup_clusters and docs_dedup_survivors."""
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    aug = augmented_docs(spark, sf_dir)
    # both banding arms (hot-bucket count + anti-join left) consume the
    # signature table; materialize it once (16 B/doc) so the shingle-md5
    # aggregate runs once, not per arm
    sigs = reliable_checkpoint(
        minhash_signature(aug, num_hashes=8, shingle_k=3, hash_fn="md5")
    )
    memb = lsh_band_membership(sigs, num_hashes=8, band_size=2, band_cap=64).select(
        "doc_id",
        F.concat_ws(":", F.col("band_idx"), F.col("band_key")).alias("bkey"),
    )
    return aug, duplicate_clusters(aug, memb, id_col="doc_id", key_col="bkey")


@register(
    "docs_dup_clusters",
    f"""
    WITH RECURSIVE {_CLUSTER_CTE_SQL}
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
    doc="near-duplicate clusters: connected components over MinHash band "
    "membership by pairless star contraction (each band stars its members "
    "onto its min member, then large-star/small-star rounds, independent "
    "of graph diameter; edges linear in membership rows); oracle is the "
    "recursive-CTE transitive closure of the same band graph",
)
def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dup_cluster_frames(spark, sf_dir)[1]


# B-cubed clustering quality (Bagga & Baldwin 1998, the standard
# extrinsic clustering eval): score the MinHash-band candidate clusters
# against the corpus-construction gold (every augmented variant's gold
# class is its source doc: doc_id % 1e6 — exact copies, tail near-copies,
# cased variants, and the sub-shingle-width truncations all belong with
# their source). Element-averaged precision/recall reduce to
# sum(n_ij^2 / |C_i|) / N and sum(n_ij^2 / |G_j|) / N over the
# (cluster, gold) contingency counts — O(elements), never pairwise.
@register(
    "docs_cluster_bcubed",
    f"""
    WITH RECURSIVE {_CLUSTER_CTE_SQL},
    labeled AS (
      SELECT doc_id, cluster_id, doc_id % 1000000 AS gold_id FROM comp
    ),
    cont AS (
      SELECT cluster_id, gold_id, COUNT(*) AS nij
      FROM labeled GROUP BY 1, 2
    ),
    csz AS (SELECT cluster_id, COUNT(*) AS ci FROM labeled GROUP BY 1),
    gsz AS (SELECT gold_id, COUNT(*) AS gj FROM labeled GROUP BY 1),
    terms AS (
      SELECT CAST(round(CAST(nij * nij AS DOUBLE) / ci, 9) AS DECIMAL(24,9)) AS p_term,
             CAST(round(CAST(nij * nij AS DOUBLE) / gj, 9) AS DECIMAL(24,9)) AS r_term,
             nij
      FROM cont JOIN csz USING (cluster_id) JOIN gsz USING (gold_id)
    ),
    agg AS (
      SELECT CAST(SUM(nij) AS BIGINT) AS n_elements,
             CAST(SUM(p_term) AS DOUBLE) AS psum,
             CAST(SUM(r_term) AS DOUBLE) AS rsum
      FROM terms
    )
    SELECT n_elements,
           round(psum / n_elements, 6) AS bcubed_precision,
           round(rsum / n_elements, 6) AS bcubed_recall,
           round(2 * (psum / n_elements) * (rsum / n_elements)
                 / (psum / n_elements + rsum / n_elements), 6) AS bcubed_f1
    FROM agg
    """,
    doc=(
        "B-cubed clustering quality (Bagga & Baldwin 1998) of the "
        "MinHash-band candidate dup clusters against the corpus-"
        "construction gold (gold class = source doc id; the truncated "
        "variants are sub-shingle-width, so perfect recall is "
        "structurally impossible — the eval measures exactly that "
        "blocking tradeoff). Element-averaged precision/recall reduce "
        "to contingency-count identities (sum nij^2/|C| and nij^2/|G| "
        "over (cluster, gold) cells) — O(elements) aggregates on the "
        "SAME shared cluster chain as docs_dup_clusters, never a "
        "pairwise join; per-cell terms ride fixed-point DECIMAL(24,9) "
        "so the averages hash-match across engines."
    ),
)
def docs_cluster_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug, clusters = _dup_cluster_frames(spark, sf_dir)
    return _bcubed_from_clusters(clusters)


def _bcubed_from_clusters(clusters: DataFrame) -> DataFrame:
    """B-cubed quality row over any (doc_id, cluster_id) assignment frame
    (gold class = doc_id % 1e6, the corpus-construction truth) — shared
    by the registry entry and llm.export's materialize-once path."""
    labeled = clusters.select(
        "doc_id", "cluster_id", (F.col("doc_id") % 1000000).alias("gold_id")
    )
    cont = labeled.groupBy("cluster_id", "gold_id").agg(
        F.count("*").alias("nij")
    )
    csz = labeled.groupBy("cluster_id").agg(F.count("*").alias("ci"))
    gsz = labeled.groupBy("gold_id").agg(F.count("*").alias("gj"))
    terms = (
        cont.join(csz, "cluster_id")
        .join(gsz, "gold_id")
        .select(
            "nij",
            F.round((F.col("nij") * F.col("nij")).cast("double") / F.col("ci"), 9)
            .cast("decimal(24,9)")
            .alias("p_term"),
            F.round((F.col("nij") * F.col("nij")).cast("double") / F.col("gj"), 9)
            .cast("decimal(24,9)")
            .alias("r_term"),
        )
    )
    agg = terms.agg(
        F.sum("nij").cast("bigint").alias("n_elements"),
        F.sum("p_term").cast("double").alias("psum"),
        F.sum("r_term").cast("double").alias("rsum"),
    )
    p = F.col("psum") / F.col("n_elements")
    r = F.col("rsum") / F.col("n_elements")
    return agg.select(
        "n_elements",
        F.round(p, 6).alias("bcubed_precision"),
        F.round(r, 6).alias("bcubed_recall"),
        F.round(2 * p * r / (p + r), 6).alias("bcubed_f1"),
    )


@register(
    "docs_dedup_survivors",
    f"""
    WITH RECURSIVE {_CLUSTER_CTE_SQL},
    sized AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM comp
    ),
    withlen AS (
      SELECT s.doc_id, s.cluster_id, s.cluster_size, length(a.text) AS text_len
      FROM sized s JOIN aug a USING (doc_id)
    ),
    mx AS (SELECT cluster_id, MAX(text_len) AS max_len
           FROM withlen GROUP BY cluster_id),
    surv AS (
      SELECT w.cluster_id, MIN(w.doc_id) AS survivor_id
      FROM withlen w JOIN mx USING (cluster_id)
      WHERE w.text_len = mx.max_len
      GROUP BY w.cluster_id
    )
    SELECT w.doc_id, w.cluster_id, w.cluster_size, w.text_len,
           (w.doc_id = s.survivor_id) AS is_survivor
    FROM withlen w JOIN surv s USING (cluster_id)
    """,
    doc="the dedup stage's final materialization: every doc tagged with its "
    "near-dup cluster and an is_survivor flag (longest text wins, ties -> "
    "smallest id). Survivor selection is max_by over a (len, -id) struct — "
    "map-side partial aggregation, so a pathological million-doc cluster "
    "costs one combine per partition, never a per-cluster sort. Downstream "
    "keeps survivors and drops or remaps the rest",
)
def docs_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.pipeline import dedup_survivors

    aug, clusters = _dup_cluster_frames(spark, sf_dir)
    docs = aug.select("doc_id", F.length("text").alias("text_len"))
    return dedup_survivors(docs, clusters)


@register(
    "docs_train_shards",
    f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN {_md5_int_sql('CAST(doc_id AS VARCHAR)', 5)} % 10 <= 7 THEN 'train'
                  WHEN {_md5_int_sql('CAST(doc_id AS VARCHAR)', 5)} % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split,
             CAST({_md5_int_sql('CAST(doc_id AS VARCHAR)', 7)} % 16 AS INT) AS bucket,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, split, bucket, n_tokens,
           CAST(FLOOR((CAST(SUM(n_tokens) OVER w AS BIGINT) - n_tokens) / 2048) AS BIGINT)
             AS shard_in_bucket,
           CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens
    FROM base
    WINDOW w AS (PARTITION BY split, bucket ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    """,
    doc="deterministic 80/10/10 hash split + greedy token-budget shard packing "
    "(budget 2048) windowed per (split, hash-bucket) so packing parallelizes "
    "across 16 buckets instead of one global sorted stream",
)
def docs_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_pack(load_table(spark, "documents", sf_dir))


_BM25_QUERIES = [
    (1, "spark"),
    (1, "join"),
    (2, "hash"),
    (2, "table"),
    (3, "vector"),
    (3, "scan"),
]


# THE BM25 scoring chain (q→toks→tf→dl→stats→dft→contrib→scored→ranked
# CTEs) — shared by docs_bm25_search and the hybrid-RRF fusion so the
# sparse leg under fusion is exactly the retrieval being fused.
def _bm25_chain_sql() -> str:
    return f"""q(query_id, term) AS (
      VALUES {", ".join(f"({qid}, '{t}')" for qid, t in _BM25_QUERIES)}
    ),
    toks AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS f FROM toks
      WHERE term IN (SELECT term FROM q) GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT q.query_id, tf.doc_id,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (f * 2.25) / (f + 1.25 * (0.25 + 0.75 * dl / avgdl)) AS term_score
      FROM tf
      JOIN dft USING (term) JOIN q USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    scored AS (
      SELECT query_id, doc_id, round(SUM(term_score), 6) AS score
      FROM contrib GROUP BY 1, 2
    ),
    bm_ranked AS (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
      FROM scored
    )"""


@register(
    "docs_bm25_search",
    f"""
    WITH {_bm25_chain_sql()}
    SELECT query_id, doc_id, score, rank FROM bm_ranked WHERE rank <= 10
    """,
    doc="BM25 top-10 retrieval for a 3-query term set: broadcast query terms "
    "semi-prune the exploded corpus before any aggregation; k1=1.25/b=0.75 are "
    "exactly-representable doubles so per-term scores are bit-identical "
    "across engines (only the final sum is order-sensitive, absorbed by round)",
)
def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    return bm25_scores(
        load_table(spark, "documents", sf_dir), queries, k1=1.25, b=0.75, top_k=10
    )


# per-class keep rates for the deterministic stratified sample: the
# rebalancing recipe of a training pipeline (downsample the dominant
# classes, keep the rare ones). Rates are percents of a hash residue so
# both engines sample the identical rows.
_STRATA_RATES = {"click": 10, "view": 25, "signup": 50, "error": 75, "purchase": 100}


@register(
    "events_stratified_sample",
    f"""
    WITH rated AS (
      SELECT event_id, event_type, user_id, value,
             CASE event_type
               {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_STRATA_RATES.items()))}
               ELSE 0 END AS keep_pct,
             {_md5_int_sql('CAST(event_id AS VARCHAR)', 11)} % 100 AS residue
      FROM events
    )
    SELECT event_id, event_type, user_id, value, keep_pct, residue
    FROM rated WHERE residue < keep_pct
    """,
    doc="deterministic stratified sampling for class rebalancing: per-stratum "
    "keep rate applied as a hash-residue filter — reproducible across runs and "
    "engines, no RNG state; one scan, filter fully codegen, no shuffle",
)
def events_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import md5_int

    ev = load_table(spark, "events", sf_dir)
    rate = F.lit(None).cast("int")
    for k, v in sorted(_STRATA_RATES.items()):
        rate = F.when(F.col("event_type") == k, v).otherwise(rate)
    residue = F.pmod(md5_int(F.col("event_id").cast("string"), seed=11), F.lit(100))
    return (
        ev.select(
            "event_id",
            "event_type",
            "user_id",
            "value",
            F.coalesce(rate, F.lit(0)).alias("keep_pct"),
            residue.alias("residue"),
        )
        .filter(F.col("residue") < F.col("keep_pct"))
    )


@register(
    "docs_vocab_topk",
    """
    WITH toks AS (
      SELECT lower(term) AS term FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents)
    ),
    counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term)
    SELECT term, n, rank FROM (
      SELECT term, n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank
      FROM counts) WHERE rank <= 50
    """,
    doc="corpus vocabulary top-50: explode + count + global top-k. The "
    "groupBy partial-aggregates map-side so the shuffle carries one row per "
    "(partition, term); the final rank is a TakeOrdered over distinct terms, "
    "never the token stream",
)
def docs_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("term"))
        .select(F.lower(F.col("term")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    # Top-k first via orderBy().limit() — Catalyst plans TakeOrderedAndProject
    # (per-partition heaps + driver merge of 50-row heads), so the full
    # distinct-term set is never funneled through one task. The row_number
    # window then ranks only the 50 survivors; its single partition is trivial.
    top = counts.orderBy(F.col("n").desc(), F.col("term")).limit(50)
    w = Window.orderBy(F.col("n").desc(), F.col("term"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("term", "n", "rank")
    )


@register(
    "embedding_lsh_ann_multiprobe",
    f"""
    WITH {_LSH_BASE_SQL},
    pr AS (
      SELECT vec_id AS probe_id, e AS pvec, bucket,
             list_sort(list_transform(range(0, 8),
                 p -> {{'a': abs(projs[p+1]), 'plane': p}})) AS ranked
      FROM bucketed WHERE vec_id % 100 = 0
    ),
    pbuckets AS (
      SELECT probe_id, pvec,
             unnest([bucket,
                     CAST(xor(bucket, CAST(1 AS BIGINT) << ranked[1].plane) AS INT),
                     CAST(xor(bucket, CAST(1 AS BIGINT) << ranked[2].plane) AS INT)])
               AS bucket
      FROM pr
    )
    {_LSH_RERANK_SQL}
    """,
    doc="multi-probe LSH ANN: each probe also searches the buckets reached by "
    "flipping its 2 least-confident hyperplane bits — higher recall for 3x "
    "probe-side candidates, zero extra corpus-side work. The flip choice "
    "(weakest |projection|, plane-index tiebreak) is replayed exactly by the "
    "oracle's struct sort",
)
def embedding_lsh_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return lsh_ann_topk(emb, probes, dim=64, k=5, n_flip=2)


# lowered whitespace token list, shared by the repetition / LM / contamination
# oracles (mirrors ws_tokens(F.lower(text)))
_LTOK_SQL = "string_split_regex(trim(lower(text)), '\\s+')"

# content-defined chunking: a boundary opens before token i when the 3-gram
# starting at i hashes to 0 mod _CDC_DIV — expected chunk length ~_CDC_DIV
# tokens, and (the point of CDC) boundaries depend only on LOCAL content,
# so an insertion re-chunks one neighborhood instead of shifting every
# fixed-width window downstream
_CDC_DIV = 16


@register(
    "docs_cdc_chunk_dedup",
    f"""
    WITH aug AS ({_AUG_SQL}),
    toked AS (SELECT doc_id, {_LTOK_SQL} AS t FROM aug),
    bounded AS (
      SELECT doc_id, t,
             list_concat([1], list_filter(range(2, greatest(len(t) - 1, 2)),
               i -> {_md5_int_sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2]", 17)}
                    % {_CDC_DIV} = 0)) AS starts
      FROM toked
    ),
    chunks AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(starts) + 1),
               j -> md5(array_to_string(
                      t[starts[j]:(CASE WHEN j < len(starts)
                                   THEN starts[j+1] - 1 ELSE len(t) END)],
                      ' ')))) AS digest
      FROM bounded
    ),
    df AS (SELECT digest, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY digest)
    SELECT c.doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
             AS shared_chunk_ratio
    FROM chunks c JOIN df USING (digest)
    GROUP BY c.doc_id
    """,
    doc="content-defined chunk dedup (gear-hash CDC at token granularity, "
    "the rsync/LBFS trick): chunk boundaries open where a local 3-gram hash "
    "is 0 mod 16, so insertions re-chunk one neighborhood instead of "
    "shifting every downstream window — the augmented corpus's tail-marker "
    "near-copies share all but their final chunk. Per-doc shared-chunk "
    "ratio via one chunk-digest df aggregation and a keyed join; boundary "
    "selection and digests are integer/md5-exact across engines",
)
def docs_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import md5_int

    aug = augmented_docs(spark, sf_dir)
    toked = aug.select("doc_id", ws_tokens(F.lower(F.col("text"))).alias("_toks"))
    t = F.col("_toks")
    n = F.size(t)
    gram3 = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
    )
    # interior 3-gram starts: 2..n-2, empty for n < 4 (guarded — sequence
    # auto-reverses when end < start; matches the oracle's exclusive range)
    interior = F.when(n >= 4, F.sequence(F.lit(2), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    starts = F.concat(
        F.array(F.lit(1)),
        F.filter(
            interior,
            lambda i: F.pmod(md5_int(gram3(i), seed=17), F.lit(_CDC_DIV)) == 0,
        ),
    )
    bounded = toked.select("doc_id", t.alias("_toks"), starts.alias("starts"))
    s = F.col("starts")
    tt = F.col("_toks")
    # chunk j spans starts[j] .. (starts[j+1]-1 | n); digest the joined text.
    # Built and exploded in ONE select — exploding a prior projection's
    # array re-evaluates it per output row (see docs_contamination).
    digests = F.transform(
        F.sequence(F.lit(1), F.size(s)),
        lambda j: F.md5(
            F.array_join(
                F.slice(
                    tt,
                    F.element_at(s, j),
                    F.when(
                        j < F.size(s),
                        F.element_at(s, j + 1) - F.element_at(s, j),
                    ).otherwise(F.size(tt) - F.element_at(s, j) + 1),
                ),
                " ",
            )
        ),
    )
    chunks = bounded.select("doc_id", F.explode(digests).alias("digest"))
    df_tbl = chunks.groupBy("digest").agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        chunks.join(df_tbl, "digest")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_shared_chunks"
            ),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            (F.col("n_shared_chunks") / F.col("n_chunks")).alias(
                "shared_chunk_ratio"
            ),
        )
    )


@register(
    "docs_repetition_quality",
    f"""
    WITH toked AS (SELECT doc_id, {_LTOK_SQL} AS t FROM documents),
    gramd AS (
      SELECT doc_id, t,
             list_transform(range(1, greatest(len(t), 1)),
                            i -> t[i] || ' ' || t[i+1]) AS g2
      FROM toked
    )
    SELECT doc_id,
           len(t) AS n_tok,
           len(list_distinct(t)) * 1.0 / len(t) AS distinct_token_ratio,
           list_max(list_transform(list_distinct(t),
                    u -> len(list_filter(t, x -> x = u)))) * 1.0 / len(t)
             AS top_token_frac,
           CASE WHEN len(g2) = 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(g2)) * 1.0 / len(g2) END
             AS dup_2gram_ratio,
           (len(list_distinct(t)) * 1.0 / len(t) >= 0.2
            AND list_max(list_transform(list_distinct(t),
                         u -> len(list_filter(t, x -> x = u)))) * 1.0 / len(t) <= 0.2
            AND (CASE WHEN len(g2) = 0 THEN 0.0
                 ELSE 1.0 - len(list_distinct(g2)) * 1.0 / len(g2) END) <= 0.6)
             AS passes_repetition_rules
    FROM gramd
    """,
    doc="repetition-based quality rules in the style published for the Gopher "
    "corpus pipeline: distinct-token ratio, most-frequent-token fraction, and "
    "duplicate-2-gram ratio, plus a pass/fail gate. Pure per-row array "
    "expressions — a projection with NO shuffle, so the filter runs at scan "
    "speed on any corpus size; all ratios are exact small-integer divisions, "
    "bit-identical across engines",
)
def docs_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import _shingle_spans

    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.lower(F.col("text")))
    docs = docs.select("doc_id", toks.alias("t"))
    t = F.col("t")
    # non-distinct 2-grams: duplicate ratio needs occurrence counts
    g2 = F.transform(
        _shingle_spans(F.size(t), 2),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    docs = docs.select("doc_id", t.alias("t"), g2.alias("g2"))
    n_tok = F.size(t)
    distinct_ratio = F.size(F.array_distinct(t)) / n_tok
    # one sort + linear run-length pass (llm.text.max_token_run_frac doc)
    top_frac = max_token_run_frac(t)
    dup2 = F.when(F.size(F.col("g2")) == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(F.col("g2"))) / F.size(F.col("g2"))
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        distinct_ratio.alias("distinct_token_ratio"),
        top_frac.alias("top_token_frac"),
        dup2.alias("dup_2gram_ratio"),
        ((distinct_ratio >= 0.2) & (top_frac <= 0.2) & (dup2 <= 0.6)).alias(
            "passes_repetition_rules"
        ),
    )


@register(
    "docs_unigram_lm_score",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_LTOK_SQL}) AS term FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
    tot AS (SELECT SUM(tf) AS n_total FROM tf)
    SELECT doc_id, COUNT(*) AS n_tok,
           ROUND(AVG(-ln(tf * 1.0 / n_total)), 6) AS avg_neg_logp
    FROM toks JOIN tf USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="corpus-trained unigram language-model score (perplexity proxy): "
    "p(term) = tf/N over the whole corpus, per-doc mean negative log-prob. "
    "The classic cheap fluency filter for pretraining data. Three keyed "
    "shuffles (term counts with map-side combine, token->tf join on term, "
    "per-doc agg); the 1-row total rides a broadcast cross join. Rounded to "
    "6 decimals to absorb summation-order ulps between engines",
)
def docs_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("n_total"))
    return (
        toks.join(tf, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.round(F.avg(-F.log(F.col("tf") / F.col("n_total"))), 6).alias(
                "avg_neg_logp"
            ),
        )
    )


@register(
    "docs_perplexity_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_LTOK_SQL}) AS term FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
    tot AS (SELECT SUM(tf) AS n_total FROM tf),
    scored AS (
      SELECT doc_id, lang, ROUND(AVG(-ln(tf * 1.0 / n_total)), 6) AS avg_neg_logp
      FROM toks JOIN tf USING (term) CROSS JOIN tot
      GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, avg_neg_logp,
           NTILE(3) OVER (PARTITION BY lang ORDER BY avg_neg_logp, doc_id)
             AS bucket,
           CASE NTILE(3) OVER (PARTITION BY lang ORDER BY avg_neg_logp, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS band
    FROM scored
    """,
    doc="CCNet-style perplexity bucketing: per-language head/middle/tail "
    "terciles of the corpus-unigram fluency score (head = most fluent, the "
    "slice CCNet keeps preferentially). NTILE partitions by language so "
    "each partition sorts independently — no global sort; the score chain "
    "is the unigram-LM plan (term counts + token-term join + per-doc agg) "
    "with lang carried through. Ties broken by doc_id so the tercile "
    "boundary is deterministic in both engines",
)
def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", "lang", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("n_total"))
    scored = (
        toks.join(tf, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.round(F.avg(-F.log(F.col("tf") / F.col("n_total"))), 6).alias(
                "avg_neg_logp"
            )
        )
    )
    w = Window.partitionBy("lang").orderBy("avg_neg_logp", "doc_id")
    bucket = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "avg_neg_logp",
        bucket.alias("bucket"),
        F.when(bucket == 1, "head")
        .when(bucket == 2, "middle")
        .otherwise("tail")
        .alias("band"),
    )


# temperature exponent for language rebalancing: keep_rate(lang) =
# (min_lang_count / lang_count) ** ALPHA — 1.0 for the rarest language,
# sublinear downsampling for dominant ones (alpha=0.5 is the common
# multilingual-training choice)
_LANG_ALPHA = 0.5


@register(
    "docs_lang_balanced_sample",
    f"""
    WITH lc AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    mn AS (SELECT MIN(n_l) AS min_n FROM lc),
    rates AS (
      SELECT lang, n_l,
             CAST(FLOOR(SQRT(min_n * 1.0 / n_l) * 1000000) AS BIGINT) AS keep_ppm
      FROM lc CROSS JOIN mn
    )
    SELECT d.doc_id, d.lang, r.n_l AS lang_total, r.keep_ppm,
           {_md5_int_sql("CAST(doc_id AS VARCHAR)", 29)} % 1000000 AS residue
    FROM documents d JOIN rates r USING (lang)
    WHERE {_md5_int_sql("CAST(doc_id AS VARCHAR)", 29)} % 1000000 < r.keep_ppm
    """,
    doc="temperature-based language rebalancing (alpha=0.5): per-language "
    "keep rate (min_n/n_l)^alpha applied as a deterministic hash-residue "
    "filter, so both engines (and any two cluster runs) keep the identical "
    "rows — no RNG state. The 5-row rate table broadcasts; the corpus side "
    "is one scan + codegen filter, no shuffle of document rows. sqrt and "
    "multiply are IEEE correctly-rounded, so the ppm thresholds are "
    "bit-identical across engines",
)
def docs_lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import md5_int

    docs = load_table(spark, "documents", sf_dir)
    lc = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    mn = lc.agg(F.min("n_l").alias("min_n"))
    rates = lc.crossJoin(F.broadcast(mn)).select(
        "lang",
        F.col("n_l").alias("lang_total"),
        F.floor(F.sqrt(F.col("min_n") / F.col("n_l")) * 1000000)
        .cast("bigint")
        .alias("keep_ppm"),
    )
    residue = F.pmod(md5_int(F.col("doc_id").cast("string"), seed=29), F.lit(1000000))
    return (
        docs.join(F.broadcast(rates), "lang")
        .select("doc_id", "lang", "lang_total", "keep_ppm", residue.alias("residue"))
        .filter(F.col("residue") < F.col("keep_ppm"))
    )


@register(
    "docs_hot_ngram_coverage",
    f"""
    WITH toked AS (SELECT doc_id, {_LTOK_SQL} AS t FROM documents),
    gramd AS (
      SELECT doc_id, len(t) AS n_tok,
             list_transform(range(1, greatest(len(t), 1)),
                            i -> t[i] || ' ' || t[i+1]) AS g2
      FROM toked
    ),
    pos AS (
      SELECT doc_id, n_tok, unnest(g2) AS gram,
             unnest(range(1, len(g2) + 1)) AS s
      FROM gramd
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    hot AS (
      SELECT gram FROM pos CROSS JOIN n
      GROUP BY gram, n_docs HAVING COUNT(DISTINCT doc_id) * 20 >= n_docs
    )
    SELECT doc_id, n_tok, COUNT(*) AS n_hot_grams,
           len(list_distinct(flatten(list_transform(list(s), x -> [x, x + 1]))))
             AS covered_tok,
           len(list_distinct(flatten(list_transform(list(s), x -> [x, x + 1]))))
             * 1.0 / n_tok AS coverage_ratio
    FROM pos JOIN hot USING (gram)
    GROUP BY doc_id, n_tok
    """,
    doc="memorization-risk audit in the spirit of exact-substring dedup "
    "(Lee et al. 2021, arXiv:2107.06499) at n-gram granularity: find "
    "boilerplate 2-grams whose document frequency reaches 5% of the corpus "
    "(df*20 >= n_docs — integer arithmetic, no float threshold), then "
    "report per doc how many token positions those grams cover. One "
    "corpus-wide df aggregation; the hot set is small by construction so it "
    "broadcasts and the corpus side joins without shuffling; coverage is a "
    "per-doc interval-union over start positions, all integer ops",
)
def docs_hot_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import _shingle_spans

    docs = load_table(spark, "documents", sf_dir)
    # materialize tokens as a real column FIRST: element_at references
    # inside the shingle lambda must hit a computed array attribute, not an
    # inlined split() subtree re-evaluated per element (see shingle_rows).
    # The (start, gram) struct is built inside the SAME transform and
    # exploded in the SAME select: exploding an array column computed by an
    # earlier projection makes Generate re-evaluate that transform once per
    # OUTPUT row (measured 13x slower at sf0.1).
    toked = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("_toks")
    )
    t = F.col("_toks")
    pairs = F.transform(
        _shingle_spans(F.size(t), 2),
        lambda i: F.struct(
            i.alias("s"),
            F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)).alias(
                "gram"
            ),
        ),
    )
    pos = toked.select(
        "doc_id", F.size(t).alias("n_tok"), F.explode(pairs).alias("p")
    ).select("doc_id", "n_tok", F.col("p.gram").alias("gram"), F.col("p.s").alias("s"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    hot = (
        pos.crossJoin(F.broadcast(n_docs))
        .groupBy("gram", "n_docs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") * 20 >= F.col("n_docs"))
        .select("gram")
    )
    covered = F.size(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.collect_list("s"), lambda x: F.array(x, x + F.lit(1))
                )
            )
        )
    )
    return (
        pos.join(F.broadcast(hot), "gram")
        .groupBy("doc_id", "n_tok")
        .agg(F.count("*").alias("n_hot_grams"), covered.alias("covered_tok"))
        .select(
            "doc_id",
            "n_tok",
            "n_hot_grams",
            "covered_tok",
            (F.col("covered_tok") / F.col("n_tok")).alias("coverage_ratio"),
        )
    )


# -- int8 quantization codebook, shared by embedding_int8_quant and
# embedding_int8_ann: ONE definition of the per-dim stats and the
# quantize/dequantize expressions per engine, so the ANN baseline can never
# drift from the codebook the quantizer reports.

_INT8_STATS_SQL = """dims AS (
      SELECT unnest(embedding) AS v,
             unnest(range(1, len(embedding) + 1)) AS dim
      FROM embeddings
    ),
    stats AS (
      SELECT dim, MIN(CAST(v AS DOUBLE)) AS mn, MAX(CAST(v AS DOUBLE)) AS mx
      FROM dims GROUP BY dim
    ),
    packed AS (
      SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs
      FROM stats
    )"""

_INT8_QCODE_SQL = (
    "CASE WHEN maxs[i] = mins[i] THEN 0"
    " ELSE CAST(ROUND((CAST(embedding[i] AS DOUBLE) - mins[i])"
    " * 255.0 / (maxs[i] - mins[i])) AS INT) END"
)
_INT8_DQ_SQL = f"mins[i] + ({_INT8_QCODE_SQL}) * (maxs[i] - mins[i]) / 255.0"


def _int8_packed(emb: DataFrame) -> DataFrame:
    """1-row (mins, maxs) per-dimension codebook frame (broadcastable)."""
    dims = emb.select(F.posexplode("embedding").alias("p0", "v")).select(
        (F.col("p0") + 1).alias("dim"), F.col("v").cast("double").alias("v")
    )
    stats = dims.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    return stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s.mn
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s.mx
        ).alias("maxs"),
    )


def _int8_exprs():
    """(x, mn, mx, qcode, dq) column-builder lambdas over a frame that has
    ``embedding`` plus the packed ``mins``/``maxs`` arrays."""
    x = lambda i: F.element_at(F.col("embedding"), i).cast("double")  # noqa: E731
    mn = lambda i: F.element_at(F.col("mins"), i)  # noqa: E731
    mx = lambda i: F.element_at(F.col("maxs"), i)  # noqa: E731
    qcode = lambda i: F.when(mx(i) == mn(i), F.lit(0)).otherwise(  # noqa: E731
        F.round((x(i) - mn(i)) * 255.0 / (mx(i) - mn(i))).cast("int")
    )
    dq = lambda i: mn(i) + qcode(i) * (mx(i) - mn(i)) / 255.0  # noqa: E731
    return x, mn, mx, qcode, dq


@register(
    "embedding_int8_quant",
    f"""
    WITH {_INT8_STATS_SQL}
    SELECT vec_id,
           array_to_string(list_transform(range(1, len(embedding) + 1),
             i -> {_INT8_QCODE_SQL}), '|') AS q,
           ROUND(list_sum(list_transform(range(1, len(embedding) + 1),
             i -> POWER(CAST(embedding[i] AS DOUBLE) - ({_INT8_DQ_SQL}), 2)))
             / len(embedding), 6) AS mse
    FROM embeddings CROSS JOIN packed
    """,
    doc="per-dimension affine int8 quantization of the embedding corpus — "
    "the standard 4x memory compression applied before ANN serving. "
    "Per-dim min/max is one 64-group aggregation with map-side combine "
    "(shuffle carries partitions x dims rows, not vectors); the 1-row "
    "packed stats frame broadcasts and quantization is a pure projection. "
    "Quantized codes are exact integers; the reconstruction MSE is rounded "
    "to absorb summation ulps. Codes are emitted as one '|'-joined string "
    "column (not array<int>) so the result schema is scalar-only — the "
    "external comparator cannot sort list-typed columns",
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    packed = _int8_packed(emb)
    x, _, _, qcode, dq = _int8_exprs()
    idx = F.sequence(F.lit(1), F.size("embedding"))
    q = F.transform(idx, qcode)
    mse = F.round(
        F.aggregate(
            F.transform(idx, lambda i: F.pow(x(i) - dq(i), F.lit(2))),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        / F.size("embedding"),
        6,
    )
    return emb.crossJoin(F.broadcast(packed)).select(
        "vec_id",
        F.concat_ws("|", q.cast("array<string>")).alias("q"),
        mse.alias("mse"),
    )


@register(
    "docs_bigram_lm_score",
    f"""
    WITH toked AS (SELECT doc_id, {_LTOK_SQL} AS t FROM documents),
    bi AS (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t), 1)),
                            i -> t[i] || ' ' || t[i+1])) AS bigram,
             unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i])) AS w1
      FROM toked
    ),
    bf AS (SELECT bigram, COUNT(*) AS bf FROM bi GROUP BY bigram),
    uf AS (SELECT w1, COUNT(*) AS uf FROM bi GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w1) AS vsize FROM bi)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-ln((bf + 1.0) / (uf + vsize))), 6) AS avg_neg_logp
    FROM bi JOIN bf USING (bigram) JOIN uf USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
    doc="bigram language-model fluency score with add-one (Laplace) "
    "smoothing: p(w2|w1) = (count(w1 w2)+1)/(count(w1 ·)+|V|), where |V| is "
    "the distinct left-context vocabulary, per-doc mean negative log-prob — "
    "the next step up from the unigram filter and still pure joins+aggs: "
    "bigram and left-unigram counts are two map-side-combined shuffles, the "
    "1-row vocabulary size broadcasts, and scoring is one equi-join per "
    "table. Rounded to absorb summation-order ulps",
)
def docs_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import _shingle_spans

    docs = load_table(spark, "documents", sf_dir)
    t = ws_tokens(F.lower(F.col("text")))
    toked = docs.select("doc_id", t.alias("t"))
    tc = F.col("t")
    pairs = F.transform(
        _shingle_spans(F.size(tc), 2),
        lambda i: F.struct(
            F.concat_ws(
                " ", F.element_at(tc, i), F.element_at(tc, i + 1)
            ).alias("bigram"),
            F.element_at(tc, i).alias("w1"),
        ),
    )
    bi = toked.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.bigram").alias("bigram"), F.col("p.w1").alias("w1")
    )
    bf = bi.groupBy("bigram").agg(F.count("*").alias("bf"))
    uf = bi.groupBy("w1").agg(F.count("*").alias("uf"))
    v = bi.agg(F.countDistinct("w1").alias("vsize"))
    return (
        bi.join(bf, "bigram")
        .join(uf, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log((F.col("bf") + 1.0) / (F.col("uf") + F.col("vsize")))
                ),
                6,
            ).alias("avg_neg_logp"),
        )
    )


@register(
    "embedding_int8_ann",
    f"""
    WITH {_INT8_STATS_SQL},
    deq AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1),
               i -> {_INT8_DQ_SQL}) AS dq,
             embedding
      FROM embeddings CROSS JOIN packed
    ),
    probes AS (SELECT vec_id AS probe_id, embedding AS pvec FROM deq
               WHERE vec_id % 100 = 0 AND vec_id < {_PROBE_BOUND}),
    scored AS (
      SELECT p.probe_id, c.vec_id AS neighbor_id,
             ROUND(
               list_sum(list_transform(range(1, len(c.dq) + 1),
                        i -> c.dq[i] * CAST(p.pvec[i] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(c.dq, x -> x * x)))
                  * SQRT(list_sum(list_transform(p.pvec,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
      FROM probes p, deq c
      WHERE p.probe_id <> c.vec_id
    )
    SELECT probe_id, neighbor_id, sim, rank FROM (
      SELECT probe_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
    doc="asymmetric-distance ANN over the int8-quantized corpus: corpus "
    "vectors are scored in DEQUANTIZED form against full-precision float "
    "probes (the standard asymmetric trick — the probe never loses "
    "precision, only the stored side). Same plan skeleton as "
    "embedding_cosine_topk (bounded probe side x corpus scan, per-probe "
    "top-k window); the per-dim stats broadcast as one packed row, and the "
    "probe side is hard-bounded by the _PROBE_BOUND predicate so the "
    "broadcast cannot grow with the corpus. Exact-scoring BASELINE — the "
    "scale path is embedding_int8_ivf_ann below. Companion to "
    "embedding_int8_quant — same codebook constants by construction "
    "(shared _INT8_* builders) — proving 4x-compressed storage still "
    "retrieves",
)
def embedding_int8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import cosine

    emb = load_table(spark, "embeddings", sf_dir)
    packed = _int8_packed(emb)
    _, _, _, _, dq_i = _int8_exprs()
    dq = F.transform(F.sequence(F.lit(1), F.size("embedding")), dq_i)
    deq = emb.crossJoin(F.broadcast(packed)).select(
        "vec_id", dq.alias("dq"), F.col("embedding").cast("array<double>").alias("fvec")
    )
    probes = deq.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PROBE_BOUND)
    ).select(F.col("vec_id").alias("probe_id"), F.col("fvec").alias("pvec"))
    scored = (
        F.broadcast(probes)
        .crossJoin(deq.select("vec_id", "dq"))
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("dq"), F.col("pvec")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "neighbor_id", "sim", "rank")
    )


@register(
    "embedding_int8_ivf_ann",
    f"""
    WITH {_INT8_STATS_SQL},
    deq AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1),
               i -> {_INT8_DQ_SQL}) AS e,
             embedding
      FROM embeddings CROSS JOIN packed
    ),
    params AS ({{IVF_PARAMS}}),
    cent AS (SELECT vec_id AS cell_id, e AS centvec FROM deq, params
             WHERE {_CENT_PRED_SQL}),
    vecs AS (SELECT vec_id AS member_id, e AS mvec FROM deq),
    assign AS (
      SELECT member_id, cell_id FROM (
        SELECT member_id, cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY member_id
                 ORDER BY round(list_cosine_similarity(mvec, centvec), 6) DESC, cell_id
               ) AS r
        FROM vecs CROSS JOIN cent) WHERE r = 1
    ),
    probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pvec
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    routed AS (
      SELECT probe_id, pvec, cell_id FROM (
        SELECT probe_id, pvec, cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY probe_id
                 ORDER BY round(list_cosine_similarity(pvec, centvec), 6) DESC, cell_id
               ) AS r
        FROM probes CROSS JOIN cent) WHERE r <= 2
    ),
    scored AS (
      SELECT DISTINCT probe_id, a.member_id AS neighbor_id,
             round(list_cosine_similarity(pvec, mvec), 6) AS sim
      FROM routed r JOIN assign a USING (cell_id)
      JOIN vecs v ON v.member_id = a.member_id
      WHERE a.member_id <> probe_id
    )
    SELECT probe_id, neighbor_id, sim, rank FROM (
      SELECT probe_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """.replace("{IVF_PARAMS}", _ivf_params_sql("deq")),
    doc="the SCALE PATH for int8-compressed retrieval: the dequantized "
    "corpus is routed through IVF cells (hash-sampled sqrt(n)-capped "
    "centroids, exactly embedding_ivf_ann's index) while probes stay "
    "full-precision (asymmetric distance). Candidates come from a cell_id "
    "equi-join — cost n_probe/n_cells of the exact baseline — and every "
    "broadcast side is bounded by construction (1-row packed codebook, "
    "<=IVF_MAX_CELLS centroids), unlike embedding_int8_ann's "
    "linear-in-corpus probe product. Proves 4x-compressed storage plugs "
    "into the bucketed index without a dedicated int8 kernel",
)
def embedding_int8_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.similarity import ivf_ann_topk

    emb = load_table(spark, "embeddings", sf_dir)
    packed = _int8_packed(emb)
    _, _, _, _, dq_i = _int8_exprs()
    dq = F.transform(F.sequence(F.lit(1), F.size("embedding")), dq_i)
    deq = emb.crossJoin(F.broadcast(packed)).select(
        "vec_id", dq.alias("embedding")
    )
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return ivf_ann_topk(deq, probes, k=5, n_probe=2)


@register(
    "docs_mixture_weights",
    f"""
    WITH lt AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len({_LTOK_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(SQRT(n_tokens)) AS s FROM lt)
    SELECT lang, n_docs, n_tokens,
           ROUND(SQRT(n_tokens) / s, 6) AS weight
    FROM lt CROSS JOIN tot
    """,
    doc="static training-mixture weights per language: weight proportional "
    "to tokens^0.5 (the square-root tempering used for multilingual "
    "mixtures), normalized. One tiny grouped aggregation plus a 1-row "
    "normalizer broadcast; sqrt is IEEE correctly-rounded so the "
    "unnormalized masses are bit-identical across engines and the rounded "
    "normalized weights match",
)
def docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    lt = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(ws_tokens(F.lower(F.col("text"))))).cast("bigint").alias(
            "n_tokens"
        ),
    )
    tot = lt.agg(F.sum(F.sqrt(F.col("n_tokens"))).alias("s"))
    return lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens")) / F.col("s"), 6).alias("weight"),
    )


@register(
    "docs_contamination",
    f"""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 3, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                    || ' ' || t[i+4])) AS grams
      FROM (SELECT doc_id, {_LTOK_SQL} AS t FROM documents)
    ),
    corpus AS (
      SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
      FROM g WHERE doc_id % 23 <> 0
    ),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 23 = 0)
    SELECT doc_id, n_grams, COUNT(*) AS n_contaminated,
           COUNT(*) * 1.0 / n_grams AS contamination_ratio
    FROM corpus JOIN bench USING (gram)
    GROUP BY doc_id, n_grams
    """,
    doc="benchmark-contamination check: flag training docs sharing any "
    "5-gram with a held-out benchmark set (here the deterministic doc_id%23 "
    "slice stands in for the benchmark). The benchmark gram set is DISTINCT "
    "and small by definition, so it broadcasts — the corpus side is one "
    "explode + broadcast-hash join (no corpus shuffle) + per-doc agg. The "
    "standard decontamination pass run before every pretraining job",
)
def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import _shingle_spans

    docs = load_table(spark, "documents", sf_dir)
    # two-step projection (see shingle_rows): tokens land as a real column
    # so the 5 element_at references per gram hit one computed array, not
    # five re-evaluated split() subtrees; the explode runs in the SAME
    # select that builds the gram array (exploding a prior projection's
    # array re-evaluates it per output row — measured 13x slower)
    toked = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("_toks")
    )
    t = F.col("_toks")
    grams5 = F.array_distinct(
        F.transform(
            _shingle_spans(F.size(t), 5),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(5)]
            ),
        )
    )
    corpus = toked.filter(F.col("doc_id") % 23 != 0).select(
        "doc_id", F.explode(grams5).alias("gram")
    )
    bench = (
        toked.filter(F.col("doc_id") % 23 == 0)
        .select(F.explode(grams5).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # grams are distinct per doc, so count(*) = n_grams and count(hit) =
    # contaminated grams — one left broadcast join + one agg, no size()
    # recomputation of the gram array
    return (
        corpus.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (F.col("n_contaminated") / F.col("n_grams")).alias("contamination_ratio"),
        )
    )


@register(
    "docs_ngram_novelty",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_seen,
           1.0 - CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) AS novelty_ratio
    FROM sh JOIN firsts USING (shingle)
    GROUP BY doc_id
    """,
    doc="per-document n-gram novelty (the dedup-adjacent curation score: "
    "what fraction of a doc's distinct 3-gram shingles first appeared in "
    "an EARLIER doc_id — planted +1M exact copies score novelty 0, the "
    "+2M tail-marker near-copies keep only their tail grams novel). One "
    "min-agg over the shingle stream and one shingle-keyed join back — "
    "both shuffles on the same key, so the exchange is reusable; per-doc "
    "rollup is the only other shuffle. The ratio is an exact small-integer "
    "division, bit-identical across engines",
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import shingle_rows

    aug = augmented_docs(spark, sf_dir)
    sh = shingle_rows(aug)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    seen = F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(seen).alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_seen",
            (F.lit(1.0) - F.col("n_seen").cast("double") / F.col("n_shingles")).alias(
                "novelty_ratio"
            ),
        )
    )


@register(
    "docs_length_band_filter",
    """
    SELECT doc_id, lang, n_chars,
           PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
             AS len_pr,
           PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
             BETWEEN 0.05 AND 0.95 AS kept
    FROM documents
    """,
    doc="per-language length-outlier trimming (the standard curation step "
    "that drops the shortest/longest tails before training): percent_rank "
    "over (lang) partitions keyed on the stored n_chars with doc_id "
    "tiebreak, keep the middle 90% band. The window is partitioned by "
    "language — each partition sorts independently, no global sort — and "
    "percent_rank's (rank-1)/(n-1) is exact integer arithmetic until one "
    "deterministic division",
)
def docs_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    pr = F.percent_rank().over(w)
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        pr.alias("len_pr"),
        pr.between(0.05, 0.95).alias("kept"),
    )


@register(
    "embedding_prefix_rerank_ann",
    f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS probe_id, e AS pvec, list_slice(e, 1, 16) AS ppref
      FROM vecs WHERE vec_id % 100 = 0 AND vec_id < {_PROBE_BOUND}
    ),
    coarse AS (
      SELECT probe_id, pvec, c.vec_id AS neighbor_id, c.e AS cvec,
             ROW_NUMBER() OVER (
               PARTITION BY probe_id
               ORDER BY round(list_cosine_similarity(ppref, list_slice(c.e, 1, 16)), 6)
                          DESC, c.vec_id
             ) AS crank
      FROM probes p JOIN vecs c ON p.probe_id <> c.vec_id
    ),
    rerank AS (
      SELECT probe_id, neighbor_id,
             round(list_cosine_similarity(pvec, cvec), 6) AS sim
      FROM coarse WHERE crank <= 20
    )
    SELECT probe_id, neighbor_id, sim, rank FROM (
      SELECT probe_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM rerank) WHERE rank <= 5
    """,
    doc="two-stage prefix rerank (the Matryoshka/truncated-embedding "
    "retrieval trick): stage 1 scores only the FIRST 16 of 64 dimensions — "
    "4x less arithmetic per candidate pair — and keeps 20 survivors per "
    "probe; stage 2 pays full-dimension cosine for just those 20. Probe "
    "side carries the shared deterministic _PROBE_BOUND so "
    "its broadcast stays fixed-size; candidates never materialize beyond "
    "stage 1's per-probe top-20",
)
def embedding_prefix_rerank_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import as_double, cosine

    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    probes = vecs.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PROBE_BOUND)
    ).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pvec"),
        F.slice(F.col("e"), 1, 16).alias("ppref"),
    )
    corpus = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("cvec"),
        F.slice(F.col("e"), 1, 16).alias("cpref"),
    )
    coarse = (
        F.broadcast(probes)
        .join(corpus, F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "pvec",
            "neighbor_id",
            "cvec",
            F.round(cosine(F.col("ppref"), F.col("cpref")), 6).alias("csim"),
        )
    )
    wc = Window.partitionBy("probe_id").orderBy(
        F.col("csim").desc(), F.col("neighbor_id")
    )
    survivors = coarse.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= 20
    )
    rerank = survivors.select(
        "probe_id",
        "neighbor_id",
        F.round(cosine(F.col("pvec"), F.col("cvec")), 6).alias("sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "neighbor_id", "sim", "rank")
    )


@register(
    "docs_tfidf_topterms",
    """
    WITH tf AS (
      SELECT doc_id, lower(term) AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
            FROM documents)
      GROUP BY doc_id, lower(term)
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    doc="TF-IDF keyword extraction: top-3 terms per doc by smoothed "
    "tf-idf (idf = ln((N+1)/(df+1)) + 1, sklearn-style). The (doc, term) "
    "count, the term df agg and the term join all partial-aggregate "
    "map-side and share the term key back-to-back; the corpus-size scalar "
    "broadcasts as one row. df is vocab-sized so the scoring join is a "
    "keyed equi-join, never a broadcast; the per-doc top-3 is the only "
    "doc_id shuffle",
)
def docs_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction over the raw corpus. tfidf is a
    per-row scalar (no cross-row float sum), so round(,6) closes the
    cross-engine ulp gap; within a doc (tfidf, term) is unique, making the
    rank deterministic in both engines."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    tf = (
        docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("term"))
        .select("doc_id", F.lower(F.col("term")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


@register(
    "embedding_dim_stats",
    """
    WITH ex AS (
      SELECT s.i AS dim,
             CAST(FLOOR(CAST(s.v AS DOUBLE) * 1000000.0) AS BIGINT) AS vq,
             CAST(s.v AS DOUBLE) AS v
      FROM (SELECT unnest(list_transform(range(0, len(embedding)),
                     i -> {'i': i, 'v': embedding[i + 1]})) AS s
            FROM embeddings)
    )
    SELECT dim, COUNT(*) AS n,
           round(CAST(SUM(vq) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_q,
           round(SQRT((CAST(SUM(CAST(vq * vq AS DECIMAL(38,0))) AS DOUBLE)
                         / 1000000000000.0
                       - (CAST(SUM(vq) AS DOUBLE) / 1000000.0)
                         * (CAST(SUM(vq) AS DOUBLE) / 1000000.0)
                         / CAST(COUNT(*) AS DOUBLE))
                      / (CAST(COUNT(*) AS DOUBLE) - 1.0)), 6) AS std_q,
           round(MIN(v), 6) AS min_v,
           round(MAX(v), 6) AS max_v
    FROM ex GROUP BY dim
    """,
    doc="per-dimension embedding profile (mean/std/min/max): posexplode + "
    "one dim-keyed agg with map-side combine (64 groups). Sums go through "
    "fixed-point bigint (floor(v*1e6)) because IEEE float addition is "
    "order-dependent and Spark/DuckDB aggregate in different orders — "
    "integer sums are associative, so both engines land on identical "
    "doubles; min/max are exact and need no quantization",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column profiling (the step before quantizer/normalizer design).
    The variance uses the exact sum/sum-of-squares identity on the
    quantized values; every double op mirrors the oracle's expression tree
    left-to-right, so the final doubles are bit-identical before round."""
    emb = load_table(spark, "embeddings", sf_dir)
    ex = emb.select(F.posexplode("embedding").alias("dim", "v0")).select(
        "dim", F.col("v0").cast("double").alias("v")
    )
    ex = ex.select(
        "dim", "v", F.floor(F.col("v") * 1000000.0).cast("bigint").alias("vq")
    )
    agg = ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("vq").alias("s"),
        F.sum((F.col("vq") * F.col("vq")).cast("decimal(38,0)")).alias("ss"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    ss_d = F.col("ss").cast("double")
    return agg.select(
        "dim",
        "n",
        F.round(s_d / 1000000.0 / n_d, 6).alias("mean_q"),
        F.round(
            F.sqrt(
                (
                    ss_d / 1000000000000.0
                    - (s_d / 1000000.0) * (s_d / 1000000.0) / n_d
                )
                / (n_d - 1.0)
            ),
            6,
        ).alias("std_q"),
        F.round(F.col("mn"), 6).alias("min_v"),
        F.round(F.col("mx"), 6).alias("max_v"),
    )


# the repetition pass/fail gate as an oracle-side boolean over token list
# alias `t` and 2-gram list alias `g2` (mirrors llm.text.repetition_gate)
_REP_GATE_SQL = """(len(list_distinct(t)) * 1.0 / len(t) >= 0.2
            AND list_max(list_transform(list_distinct(t),
                         u -> len(list_filter(t, x -> x = u)))) * 1.0 / len(t) <= 0.2
            AND (CASE WHEN len(g2) = 0 THEN 0.0
                 ELSE 1.0 - len(list_distinct(g2)) * 1.0 / len(g2) END) <= 0.6)"""

_GRAM5_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(t) - 3, 1)), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] "
    "|| ' ' || t[i+4]))"
)


# the curation-funnel stage-count oracle — the SINGLE SQL source for
# docs_curation_report (full recompute) AND docs_curation_inc_report
# (incremental replay): the funnel is a pure function of the corpus, so
# both engines' rows must equal this regardless of HOW the Spark side
# arrived at them
_CURATION_REPORT_SQL = f"""
    WITH aug AS ({_AUG_SQL}),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM aug GROUP BY md5(text)),
    toked AS (
      SELECT a.doc_id, {_LTOK_SQL} AS t
      FROM aug a JOIN keepers USING (doc_id) WHERE a.doc_id % 23 <> 0
    ),
    gramd AS (
      SELECT doc_id, t,
             list_transform(range(1, greatest(len(t), 1)),
                            i -> t[i] || ' ' || t[i+1]) AS g2
      FROM toked
    ),
    qual AS (SELECT doc_id, t FROM gramd WHERE {_REP_GATE_SQL}),
    qgrams AS (SELECT doc_id, unnest({_GRAM5_SQL}) AS gram FROM qual),
    bench AS (
      SELECT DISTINCT unnest({_GRAM5_SQL}) AS gram
      FROM (SELECT {_LTOK_SQL} AS t FROM aug WHERE doc_id % 23 = 0)
    ),
    contam AS (SELECT DISTINCT doc_id FROM qgrams JOIN bench USING (gram))
    SELECT (SELECT COUNT(*) FROM aug) AS n_raw,
           (SELECT COUNT(*) FROM keepers) AS n_exact_keepers,
           (SELECT COUNT(*) FROM toked) AS n_nonbenchmark,
           (SELECT COUNT(*) FROM qual) AS n_quality_pass,
           (SELECT COUNT(*) FROM qual) - (SELECT COUNT(*) FROM contam) AS n_clean,
           round(((SELECT COUNT(*) FROM qual) - (SELECT COUNT(*) FROM contam))
                 * 100.0 / (SELECT COUNT(*) FROM aug), 6) AS retention_pct
    """


@register(
    "docs_curation_report",
    _CURATION_REPORT_SQL,
    doc="end-to-end curation funnel as ONE declarative plan: raw corpus -> "
    "exact-dedup keepers -> benchmark-slice exclusion -> Gopher repetition "
    "gate -> 5-gram decontamination, reported as per-stage survivor counts "
    "+ overall retention. Composes the same definitions the individual "
    "stage queries use (shared repetition_gate / shingle builders), so "
    "the report can't drift from the stages. Spark side is a SINGLE PASS: "
    "every aug doc carries monotone stage flags (keeper, non-benchmark, "
    "quality, clean) and one final aggregate sums them - five chained "
    "1-row-aggregate cross joins would re-execute the whole upstream "
    "chain once per stage count (measured 35 s vs single-pass at sf0.1). "
    "Shuffles: digest groupBy, keeper join (doc_id-keyed), contamination "
    "gram join (benchmark side broadcast)",
)
def docs_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-pass flag chain (incl. the filter-pushdown trap guard) lives
    # in llm.pipeline.curation_flags — shared with curation_materialize so
    # the report and the shards it gates cannot drift
    from cupertino_nvr_spark.llm.pipeline import curation_flags, curation_stage_counts

    return curation_stage_counts(curation_flags(augmented_docs(spark, sf_dir)))


@register(
    "docs_curation_inc_report",
    _CURATION_REPORT_SQL,
    doc=(
        "The curation funnel maintained INCREMENTALLY (the operating "
        "mode of a growing 100 TB corpus): the corpus arrives as three "
        "disjoint id-residue batches; the first bootstraps the state "
        "(llm/curation_inc.py::init_state), each later batch folds in "
        "through merge_delta — the keeper table as a MIN-monoid digest "
        "merge, the benchmark gram set grow-only, displaced keepers "
        "flipping their monotone flag chain, retroactive contamination "
        "of OLD clean docs resolved through the live-clean posting "
        "index — and state_counts aggregates the maintained flag view. "
        "The oracle is docs_curation_report's SQL VERBATIM "
        "(_CURATION_REPORT_SQL): incremental maintenance must be "
        "invisible in the result, so the external gate checks the "
        "incremental path against the full-recompute definition. Per "
        "merge the compute touching history is O(|delta| + |affected "
        "state|) — history TEXT is never re-read; only the boolean/"
        "digest state frames re-checkpoint."
    ),
)
def docs_curation_inc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.curation_inc import (
        init_state,
        merge_delta,
        state_counts,
    )

    docs = augmented_docs(spark, sf_dir).select("doc_id", "text")
    batches = [
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i) for i in range(3)
    ]
    state = init_state(batches[0])
    for b in batches[1:]:
        state = merge_delta(state, b)
    return state_counts(state)


# Product quantization: 4 subspaces x 16 dims, codewords hash-sampled from
# the corpus itself (same bounded-stride rule as the IVF centroids, capped
# at _PQ_CW_CAP per subspace) — deterministic, replayable in SQL, and the
# codebook stays a broadcastable constant at any corpus size
_PQ_NSUB = 4
_PQ_SUBDIM = 16
_PQ_CW_CAP = 16
_PQ_SEED = 13


# shared PQ assignment chain (oracle side), used by BOTH embedding_pq_quant
# and embedding_pq_ann so the codebook/assignment definition cannot drift
# between the quantizer and the serving path
_PQ_CHAIN_SQL = f"""params AS (
      SELECT GREATEST(1, COUNT(*) // GREATEST(
               LEAST(CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT), {_PQ_CW_CAP}), 1))
               AS stride
      FROM embeddings
    ),
    cw AS (
      SELECT vec_id AS cw_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings, params
      WHERE {_md5_int_sql("CAST(vec_id AS VARCHAR)", _PQ_SEED)} % stride = 0
    ),
    cwsub AS (
      SELECT cw_id, u.s AS sub_idx,
             list_slice(e, u.s * {_PQ_SUBDIM} + 1, (u.s + 1) * {_PQ_SUBDIM}) AS csub
      FROM cw, unnest(range(0, {_PQ_NSUB})) AS u(s)
    ),
    vsub AS (
      SELECT vec_id, u.s AS sub_idx,
             list_slice(CAST(embedding AS DOUBLE[]),
                        u.s * {_PQ_SUBDIM} + 1, (u.s + 1) * {_PQ_SUBDIM}) AS vs
      FROM embeddings, unnest(range(0, {_PQ_NSUB})) AS u(s)
    ),
    ranked AS (
      SELECT vec_id, sub_idx, cw_id, csub,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id, sub_idx
               ORDER BY round(list_cosine_similarity(vs, csub), 6) DESC, cw_id
             ) AS r
      FROM vsub JOIN cwsub USING (sub_idx)
    ),
    best AS (SELECT vec_id, sub_idx, cw_id, csub FROM ranked WHERE r = 1)"""


def _pq_assignment(emb: DataFrame):
    """(cwsub, best): the per-subspace codebook and each vector's winning
    codeword per subspace — the shared core of the quantizer and the ANN
    serving path (mirrors the oracle's ``_PQ_CHAIN_SQL``)."""
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.dedup import md5_int
    from cupertino_nvr_spark.llm.similarity import as_double, cosine, ivf_stride

    stride = ivf_stride(emb.count(), max_cells=_PQ_CW_CAP)
    cw = emb.filter(
        F.pmod(md5_int(F.col("vec_id").cast("string"), _PQ_SEED), F.lit(stride)) == 0
    ).select(F.col("vec_id").alias("cw_id"), as_double(F.col("embedding")).alias("e"))

    subs = F.sequence(F.lit(0), F.lit(_PQ_NSUB - 1))
    cwsub = cw.select(
        "cw_id", F.explode(subs).alias("sub_idx"), "e"
    ).select(
        "cw_id",
        "sub_idx",
        F.slice(F.col("e"), F.col("sub_idx") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
            "csub"
        ),
    )
    vsub = emb.select(
        "vec_id", F.explode(subs).alias("sub_idx"), as_double(F.col("embedding")).alias("e")
    ).select(
        "vec_id",
        "sub_idx",
        F.slice(F.col("e"), F.col("sub_idx") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("vs"),
    )
    w = Window.partitionBy("vec_id", "sub_idx").orderBy(
        F.round(cosine(F.col("vs"), F.col("csub")), 6).desc(), F.col("cw_id")
    )
    best = (
        vsub.join(F.broadcast(cwsub), "sub_idx")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "sub_idx", "cw_id", "csub")
    )
    return cwsub, best


@register(
    "embedding_pq_quant",
    f"""
    WITH {_PQ_CHAIN_SQL},
    agg AS (
      SELECT vec_id,
             list(cw_id ORDER BY sub_idx) AS codes,
             flatten(list(csub ORDER BY sub_idx)) AS recon
      FROM best GROUP BY vec_id
    )
    SELECT e.vec_id,
           codes[1] AS c0, codes[2] AS c1, codes[3] AS c2, codes[4] AS c3,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.recon), 6)
             AS recon_cos
    FROM embeddings e JOIN agg a ON e.vec_id = a.vec_id
    """,
    doc="product quantization (4 subspaces x 16 dims): each subvector maps "
    "to its most-cosine-similar codeword from a hash-sampled, "
    "cap-16-per-subspace codebook — 64 floats compress to 4 code ids, the "
    "compression step past int8. Codebook sampling reuses the IVF bounded-"
    "stride rule so the broadcast side can't grow with the corpus; "
    "assignment is corpus x 4 x <=16 rows (linear, broadcast-joined); "
    "reconstruction quality is reported as full-vector cosine to the "
    "concatenated codewords. Argmax ties break on codeword id so both "
    "engines pick identical codes",
)
def embedding_pq_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.similarity import as_double, cosine

    emb = load_table(spark, "embeddings", sf_dir)
    _, best = _pq_assignment(emb)
    agg = best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_idx", "cw_id"))),
            lambda s: s.cw_id,
        ).alias("codes"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub_idx", "csub"))),
                lambda s: s.csub,
            )
        ).alias("recon"),
    )
    return (
        emb.join(agg, "vec_id")
        .select(
            "vec_id",
            F.element_at("codes", 1).alias("c0"),
            F.element_at("codes", 2).alias("c1"),
            F.element_at("codes", 3).alias("c2"),
            F.element_at("codes", 4).alias("c3"),
            F.round(
                cosine(as_double(F.col("embedding")), F.col("recon")), 6
            ).alias("recon_cos"),
        )
    )


@register(
    "embedding_pq_ann",
    f"""
    WITH {_PQ_CHAIN_SQL},
    codesagg AS (
      SELECT vec_id, list(cw_id ORDER BY sub_idx) AS codes
      FROM best GROUP BY vec_id
    ),
    probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS p
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {_PROBE_BOUND}
    ),
    psub AS (
      SELECT probe_id, u.s AS sub_idx,
             list_slice(p, u.s * {_PQ_SUBDIM} + 1, (u.s + 1) * {_PQ_SUBDIM}) AS ps,
             sqrt(list_inner_product(p, p)) AS pnorm
      FROM probes, unnest(range(0, {_PQ_NSUB})) AS u(s)
    ),
    simtab AS (
      SELECT probe_id, sub_idx, cw_id,
             list_inner_product(ps, csub) AS d,
             list_inner_product(csub, csub) AS cn2, pnorm
      FROM psub JOIN cwsub USING (sub_idx)
    ),
    s0 AS (SELECT probe_id, cw_id, d, cn2, pnorm FROM simtab WHERE sub_idx = 0),
    s1 AS (SELECT probe_id, cw_id, d, cn2 FROM simtab WHERE sub_idx = 1),
    s2 AS (SELECT probe_id, cw_id, d, cn2 FROM simtab WHERE sub_idx = 2),
    s3 AS (SELECT probe_id, cw_id, d, cn2 FROM simtab WHERE sub_idx = 3),
    scored AS (
      SELECT s0.probe_id, c.vec_id AS neighbor_id,
             round((s0.d + s1.d + s2.d + s3.d)
                   / (sqrt(s0.cn2 + s1.cn2 + s2.cn2 + s3.cn2) * s0.pnorm), 6)
               AS score
      FROM codesagg c
      JOIN s0 ON s0.cw_id = c.codes[1]
      JOIN s1 ON s1.cw_id = c.codes[2] AND s1.probe_id = s0.probe_id
      JOIN s2 ON s2.cw_id = c.codes[3] AND s2.probe_id = s0.probe_id
      JOIN s3 ON s3.cw_id = c.codes[4] AND s3.probe_id = s0.probe_id
      WHERE c.vec_id <> s0.probe_id
    )
    SELECT probe_id, neighbor_id, score, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
    doc="PQ asymmetric-distance ANN (the PQ serving path): probes stay full "
    "precision, the corpus is its 4 code ids, and scoring is pure LOOKUP — "
    "a per-probe (subspace, codeword) inner-product table (probes x 4 x "
    "<=16 rows, broadcast) joined onto the code columns, summed in fixed "
    "subspace order so both engines produce identical doubles. No vector "
    "math per (probe, corpus) pair and no scoring shuffle: four broadcast "
    "equi-joins + a probe-partitioned top-5 window. At 100 TB, compose "
    "with the IVF cell routing (embedding_int8_ivf_ann pattern) to prune "
    "the scan; the probe side carries the same hard bound as the int8 "
    "baselines",
)
def embedding_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import as_double, dot

    emb = load_table(spark, "embeddings", sf_dir)
    cwsub, best = _pq_assignment(emb)
    codesagg = best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_idx", "cw_id"))),
            lambda s: s.cw_id,
        ).alias("codes")
    )
    probes = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PROBE_BOUND)
    ).select(F.col("vec_id").alias("probe_id"), as_double(F.col("embedding")).alias("p"))
    psub = probes.select(
        "probe_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_NSUB - 1))).alias("sub_idx"),
        "p",
    ).select(
        "probe_id",
        "sub_idx",
        F.slice(F.col("p"), F.col("sub_idx") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("ps"),
        F.sqrt(dot(F.col("p"), F.col("p"))).alias("pnorm"),
    )
    simtab = psub.join(cwsub, "sub_idx").select(
        "probe_id",
        "sub_idx",
        "cw_id",
        dot(F.col("ps"), F.col("csub")).alias("d"),
        dot(F.col("csub"), F.col("csub")).alias("cn2"),
        "pnorm",
    )
    sl = [
        simtab.filter(F.col("sub_idx") == s).select(
            F.col("probe_id").alias(f"p{s}"),
            F.col("cw_id").alias(f"k{s}"),
            F.col("d").alias(f"d{s}"),
            F.col("cn2").alias(f"n{s}"),
            *([F.col("pnorm")] if s == 0 else []),
        )
        for s in range(_PQ_NSUB)
    ]
    j = codesagg.join(
        F.broadcast(sl[0]), F.element_at("codes", 1) == F.col("k0")
    )
    for s in (1, 2, 3):
        j = j.join(
            F.broadcast(sl[s]),
            (F.element_at("codes", s + 1) == F.col(f"k{s}"))
            & (F.col(f"p{s}") == F.col("p0")),
        )
    score = F.round(
        (F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3"))
        / (
            F.sqrt(F.col("n0") + F.col("n1") + F.col("n2") + F.col("n3"))
            * F.col("pnorm")
        ),
        6,
    )
    scored = j.filter(F.col("vec_id") != F.col("p0")).select(
        F.col("p0").alias("probe_id"),
        F.col("vec_id").alias("neighbor_id"),
        score.alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "neighbor_id", "score", "rank")
    )


# SQL replica of the shared IVF routing stage (llm.similarity.
# ivf_route_candidates): iparams/cent/vecs/assign/probes/routed CTEs —
# centroid sampling, member assignment, and probe routing in one
# definition, composed by BOTH embedding_ivf_pq_ann and
# embedding_ivf_probe_profile so the index the profile tunes is exactly
# the index the serving path queries. Routing keeps ranks <= {max_probe}
# (the serving path filters to its n_probe; the profile keeps all ranks).
_IVF_ROUTE_CTE_SQL = f"""iparams AS ({_ivf_params_sql("embeddings")}),
    cent AS (
      SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centvec
      FROM embeddings, iparams WHERE {_CENT_PRED_SQL}
    ),
    vecs AS (SELECT vec_id AS member_id, CAST(embedding AS DOUBLE[]) AS mvec FROM embeddings),
    assign AS (
      SELECT member_id, cell_id FROM (
        SELECT member_id, cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY member_id
                 ORDER BY round(list_cosine_similarity(mvec, centvec), 6) DESC, cell_id
               ) AS r
        FROM vecs CROSS JOIN cent) WHERE r = 1
    ),
    routed AS (
      SELECT probe_id, p, cell_id, r AS crank FROM (
        SELECT probe_id, p, cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY probe_id
                 ORDER BY round(list_cosine_similarity(p, centvec), 6) DESC, cell_id
               ) AS r
        FROM probes CROSS JOIN cent) WHERE r <= {{max_probe}}
    )"""


# The complete IVF+PQ serving chain (PQ codebook + codes, capped probe
# panel, shared IVF routing at n_probe=2, ADC scoring, top-5) as one CTE
# block ending in `pqtop` — composed VERBATIM by embedding_ivf_pq_ann
# (the serving query) and embedding_ivf_pq_recall_eval (its quality row),
# so the path a user reads recall numbers for is exactly the path that
# serves. The routing CTEs (vecs/assign/probes/routed) remain visible to
# composing queries.
_IVF_PQ_CTES_SQL = f"""{_PQ_CHAIN_SQL},
    codesagg AS (
      SELECT vec_id, list(cw_id ORDER BY sub_idx) AS codes
      FROM best GROUP BY vec_id
    ),
    probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS p
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {_PROBE_BOUND}
    ),
    {_IVF_ROUTE_CTE_SQL.replace("{max_probe}", "2")},
    cand AS (
      SELECT DISTINCT r.probe_id, a.member_id
      FROM routed r JOIN assign a USING (cell_id)
      WHERE a.member_id <> r.probe_id
    ),
    psub AS (
      SELECT probe_id, u.s AS sub_idx,
             list_slice(p, u.s * {_PQ_SUBDIM} + 1, (u.s + 1) * {_PQ_SUBDIM}) AS ps,
             sqrt(list_inner_product(p, p)) AS pnorm
      FROM probes, unnest(range(0, {_PQ_NSUB})) AS u(s)
    ),
    simtab AS (
      SELECT probe_id, sub_idx, cw_id,
             list_inner_product(ps, csub) AS d,
             list_inner_product(csub, csub) AS cn2, pnorm
      FROM psub JOIN cwsub USING (sub_idx)
    ),
    s0 AS (SELECT probe_id, cw_id, d, cn2, pnorm FROM simtab WHERE sub_idx = 0),
    s1 AS (SELECT probe_id, cw_id, d, cn2 FROM simtab WHERE sub_idx = 1),
    s2 AS (SELECT probe_id, cw_id, d, cn2 FROM simtab WHERE sub_idx = 2),
    s3 AS (SELECT probe_id, cw_id, d, cn2 FROM simtab WHERE sub_idx = 3),
    adc_scored AS (
      SELECT cand.probe_id, cand.member_id AS neighbor_id,
             round((s0.d + s1.d + s2.d + s3.d)
                   / (sqrt(s0.cn2 + s1.cn2 + s2.cn2 + s3.cn2) * s0.pnorm), 6)
               AS score
      FROM cand
      JOIN codesagg c ON c.vec_id = cand.member_id
      JOIN s0 ON s0.probe_id = cand.probe_id AND s0.cw_id = c.codes[1]
      JOIN s1 ON s1.probe_id = cand.probe_id AND s1.cw_id = c.codes[2]
      JOIN s2 ON s2.probe_id = cand.probe_id AND s2.cw_id = c.codes[3]
      JOIN s3 ON s3.probe_id = cand.probe_id AND s3.cw_id = c.codes[4]
    ),
    pqtop AS (
      SELECT probe_id, neighbor_id, score, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rank
        FROM adc_scored) WHERE rank <= 5
    )"""


@register(
    "embedding_ivf_pq_ann",
    f"""
    WITH {_IVF_PQ_CTES_SQL}
    SELECT probe_id, neighbor_id, score, rank FROM pqtop
    """,
    doc="IVF + PQ composed — the FAISS-style 100 TB serving shape the "
    "embedding_pq_ann docstring points at: IVF cell routing prunes the "
    "candidate set to n_probe/n_cells of the corpus (shared "
    "ivf_route_candidates stage, identical index to embedding_ivf_ann), "
    "then scoring touches ONLY the candidates' 4 PQ code ids via the "
    "asymmetric-distance lookup table (shared _pq_assignment codebook, "
    "identical codes to embedding_pq_quant) — full-precision member "
    "vectors never reach the scorer, so Catalyst prunes the mvec column "
    "out of the scan side of the scoring stage. Every broadcast bounded "
    "(<=IVF_MAX_CELLS centroids, probes x 4 x <=16 lookup rows); candidates from "
    "one cell_id equi-join; no vector math per (probe, candidate) pair",
)
def embedding_ivf_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_pq_topk(spark, sf_dir)


def _ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF+PQ serving chain (routing at n_probe=2 + ADC top-5) —
    shared verbatim by embedding_ivf_pq_ann and its recall eval."""
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import (
        as_double,
        dot,
        ivf_route_candidates,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    probes_raw = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PROBE_BOUND)
    )
    cand = (
        ivf_route_candidates(emb, probes_raw, n_probe=2)
        .select("probe_id", "member_id")
        .distinct()
    )
    cwsub, best = _pq_assignment(emb)
    codesagg = best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_idx", "cw_id"))),
            lambda s: s.cw_id,
        ).alias("codes")
    )
    probes = probes_raw.select(
        F.col("vec_id").alias("probe_id"), as_double(F.col("embedding")).alias("p")
    )
    psub = probes.select(
        "probe_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_NSUB - 1))).alias("sub_idx"),
        "p",
    ).select(
        "probe_id",
        "sub_idx",
        F.slice(F.col("p"), F.col("sub_idx") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("ps"),
        F.sqrt(dot(F.col("p"), F.col("p"))).alias("pnorm"),
    )
    simtab = psub.join(cwsub, "sub_idx").select(
        "probe_id",
        "sub_idx",
        "cw_id",
        dot(F.col("ps"), F.col("csub")).alias("d"),
        dot(F.col("csub"), F.col("csub")).alias("cn2"),
        "pnorm",
    )
    sl = [
        simtab.filter(F.col("sub_idx") == s).select(
            F.col("probe_id").alias(f"p{s}"),
            F.col("cw_id").alias(f"k{s}"),
            F.col("d").alias(f"d{s}"),
            F.col("cn2").alias(f"n{s}"),
            *([F.col("pnorm")] if s == 0 else []),
        )
        for s in range(_PQ_NSUB)
    ]
    j = cand.join(codesagg, cand.member_id == codesagg.vec_id)
    for s in range(_PQ_NSUB):
        j = j.join(
            F.broadcast(sl[s]),
            (F.element_at("codes", s + 1) == F.col(f"k{s}"))
            & (F.col(f"p{s}") == F.col("probe_id")),
        )
    score = F.round(
        (F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3"))
        / (
            F.sqrt(F.col("n0") + F.col("n1") + F.col("n2") + F.col("n3"))
            * F.col("pnorm")
        ),
        6,
    )
    scored = j.select(
        "probe_id",
        F.col("member_id").alias("neighbor_id"),
        score.alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "neighbor_id", "score", "rank")
    )


_IVF_PROFILE_MAX_PROBE = 4


@register(
    "embedding_ivf_probe_profile",
    f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS p
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {_PROBE_BOUND}
    ),
    {_IVF_ROUTE_CTE_SQL.replace("{max_probe}", str(_IVF_PROFILE_MAX_PROBE))},
    pairs AS (
      SELECT r.probe_id, a.member_id, MIN(r.crank) AS min_crank,
             MAX(round(list_cosine_similarity(r.p, v.mvec), 6)) AS sim
      FROM routed r JOIN assign a USING (cell_id)
      JOIN vecs v ON v.member_id = a.member_id
      WHERE a.member_id <> r.probe_id
      GROUP BY r.probe_id, a.member_id
    ),
    spine AS (SELECT unnest(range(1, {_IVF_PROFILE_MAX_PROBE} + 1)) AS n_probe),
    cfg AS (
      SELECT s.n_probe, p.probe_id, p.member_id, p.sim
      FROM spine s JOIN pairs p ON p.min_crank <= s.n_probe
    ),
    ann AS (
      SELECT n_probe, probe_id, member_id FROM (
        SELECT n_probe, probe_id, member_id,
               ROW_NUMBER() OVER (PARTITION BY n_probe, probe_id
                                  ORDER BY sim DESC, member_id) AS rk
        FROM cfg) WHERE rk <= 5
    ),
    exact_scored AS (
      SELECT p.probe_id, v.member_id AS neighbor_id,
             round(list_cosine_similarity(p.p, v.mvec), 6) AS sim
      FROM probes p JOIN vecs v ON v.member_id <> p.probe_id
    ),
    truth AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, neighbor_id) AS rk
        FROM exact_scored) WHERE rk <= 5
    ),
    probe_n AS (SELECT COUNT(*) AS n_probes FROM probes),
    truth_n AS (SELECT COUNT(*) AS n_truth FROM truth),
    cand_counts AS (SELECT n_probe, COUNT(*) AS total_candidates FROM cfg GROUP BY n_probe),
    hits AS (
      SELECT a.n_probe, COUNT(*) AS n_hits
      FROM ann a JOIN truth t
        ON a.probe_id = t.probe_id AND a.member_id = t.neighbor_id
      GROUP BY a.n_probe
    )
    SELECT s.n_probe,
           pn.n_probes,
           COALESCE(cc.total_candidates, 0) AS total_candidates,
           ROUND(CAST(COALESCE(cc.total_candidates, 0) AS DOUBLE) / pn.n_probes, 6)
             AS avg_candidates,
           COALESCE(h.n_hits, 0) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / tn.n_truth, 6)
             AS recall_at_5
    FROM spine s
    LEFT JOIN cand_counts cc USING (n_probe)
    LEFT JOIN hits h USING (n_probe)
    CROSS JOIN probe_n pn CROSS JOIN truth_n tn
    """,
    doc="IVF n_probe tuning profile — recall@5 vs candidate cost for every "
    "probe budget 1..4, completing the blocking-parameter tuning family "
    "(LSH banding: docs_lsh_tuning_profile; pHash tau: "
    "media_phash_tau_profile). One routing pass at the MAX budget (shared "
    "ivf_route_candidates stage — exactly the index embedding_ivf_ann and "
    "embedding_ivf_pq_ann serve from) keeps each candidate's best routing "
    "rank; since the n_probe=k candidate set is by construction the "
    "min_crank<=k slice, all four configurations re-rank from ONE "
    "pair frame — the sweep never re-routes or re-scores. Ground truth "
    "pays the bounded probes x corpus exact scoring (the "
    "embedding_ann_recall_eval cost class, with the probe panel "
    "hard-capped by the shared _PROBE_BOUND so the truth "
    "term stays linear-in-corpus at 100 TB, never quadratic); output is "
    "4 rows: per budget, "
    "avg candidates per probe (the cost axis) and corpus-level recall@5 "
    "(the quality axis) — the curve a user reads the knee off before "
    "fixing n_probe for a 100 TB index",
)
def embedding_ivf_probe_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import cosine, ivf_route_candidates

    emb = load_table(spark, "embeddings", sf_dir)
    # the profile's ground-truth term is probes x corpus by definition
    # (the embedding_ann_recall_eval cost class); the probe panel carries
    # the same hard bound as the int8 family so it stays a FIXED sample
    # at 100 TB (a percentage panel would make the truth side quadratic)
    probes = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PROBE_BOUND)
    )
    routed = ivf_route_candidates(emb, probes, n_probe=_IVF_PROFILE_MAX_PROBE)
    pairs = (
        routed.select(
            "probe_id",
            "member_id",
            "crank",
            F.round(cosine(F.col("pvec"), F.col("mvec")), 6).alias("sim"),
        )
        .groupBy("probe_id", "member_id")
        .agg(F.min("crank").alias("min_crank"), F.max("sim").alias("sim"))
    )
    spine = spark.range(1, _IVF_PROFILE_MAX_PROBE + 1).select(
        F.col("id").alias("n_probe")
    )
    cfg = F.broadcast(spine).join(pairs, pairs.min_crank <= spine.n_probe).select(
        "n_probe", "probe_id", "member_id", "sim"
    )
    wa = Window.partitionBy("n_probe", "probe_id").orderBy(
        F.col("sim").desc(), F.col("member_id")
    )
    ann = (
        cfg.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= 5)
        .select("n_probe", "probe_id", "member_id")
    )
    truth = brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    probe_n = probes.agg(F.count("*").alias("n_probes"))
    truth_n = truth.agg(F.count("*").alias("n_truth"))
    cand_counts = cfg.groupBy("n_probe").agg(
        F.count("*").alias("total_candidates")
    )
    hits = (
        ann.join(
            truth,
            (ann.probe_id == truth.probe_id)
            & (ann.member_id == truth.neighbor_id),
        )
        .groupBy("n_probe")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        spine.join(cand_counts, "n_probe", "left")
        .join(hits, "n_probe", "left")
        .crossJoin(F.broadcast(probe_n))
        .crossJoin(F.broadcast(truth_n))
        .select(
            "n_probe",
            "n_probes",
            F.coalesce(F.col("total_candidates"), F.lit(0).cast("bigint")).alias(
                "total_candidates"
            ),
            F.round(
                F.coalesce(F.col("total_candidates"), F.lit(0)).cast("double")
                / F.col("n_probes"),
                6,
            ).alias("avg_candidates"),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_truth"),
                6,
            ).alias("recall_at_5"),
        )
    )


@register(
    "embedding_ivf_pq_recall_eval",
    f"""
    WITH {_IVF_PQ_CTES_SQL},
    exact_pairs AS (
      SELECT r.probe_id, a.member_id,
             MAX(round(list_cosine_similarity(r.p, v.mvec), 6)) AS sim
      FROM routed r JOIN assign a USING (cell_id)
      JOIN vecs v ON v.member_id = a.member_id
      WHERE a.member_id <> r.probe_id
      GROUP BY r.probe_id, a.member_id
    ),
    ivftop AS (
      SELECT probe_id, member_id AS neighbor_id FROM (
        SELECT probe_id, member_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, member_id) AS rk
        FROM exact_pairs) WHERE rk <= 5
    ),
    exact_scored AS (
      SELECT p.probe_id, v.member_id AS neighbor_id,
             round(list_cosine_similarity(p.p, v.mvec), 6) AS sim
      FROM probes p JOIN vecs v ON v.member_id <> p.probe_id
    ),
    truth AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, neighbor_id) AS rk
        FROM exact_scored) WHERE rk <= 5
    )
    SELECT t.probe_id,
           COUNT(*) AS n_true,
           CAST(SUM(CASE WHEN q.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS pq_hits,
           ROUND(CAST(SUM(CASE WHEN q.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS pq_recall,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS ivf_hits,
           ROUND(CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS ivf_recall
    FROM truth t
    LEFT JOIN pqtop q
      ON q.probe_id = t.probe_id AND q.neighbor_id = t.neighbor_id
    LEFT JOIN ivftop i
      ON i.probe_id = t.probe_id AND i.neighbor_id = t.neighbor_id
    GROUP BY t.probe_id
    """,
    doc="PQ quality telemetry for the ADC serving path: "
    "per-probe recall@5 of embedding_ivf_pq_ann (shared "
    "_IVF_PQ_CTES_SQL / _ivf_pq_topk chain VERBATIM — the measured path "
    "IS the serving path) against brute-force truth over the capped "
    "probe panel, NEXT TO the full-precision IVF rerank's recall at the "
    "same n_probe=2 routing (shared ivf_route_candidates index) — one "
    "row per probe answers the question the serving path's docstring "
    "left open: what recall does the 16x code compression cost vs "
    "re-ranking candidates with exact cosines. Truth pays the bounded "
    "probes x corpus scoring (embedding_ann_recall_eval cost class, "
    "panel hard-capped by _PROBE_BOUND so the term stays "
    "linear-in-corpus); both ANN legs are (probe, neighbor)-keyed left "
    "joins onto the 5-per-probe truth rows plus one per-probe aggregate.",
)
def embedding_ivf_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PROBE_BOUND)
    )
    truth = brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    pq = _ivf_pq_topk(spark, sf_dir).select(
        F.col("probe_id").alias("q_probe"), F.col("neighbor_id").alias("q_neighbor")
    )
    ivf = ivf_ann_topk(emb, probes, k=5, n_probe=2).select(
        F.col("probe_id").alias("i_probe"), F.col("neighbor_id").alias("i_neighbor")
    )
    joined = (
        truth.join(
            pq,
            (truth.probe_id == pq.q_probe) & (truth.neighbor_id == pq.q_neighbor),
            "left",
        )
        .join(
            ivf,
            (truth.probe_id == ivf.i_probe) & (truth.neighbor_id == ivf.i_neighbor),
            "left",
        )
        .select(truth.probe_id, "q_neighbor", "i_neighbor")
    )
    pq_hits = F.sum(
        F.when(F.col("q_neighbor").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    ivf_hits = F.sum(
        F.when(F.col("i_neighbor").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    return joined.groupBy("probe_id").agg(
        F.count("*").alias("n_true"),
        pq_hits.alias("pq_hits"),
        F.round(pq_hits.cast("double") / F.count("*"), 6).alias("pq_recall"),
        ivf_hits.alias("ivf_hits"),
        F.round(ivf_hits.cast("double") / F.count("*"), 6).alias("ivf_recall"),
    )


@register(
    "docs_minhash_jaccard_estimate",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    {_minhash_band_chain_sql()},
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND b.doc_id > a.doc_id
    )
    SELECT c.id_a, c.id_b,
           ({" + ".join(f"CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END" for j in range(8))})
             AS n_agree,
           round(({" + ".join(f"CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END" for j in range(8))})
                 / 8.0, 6) AS est_jaccard
    FROM cands c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    """,
    doc="MinHash Jaccard estimation for LSH candidate pairs: the fraction "
    "of agreeing signature components is an unbiased Jaccard estimate "
    "(Pr[min-hash collision] = J), so candidates can be thresholded WITHOUT "
    "touching document text — the standard second stage between LSH "
    "blocking and (optional) exact verification. Two sig equi-joins onto "
    "the bounded candidate set; signatures shuffle once per side",
)
def docs_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    aug = augmented_docs(spark, sf_dir)
    # the signature table feeds SIX arms here (four inside
    # lsh_candidates + both estimate join sides) — materialize it once
    # (72 B/doc); build-inclusive extras timing, so eager is honest
    sigs = reliable_checkpoint(minhash_signature(aug))
    cands = lsh_candidates(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"), *[F.col(f"h{j}").alias(f"a{j}") for j in range(8)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"), *[F.col(f"h{j}").alias(f"b{j}") for j in range(8)]
    )
    agree = None
    for j in range(8):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            agree.alias("n_agree"),
            F.round(agree / 8.0, 6).alias("est_jaccard"),
        )
    )


# Zipf's-law fit: least squares over (ln rank, ln count) of the top-1000
# vocabulary head. Sums are fixed-point (round-to-9-decimals DECIMAL, the
# embedding_dim_stats policy) so cross-engine float summation order cannot
# move the hash; per-row ln/round are single IEEE ops on identical integer
# inputs in both engines.
_ZIPF_SLOPE_NUM = (
    "(CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_ZIPF_SLOPE_DEN = (
    "(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_ZIPF_SLOPE = f"({_ZIPF_SLOPE_NUM} / {_ZIPF_SLOPE_DEN})"


@register(
    "docs_zipf_slope",
    f"""
    WITH toks AS (
      SELECT lower(term) AS term FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents)
    ),
    counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    ranked AS (
      SELECT n, rank FROM (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank
        FROM counts) WHERE rank <= 1000
    ),
    fx AS (
      SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
             CAST(round(ln(CAST(n AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
      FROM ranked
    ),
    s AS (SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x*x) AS sxx, SUM(x*y) AS sxy FROM fx)
    SELECT k AS n_terms,
           round({_ZIPF_SLOPE}, 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE) - {_ZIPF_SLOPE} * CAST(sx AS DOUBLE))
                 / CAST(k AS DOUBLE), 6) AS zipf_intercept
    FROM s
    """,
    doc="Zipf's-law power-law fit over the corpus rank-frequency curve: "
    "least-squares slope/intercept of ln(count) on ln(rank) across the "
    "top-1000 vocabulary head (the head is where the law holds and where "
    "the fit is classically taken — and restricting to it makes the plan "
    "scale-free: TakeOrderedAndProject keeps 1000 survivors of the "
    "map-side-combined term counts, so the window and the regression "
    "never see the full vocabulary). The normal-equation sums are exact "
    "fixed-point DECIMAL over per-row rounded ln values, so the slope is "
    "bit-identical across engines regardless of aggregation order.",
)
def docs_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("term"))
        .select(F.lower(F.col("term")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    # TakeOrderedAndProject first (the docs_vocab_topk pattern): the
    # row_number window then ranks only the 1000 survivors.
    top = counts.orderBy(F.col("n").desc(), F.col("term")).limit(1000)
    w = Window.orderBy(F.col("n").desc(), F.col("term"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    x = F.round(F.log(F.col("rank").cast("double")), 9).cast("decimal(12,9)")
    y = F.round(F.log(F.col("n").cast("double")), 9).cast("decimal(12,9)")
    s = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    kd = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (kd * sxy - sx * sy) / (kd * sxx - sx * sx)
    return s.select(
        F.col("k").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / kd, 6).alias("zipf_intercept"),
    )


# DSIR-style data selection (Xie et al. 2023 shape): importance weight of
# each doc under a hashed bag-of-unigrams model, log p_target - log p_raw
# summed over tokens. Buckets are a 1024-way md5 hash (cross-engine
# deterministic); both count tables come from ONE corpus aggregation pass
# (conditional sums), the totals from the 1024-row bucket table itself, so
# the corpus is tokenized exactly twice: counts pass + scoring pass.
# single source of truth for the curated-target source set: the SQL
# IN-list and the Spark isin() both derive from this tuple so the oracle
# and the plan cannot drift (the failure mode the shared MinHash/Jaccard
# CTE fragments exist to prevent)
_DSIR_TARGET_SOURCES = ("src1", "src2", "src3")
_DSIR_TARGET_SQL = "(" + ", ".join(f"'{s}'" for s in _DSIR_TARGET_SOURCES) + ")"


@register(
    "docs_dsir_weights",
    f"""
    WITH feat AS (
      SELECT doc_id, source,
             {_md5_int_sql('lower(term)', 11)} % 1024 AS bucket
      FROM (
        SELECT doc_id, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    bucket_cts AS (
      SELECT bucket, COUNT(*) AS cr,
             CAST(SUM(CASE WHEN source IN {_DSIR_TARGET_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS ct
      FROM feat GROUP BY bucket
    ),
    tots AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt
      FROM bucket_cts
    ),
    ratio AS (
      SELECT bucket,
             CAST(round(ln((ct + 1.0) / (nt + 1024.0))
                        - ln((cr + 1.0) / (nr + 1024.0)), 9)
                  AS DECIMAL(14,9)) AS lr
      FROM bucket_cts, tots
    )
    SELECT f.doc_id, COUNT(*) AS n_tokens,
           round(CAST(SUM(r.lr) AS DOUBLE), 6) AS log_weight
    FROM feat f JOIN ratio r USING (bucket)
    GROUP BY f.doc_id
    """,
    doc="DSIR-style importance weights for data selection (Xie et al. "
    "2023 shape): per-doc sum of log p_target/p_raw over Laplace-smoothed "
    "hashed-unigram (1024-way md5) bucket frequencies, target = the "
    "curated-source subset. Raw and target counts come from ONE "
    "conditional-sum aggregation pass; the totals derive from the "
    "1024-row bucket table, which then broadcasts into the scoring join "
    "— two corpus tokenization passes total, no corpus-side shuffle for "
    "scoring. Per-bucket log-ratios are rounded to fixed-point DECIMAL "
    "before the per-doc sum, so aggregation order cannot move the hash.",
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import md5_int

    target = _DSIR_TARGET_SOURCES
    docs = load_table(spark, "documents", sf_dir)
    feat = docs.select(
        "doc_id",
        "source",
        F.explode(ws_tokens(F.col("text"))).alias("term"),
    ).select(
        "doc_id",
        "source",
        F.pmod(md5_int(F.lower(F.col("term")), 11), F.lit(1024)).alias("bucket"),
    )
    bucket_cts = feat.groupBy("bucket").agg(
        F.count("*").alias("cr"),
        F.sum(F.when(F.col("source").isin(*target), 1).otherwise(0))
        .cast("bigint")
        .alias("ct"),
    )
    tots = bucket_cts.agg(
        F.sum("cr").cast("bigint").alias("nr"),
        F.sum("ct").cast("bigint").alias("nt"),
    )
    lr = F.round(
        F.log((F.col("ct") + 1.0) / (F.col("nt") + 1024.0))
        - F.log((F.col("cr") + 1.0) / (F.col("nr") + 1024.0)),
        9,
    ).cast("decimal(14,9)")
    ratio = bucket_cts.join(F.broadcast(tots)).select("bucket", lr.alias("lr"))
    return (
        feat.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("lr").cast("double"), 6).alias("log_weight"),
        )
    )


# ---- k-means (Lloyd) refinement oracle: unrolled assign/recompute CTEs ----

_KM_VECS_SQL = (
    "SELECT vec_id AS member_id, CAST(embedding AS DOUBLE[]) AS mvec FROM embeddings"
)

# the oracle's per-dim CTE must enumerate every vector position; the Spark
# path asserts the data really has this many dims (embedding_kmeans below),
# so a dimensionality change fails loudly instead of silently computing
# means over the wrong dim set
_KM_DIM = 64


def _km_assign_sql(cent: str, out: str) -> str:
    """argmax-cosine assignment CTE (ivf_assign's tie-break: rounded
    sim desc, then LOWEST cell id)."""
    return f"""
    {out} AS (
      SELECT member_id, cell_id FROM (
        SELECT v.member_id, c.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.member_id
                 ORDER BY round(list_cosine_similarity(v.mvec, c.centvec), 6) DESC,
                          c.cell_id
               ) AS r
        FROM vecs v CROSS JOIN {cent} c) WHERE r = 1
    )"""


def _km_recompute_sql(assign: str, out: str) -> str:
    """per-dim fixed-point mean CTE -> ordered centroid arrays."""
    return f"""
    d{out} AS (
      SELECT a.cell_id, p.pos,
             round(CAST(SUM(CAST(round(v.mvec[p.pos + 1], 9) AS DECIMAL(24,9))) AS DOUBLE)
                   / COUNT(*), 9) AS m
      FROM {assign} a JOIN vecs v USING (member_id)
      CROSS JOIN range(0, {_KM_DIM}) AS p(pos)
      GROUP BY a.cell_id, p.pos
    ),
    {out} AS (
      SELECT cell_id, list(m ORDER BY pos) AS centvec FROM d{out} GROUP BY cell_id
    )"""


@register(
    "embedding_kmeans",
    f"""
    WITH vecs AS ({_KM_VECS_SQL}),
    params AS ({_ivf_params_sql("embeddings")}),
    cent0 AS (
      SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centvec
      FROM embeddings, params WHERE {_CENT_PRED_SQL}
    ),
    {_km_assign_sql("cent0", "assign0")},
    {_km_recompute_sql("assign0", "cent1")},
    {_km_assign_sql("cent1", "assign1")},
    {_km_recompute_sql("assign1", "cent2")},
    {_km_assign_sql("cent2", "assignf")}
    SELECT member_id AS vec_id, cell_id,
           COUNT(*) OVER (PARTITION BY cell_id) AS cell_size
    FROM assignf
    """,
    doc="k-means clustering over embeddings — two full Lloyd rounds "
    "(assign via broadcast argmax-cosine, recompute via ONE (cell, dim)-"
    "keyed mean aggregation with map-side combine) from the IVF "
    "hash-sampled seeds, then the final assignment with per-cluster "
    "sizes. This is the refinement step the IVF index docstrings point "
    "at, now a first-class operator: centroid count stays bounded by the "
    "sqrt(n)-capped stride rule (the broadcast side can never grow past "
    "IVF_MAX_CELLS), per-round cost is one corpus scan + one k*dim "
    "aggregate, and the k*dim centroid frames are materialized per round "
    "so no round replays its predecessors. Per-dim means are fixed-point "
    "(DECIMAL sums, round 9), which makes a multi-round iterative result "
    "bit-identical across engines — the oracle replays both rounds as "
    "unrolled CTEs.",
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import kmeans_refine

    emb = load_table(spark, "embeddings", sf_dir)
    # the unrolled oracle enumerates exactly _KM_DIM positions; fail
    # loudly on a dimensionality change instead of silently averaging the
    # wrong dim set (one-row probe, negligible next to the Lloyd rounds)
    probe = emb.select(F.size("embedding").alias("d")).first()
    if probe is not None and probe.d != _KM_DIM:
        raise ValueError(
            f"embedding_kmeans: expected {_KM_DIM}-dim embeddings, "
            f"data has {probe.d}"
        )
    assign, _cents = kmeans_refine(emb, iterations=2)
    w = Window.partitionBy("cell_id")
    return assign.select(
        F.col("member_id").alias("vec_id"),
        "cell_id",
        F.count("*").over(w).alias("cell_size"),
    )


@register(
    "docs_lsh_quality_eval",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    {_jaccard_chain_sql("j")},
    exact AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    ),
    {_minhash_band_chain_sql("b")},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bkept a JOIN bkept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND b.doc_id > a.doc_id
    ),
    hits AS (SELECT COUNT(*) AS n_hits FROM cand JOIN exact USING (id_a, id_b)),
    nc AS (SELECT COUNT(*) AS n_candidates FROM cand),
    ne AS (SELECT COUNT(*) AS n_true_pairs FROM exact)
    SELECT n_candidates, n_true_pairs, n_hits,
           round(CAST(n_hits AS DOUBLE) / nullif(n_candidates, 0), 6) AS precision,
           round(CAST(n_hits AS DOUBLE) / nullif(n_true_pairs, 0), 6) AS recall,
           round(2.0 * n_hits / nullif(n_candidates + n_true_pairs, 0), 6) AS f1
    FROM nc, ne, hits
    """,
    doc="blocking-quality evaluation for the dedup pipeline: "
    "precision/recall/F1 of the MinHash-LSH candidate pairs against the "
    "exact n-gram-Jaccard>=0.5 ground truth — the measurement a pipeline "
    "owner runs before trusting banded blocking at full scale. Reuses "
    "the EXACT shared definitions of both pipelines (same shingles, "
    "signature formulas, band caps — the SQL reuses the same CTE "
    "fragments, so the evaluated system can't drift from the evaluated "
    "queries). Cost is the two pipelines plus an (id_a, id_b) equi-join "
    "and three 1-row counts.",
)
def docs_lsh_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import (
        lsh_candidates,
        minhash_signature,
        ngram_jaccard_pairs,
    )

    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    aug = augmented_docs(spark, sf_dir)
    # each pair set feeds two consumers (the hit join + its own count),
    # and each is an expensive chain (the LSH chain re-derives the
    # signature per self-join arm; the exact chain is the posting-list
    # join) — materialize the skinny id-pair results once
    sigs = reliable_checkpoint(
        minhash_signature(aug, num_hashes=8, shingle_k=3, hash_fn="md5")
    )
    cand = reliable_checkpoint(
        lsh_candidates(sigs, num_hashes=8, band_size=2, band_cap=64).select(
            "id_a", "id_b"
        )
    )
    exact = reliable_checkpoint(
        ngram_jaccard_pairs(aug, block_col="lang", threshold=0.5).select(
            "id_a", "id_b"
        )
    )
    hits = cand.join(exact, ["id_a", "id_b"]).agg(F.count("*").alias("n_hits"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    ne = exact.agg(F.count("*").alias("n_true_pairs"))
    h = F.col("n_hits")
    return (
        nc.join(ne)
        .join(hits)
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_hits",
            F.round(h.cast("double") / F.nullif(F.col("n_candidates"), F.lit(0)), 6).alias("precision"),
            F.round(h.cast("double") / F.nullif(F.col("n_true_pairs"), F.lit(0)), 6).alias("recall"),
            F.round(
                2.0 * h / F.nullif(F.col("n_candidates") + F.col("n_true_pairs"), F.lit(0)),
                6,
            ).alias("f1"),
        )
    )


# LSH banding-parameter tuning profile: for every (bands, rows_per_band)
# factorization of the 8-hash signature, the classic S-curve threshold
# tau = (1/b)^(1/r) (the Jaccard at ~50% collision probability — how a
# dedup team picks banding) plus the EMPIRICAL bucket-load profile on
# this corpus. tau values are precomputed Python double literals emitted
# into BOTH engines, so no cross-engine libm pow is in the hash path.
_LSH_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]
_LSH_TAUS = {(b, r): (1.0 / b) ** (1.0 / r) for b, r in _LSH_CONFIGS}
_LSH_PROFILE_CAP = 64  # the production chain's band cap


def _lsh_profile_cfg_sql(b: int, r: int) -> str:
    bands_sel = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, "
        + " || '_' || ".join(
            f"CAST(h{i * r + j} AS VARCHAR)" for j in range(r)
        )
        + " AS band_key FROM sig"
        for i in range(b)
    )
    cap = _LSH_PROFILE_CAP
    return f"""cfg{b}_{r}_sizes AS (
      SELECT band_idx, band_key, COUNT(*) AS m
      FROM ({bands_sel}) GROUP BY 1, 2
    ),
    cfg{b}_{r}_stats AS (
      SELECT {b} AS bands, {r} AS rows_per_band,
             {_LSH_TAUS[(b, r)]!r} AS tau_threshold,
             CAST(SUM(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buckets_multi,
             CAST(SUM(CASE WHEN m > {cap} THEN 1 ELSE 0 END) AS BIGINT)
               AS hot_buckets,
             CAST(MAX(m) AS BIGINT) AS max_bucket,
             CAST(SUM(CASE WHEN m BETWEEN 2 AND {cap}
                           THEN m * (m - 1) // 2 ELSE 0 END) AS BIGINT)
               AS candidate_pair_slots
      FROM cfg{b}_{r}_sizes
    )"""


@register(
    "docs_lsh_tuning_profile",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    {_minhash_band_chain_sql("t")},
    {",".join(_lsh_profile_cfg_sql(b, r) for b, r in _LSH_CONFIGS)}
    {" UNION ALL ".join(f"SELECT * FROM cfg{b}_{r}_stats" for b, r in _LSH_CONFIGS)}
    """,
    doc=(
        "LSH banding-parameter tuning profile — the planning table a "
        "dedup team reads before committing (bands, rows_per_band): for "
        "every factorization of the 8-hash MinHash signature, the "
        "S-curve threshold tau = (1/b)^(1/r) (the Jaccard level at ~50% "
        "collision probability; more bands -> catches lower similarity, "
        "more candidates) next to the EMPIRICAL cost on this corpus — "
        "multi-member buckets, hot buckets past the production cap, max "
        "bucket size, and the candidate-pair slots the capped banded "
        "join would emit (sum of C(m,2) over admissible buckets — "
        "derived from group SIZES, so the profile never materializes a "
        "pair). Completes the banding family: candidates "
        "(docs_minhash_lsh_candidates) -> quality (docs_lsh_quality_eval)"
        " -> tuning (this). The signature table is computed ONCE "
        "(checkpointed) and each config adds one explode + one "
        "map-side-combined groupBy over doc-count-sized rows — linear "
        "at any corpus size, bounded by #configs."
    ),
)
def docs_lsh_tuning_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import minhash_signature
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    aug = augmented_docs(spark, sf_dir)
    sigs = reliable_checkpoint(
        minhash_signature(aug, num_hashes=8, shingle_k=3, hash_fn="md5")
    )
    cap = _LSH_PROFILE_CAP
    out = None
    for b, r in _LSH_CONFIGS:
        bands = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.concat_ws(
                        "_", *[F.col(f"h{i * r + j}") for j in range(r)]
                    ).alias("band_key"),
                )
                for i in range(b)
            ]
        )
        sizes = (
            sigs.select(F.explode(bands).alias("band"))
            .groupBy("band.band_idx", "band.band_key")
            .agg(F.count("*").alias("m"))
        )
        m = F.col("m")
        stats = sizes.agg(
            F.sum((m >= 2).cast("long")).alias("n_buckets_multi"),
            F.sum((m > cap).cast("long")).alias("hot_buckets"),
            F.max(m).cast("bigint").alias("max_bucket"),
            F.sum(
                F.when(m.between(2, cap), (m * (m - 1) / 2).cast("bigint"))
                .otherwise(F.lit(0))
            ).alias("candidate_pair_slots"),
        ).select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            F.lit(_LSH_TAUS[(b, r)]).alias("tau_threshold"),
            "n_buckets_multi",
            "hot_buckets",
            "max_bucket",
            "candidate_pair_slots",
        )
        out = stats if out is None else out.unionByName(stats)
    return out


# UDTF surface (§2.10): same contract as docs_chunked, computed through
# the Python table-function extension point — same oracle STRING, so the
# two physical paths are held to one definition.
from cupertino_nvr_spark.plans.registry import REGISTRY as _REGISTRY  # noqa: E402


@register(
    "docs_chunked_udtf",
    _REGISTRY["docs_chunked"].oracle,
    doc="document chunking via a Python UDTF (LATERAL table function, "
    "Arrow transfer) — the §2.10 one-row-in/many-rows-out extension "
    "point, pinned hash-identical to the codegen docs_chunked plan and "
    "to the same DuckDB oracle. The codegen form remains the production "
    "path (UDTFs pay per-row Python); this form exists for chunkers that "
    "genuinely need Python (real tokenizers, sentence splitters) and "
    "proves the extension point against a hash-checked contract.",
)
def docs_chunked_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.functions.udtf import chunk_docs_udtf

    return chunk_docs_udtf(load_table(spark, "documents", sf_dir))


@register(
    "media_resize_plan",
    """
    WITH media AS (
      SELECT doc_id AS media_id,
             CAST(320 + (doc_id % 5) * 160 AS INT) AS width,
             CAST(240 + (doc_id % 7) * 120 AS INT) AS height
      FROM documents WHERE doc_id % 3 = 0
    ),
    scaled AS (
      SELECT media_id, width AS src_w, height AS src_h,
             round(least(224.0 / width, 224.0 / height), 6) AS scale
      FROM media
    )
    SELECT media_id, src_w, src_h, scale,
           CAST(floor(src_w * scale) AS INT) AS dst_w,
           CAST(floor(src_h * scale) AS INT) AS dst_h,
           CAST(floor((224 - floor(src_w * scale)) / 2) AS INT) AS pad_left,
           CAST(floor((224 - floor(src_h * scale)) / 2) AS INT) AS pad_top
    FROM scaled
    """,
    doc="multimodal resize planning: aspect-preserving letterbox geometry "
    "into a 224x224 canvas (scale, destination dims, centering pads) for "
    "every image payload, from typed metadata only — a pure codegen "
    "projection; the decode/resample kernels receive a fully planned "
    "geometry and fan out per payload. Image dims are synthesized "
    "deterministically from the id (the container ships no real image "
    "bytes; the plumbing — schema, filter, arithmetic — is the product).",
)
def media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.multimodal import resize_letterbox_plan

    docs = load_table(spark, "documents", sf_dir)
    media = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        (320 + (F.col("doc_id") % 5) * 160).cast("int").alias("width"),
        (240 + (F.col("doc_id") % 7) * 120).cast("int").alias("height"),
    )
    return resize_letterbox_plan(media, target=224)


@register(
    "docs_langid_confusion",
    f"""
    WITH {_LANGID_CTE_SQL},
    cells AS (
      SELECT lang AS true_lang, predicted_lang, COUNT(*) AS n
      FROM predicted GROUP BY lang, predicted_lang
    ),
    truth AS (SELECT true_lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cells GROUP BY true_lang)
    SELECT c.true_lang, c.predicted_lang, c.n, t.n_true,
           round(CAST(c.n AS DOUBLE) / t.n_true, 6) AS frac,
           (c.true_lang = c.predicted_lang) AS is_correct
    FROM cells c JOIN truth t USING (true_lang)
    """,
    doc="language-ID evaluation: the confusion matrix of the stopword-"
    "argmax classifier against the labeled lang column, with per-true-"
    "language recall fractions — the second entry in the evaluation "
    "family (docs_lsh_quality_eval evaluates blocking; this evaluates "
    "classification), sharing the classifier's EXACT definition with "
    "docs_quality_lang via one CTE/function so evaluated and production "
    "classifiers cannot drift. Cost: one corpus projection + a "
    "languages²-bounded aggregate; row counts broadcast back onto the "
    "tiny cell table.",
)
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    predicted = docs.select(
        "lang", predict_lang(F.col("text")).alias("predicted_lang")
    )
    cells = predicted.groupBy(
        F.col("lang").alias("true_lang"), "predicted_lang"
    ).agg(F.count("*").alias("n"))
    truth = cells.groupBy("true_lang").agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    return cells.join(F.broadcast(truth), "true_lang").select(
        "true_lang",
        "predicted_lang",
        "n",
        "n_true",
        F.round(F.col("n").cast("double") / F.col("n_true"), 6).alias("frac"),
        (F.col("true_lang") == F.col("predicted_lang")).alias("is_correct"),
    )


@register(
    "docs_dedup_rate_by_lang",
    f"""
    WITH aug AS ({_AUG_SQL}),
    keepers AS (
      SELECT md5(text) AS digest, MIN(doc_id) AS keeper_id
      FROM aug GROUP BY md5(text)
    ),
    tagged AS (
      SELECT a.lang, (a.doc_id = k.keeper_id) AS is_keeper
      FROM aug a JOIN keepers k ON md5(a.text) = k.digest
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           round(CAST(SUM(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS BIGINT) * 1.0
                 / COUNT(*), 6) AS dup_rate
    FROM tagged GROUP BY lang
    """,
    doc="curation telemetry: per-language exact-duplicate rates (which "
    "corpus slices contribute redundant bytes — the report a pipeline "
    "owner reads before rebalancing feeds). Same keeper definition as "
    "docs_exact_dedup (min-id per md5 digest); one digest aggregate, "
    "one digest equi-join, then a sources-sized conditional rollup with "
    "BIGINT casts on both engines.",
)
def docs_dedup_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_docs(spark, sf_dir)
    keepers = aug.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("keeper_id")
    )
    tagged = aug.withColumn("digest", F.md5("text")).join(keepers, "digest").select(
        "lang", (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper")
    )
    kept = F.sum(F.when(F.col("is_keeper"), 1).otherwise(0)).cast("bigint")
    dropped = F.sum(F.when(F.col("is_keeper"), 0).otherwise(1)).cast("bigint")
    return tagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        kept.alias("n_kept"),
        dropped.alias("n_dropped"),
        F.round(dropped * 1.0 / F.count("*"), 6).alias("dup_rate"),
    )


@register(
    "docs_token_entropy",
    """
    WITH toks AS (
      SELECT lang, lower(term) AS term FROM (
        SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    counts AS (SELECT lang, term, COUNT(*) AS n FROM toks GROUP BY lang, term),
    tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
                   COUNT(*) AS vocab_size
            FROM counts GROUP BY lang),
    contrib AS (
      SELECT c.lang, t.n_tokens, t.vocab_size,
             CAST(round(-(CAST(c.n AS DOUBLE) / t.n_tokens)
                        * log2(CAST(c.n AS DOUBLE) / t.n_tokens), 12)
                  AS DECIMAL(16,12)) AS h
      FROM counts c JOIN tot t USING (lang)
    )
    SELECT lang, n_tokens, vocab_size,
           round(CAST(SUM(h) AS DOUBLE), 6) AS entropy_bits
    FROM contrib GROUP BY lang, n_tokens, vocab_size
    """,
    doc="information-theoretic corpus QA: Shannon entropy of the unigram "
    "distribution per language (bits/token) with vocab size — low "
    "entropy flags templated/duplicated slices, high entropy flags noise "
    "(the CCNet/Gopher-era diversity diagnostic). Per-term -p*log2(p) "
    "contributions are single deterministic IEEE ops rounded to "
    "fixed-point BEFORE the per-language sum, so vocabulary-order "
    "accumulation cannot move the hash. One token aggregate (map-side "
    "combined), language-sized totals joined back by key.",
)
def docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select("lang", F.explode(ws_tokens(F.col("text"))).alias("term"))
        .select("lang", F.lower(F.col("term")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count("*").alias("vocab_size"),
    )
    p = F.col("n").cast("double") / F.col("n_tokens")
    h = F.round(-p * F.log2(p), 12).cast("decimal(16,12)")
    contrib = counts.join(F.broadcast(tot), "lang").select(
        "lang", "n_tokens", "vocab_size", h.alias("h")
    )
    return contrib.groupBy("lang", "n_tokens", "vocab_size").agg(
        F.round(F.sum("h").cast("double"), 6).alias("entropy_bits")
    )


# --- round-7 additions: BPE merge stats, soft dedup, ANN recall eval ---------


@register(
    "docs_bpe_pair_stats",
    r"""
    WITH toked AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS t
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                    i -> t[i] || ' ' || t[i+1])) AS pair
      FROM toked
    ),
    counts AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
    SELECT pair, n, rank FROM (
      SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank
      FROM counts) WHERE rank <= 50
    """,
    doc=(
        "top-50 adjacent-token-pair frequencies over the lowercased "
        "BPE-ish token stream — the statistic the first BPE merge step "
        "maximizes, and the heart of distributed tokenizer training "
        "(count pairs -> merge the argmax -> repeat; each round is "
        "exactly this plan over the re-tokenized corpus). One explode + "
        "one map-side-combined count shuffle keyed by pair; the top-50 "
        "is TakeOrderedAndProject over distinct pairs (per-partition "
        "heaps + a 50-row driver merge), never a global sort of the "
        "pair stream. At 100 TB the pair vocabulary, not the corpus, "
        "bounds the shuffle."
    ),
)
def docs_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.dedup import _shingle_spans

    docs = load_table(spark, "documents", sf_dir)
    toked = docs.select(regex_tokens(F.lower(F.col("text"))).alias("t"))
    tc = F.col("t")
    pairs = F.transform(
        _shingle_spans(F.size(tc), 2),
        lambda i: F.concat_ws(" ", F.element_at(tc, i), F.element_at(tc, i + 1)),
    )
    counts = (
        toked.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("pair")).limit(50)
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "pair", "n", "rank"
    )


@register(
    "docs_softdedup_weights",
    f"""
    WITH aug AS ({_AUG_SQL}),
    fps AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM aug
    ),
    clusters AS (
      SELECT fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
      FROM fps GROUP BY fp
    )
    SELECT f.doc_id,
           c.n_copies,
           ROUND(1.0 / c.n_copies, 6) AS train_weight,
           (f.doc_id = c.keeper_id) AS is_keeper
    FROM fps f JOIN clusters c USING (fp)
    """,
    doc=(
        "SoftDeDup down-weighting (the alternative to dropping "
        "duplicates: keep every copy, scale its training weight by "
        "1/n_copies so each CONTENT contributes one document's worth of "
        "gradient — what SlimPajama-style pipelines apply when hard "
        "dedup would distort the mixture). Shares "
        "docs_fingerprint_dedup's normalized-digest clusters; one "
        "digest-keyed aggregate plus one digest-keyed join back to the "
        "corpus — both map-side-combinable/equi-keyed at any scale."
    ),
)
def docs_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_docs(spark, sf_dir)
    fps = aug.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    clusters = fps.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )
    return fps.join(clusters, "fp").select(
        "doc_id",
        "n_copies",
        F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("train_weight"),
        (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
    )


@register(
    "embedding_ann_recall_eval",
    f"""
    WITH probes AS (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id % 100 = 0 AND vec_id < {_PROBE_BOUND}),
    exact_scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM probes p JOIN embeddings c ON p.vec_id <> c.vec_id
    ),
    truth AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM exact_scored) WHERE rank <= 5
    ),
    {_LSH_BASE_SQL},
    pbuckets AS (
      SELECT vec_id AS probe_id, e AS pvec, bucket
      FROM bucketed WHERE vec_id % 100 = 0 AND vec_id < {_PROBE_BOUND}
    ),
    cand AS (
      SELECT p.probe_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.pvec, c.e), 6) AS sim
      FROM pbuckets p JOIN bucketed c USING (bucket)
      WHERE p.probe_id <> c.vec_id
    ),
    approx AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM cand) WHERE rank <= 5
    )
    SELECT t.probe_id,
           COUNT(*) AS n_true,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS recall
    FROM truth t
    LEFT JOIN approx a USING (probe_id, neighbor_id)
    GROUP BY t.probe_id
    """,
    doc=(
        "per-probe recall@5 of the LSH-bucketed ANN against exact "
        "brute-force top-5 — the standard ANN quality harness "
        "(ann-benchmarks shape), the embedding-side sibling of "
        "docs_lsh_quality_eval. Ground truth pays the bounded "
        "probes x corpus exact scoring (1% probe side under _PROBE_BOUND, "
        "same cost class "
        "as embedding_cosine_topk — an eval harness runs on a sampled "
        "probe set, never the full corpus); the candidate side reuses "
        "embedding_lsh_ann's bucket equi-join; the comparison is a "
        "(probe, neighbor)-keyed left join plus one per-probe count "
        "aggregate. Every stage equi-keyed or bounded at any scale."
    ),
)
def embedding_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _PROBE_BOUND)
    )
    truth = brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    approx = lsh_ann_topk(emb, probes, dim=64, k=5).select(
        "probe_id", F.col("neighbor_id").alias("a_neighbor")
    )
    joined = truth.join(
        approx,
        (truth.probe_id == approx.probe_id)
        & (truth.neighbor_id == approx.a_neighbor),
        "left",
    ).select(truth.probe_id, "neighbor_id", "a_neighbor")
    hits = F.sum(
        F.when(F.col("a_neighbor").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    return joined.groupBy("probe_id").agg(
        F.count("*").alias("n_true"),
        hits.alias("n_hits"),
        F.round(hits.cast("double") / F.count("*"), 6).alias("recall"),
    )


@register(
    "docs_oov_rate",
    r"""
    WITH toks AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents)
    ),
    counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank
        FROM counts) WHERE rank <= 1000
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (term)
    GROUP BY t.doc_id
    """,
    doc=(
        "per-document out-of-vocabulary rate against the corpus top-1000 "
        "token vocabulary — the tokenizer-coverage eval run before fixing "
        "a vocab (high-OOV docs are either noise or the long tail the "
        "tokenizer will fragment). The vocabulary derives like "
        "docs_vocab_topk (map-side-combined term counts, "
        "TakeOrderedAndProject head) and broadcasts — 1000 rows at any "
        "corpus size — so the per-doc pass is one broadcast-hash left "
        "join over the token stream plus one doc-keyed count aggregate; "
        "no token-keyed shuffle at all."
    ),
)
def docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("term")
    ).select("doc_id", F.lower(F.col("term")).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("n"))
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("term"))
        .limit(1000)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "term", "left")
    oov = F.sum(
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    ).cast("bigint")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        oov.alias("n_oov"),
        F.round(oov.cast("double") / F.count("*"), 6).alias("oov_rate"),
    )


# --- distributed BPE trainer (K merge rounds, fully oracle-checked) ----------

# Words are encoded as separator-delimited symbol strings with DOUBLED
# boundaries: "<SS>c1<SS>c2<SS>" where SS = two U+001F chars. Applying
# merge (a, b) is then ONE plain string replace of "<S>a<SS>b<S>" with
# "<S>ab<S>" (S = one U+001F): the pattern consumes only the INNER half
# of each doubled boundary, so consecutive occurrences keep their shared
# boundary and leftmost non-overlapping replace reproduces exactly the
# greedy left-to-right merge BPE specifies ([a,a,a,a] -> [aa,aa], not
# [aa,a,a]). Both engines' replace() scan leftmost non-overlapping, so
# the oracle replays the merge bit-identically — no fold/UDF needed.
_BPE_S = "\x1f"
_BPE_SS = _BPE_S * 2
_BPE_MERGES = 6


def _bpe_round_sql(i: int) -> str:
    s, ss = _BPE_S, _BPE_SS
    return f"""
    s{i} AS (SELECT string_split(enc, '{ss}') AS syms, f FROM w{i}),
    p{i} AS (
      SELECT syms[j] AS l, syms[j+1] AS r2, CAST(SUM(f) AS BIGINT) AS cnt
      FROM (SELECT syms, f,
                   unnest(range(2, greatest(len(syms) - 1, 2))) AS j
            FROM s{i})
      GROUP BY 1, 2
    ),
    m{i} AS (SELECT l, r2, cnt FROM p{i} ORDER BY cnt DESC, l, r2 LIMIT 1),
    w{i + 1} AS (
      SELECT w, replace(enc, '{s}' || m.l || '{ss}' || m.r2 || '{s}',
                        '{s}' || m.l || m.r2 || '{s}') AS enc, f
      FROM w{i}, m{i} m
    )"""


_BPE_FINAL_SQL = "\n    UNION ALL ".join(
    f"SELECT {i + 1} AS merge_rank, l AS left_sym, r2 AS right_sym, "
    f"l || r2 AS merged, cnt AS pair_count FROM m{i}"
    for i in range(_BPE_MERGES)
)


@register(
    "docs_bpe_train_merges",
    f"""
    WITH toks AS (
      SELECT lower(term) AS w FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    w0 AS (
      SELECT w,
             '{_BPE_SS}' || regexp_replace(w, '(.)', '\\1{_BPE_SS}', 'g') AS enc,
             COUNT(*) AS f
      FROM toks GROUP BY w
    ),
    {",".join(_bpe_round_sql(i) for i in range(_BPE_MERGES))}
    {_BPE_FINAL_SQL}
    """,
    doc=(
        f"distributed BPE tokenizer training, {_BPE_MERGES} merge rounds "
        "(Sennrich et al. 2016 exactly: weighted adjacent-pair counts "
        "over the word-frequency table, argmax pair, greedy "
        "left-to-right merge, repeat) — the full trainer, not just one "
        "round's statistic (docs_bpe_pair_stats). The corpus collapses "
        "ONCE to the distinct-word/frequency table (vocabulary-bounded "
        "at any corpus size — the classic trainer trick), and every "
        "round is: split symbols, one map-side-combined pair count, a "
        "1-row argmax broadcast back, one string replace — no UDF, no "
        "driver-side state; merge application is a plain replace over a "
        "doubled-boundary symbol encoding that reproduces greedy BPE "
        "semantics under leftmost non-overlapping replacement on both "
        "engines. Spark rounds checkpoint the word table "
        "(reliable_checkpoint) so round k+1 reads a materialized round "
        "k instead of replaying the whole chain; the oracle unrolls the "
        "identical rounds as SQL CTEs, pagerank-style."
    ),
)
def docs_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merge_rows, _, _ = _bpe_train(spark, sf_dir)
    out = merge_rows[0]
    for mr in merge_rows[1:]:
        out = out.unionAll(mr)
    return out


def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE corpus word-frequency collapse every tokenizer trainer starts
    from: lowercased whitespace tokens, one explode + one
    map-side-combined groupBy. Factored out so a multi-trainer consumer
    (docs_tokenizer_fertility runs all three) can materialize it ONCE
    and pass it in — three trainers used to repeat the full corpus scan
    + tokenize + shuffle each."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )


def _bpe_train(spark: SparkSession, sf_dir: str, words: DataFrame | None = None):
    """Shared trainer loop: returns (merge_rows, initial_state,
    final_state) — the merges query unions the former, the compression
    eval aggregates the two states. ``words``: a pre-built (w, f) word
    table (see ``_word_freq``) to train on instead of collapsing the
    corpus again."""
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    if words is None:
        words = _word_freq(spark, sf_dir)
    enc0 = F.concat(
        F.lit(_BPE_SS), F.regexp_replace(F.col("w"), "(.)", "$1" + _BPE_SS)
    )
    state = reliable_checkpoint(words.select("w", enc0.alias("enc"), "f"))
    state0 = state
    merge_rows = []
    for i in range(_BPE_MERGES):
        syms = F.split(F.col("enc"), _BPE_SS)
        n = F.size(syms)
        # guard n >= 4 (>= 2 real symbols): F.sequence(2, n-2) silently
        # REVERSES to [2, 1] when n = 3 (a word collapsed to one symbol),
        # which would index the boundary empties as a phantom pair — the
        # same trap _shingle_spans documents; DuckDB's range() is empty
        spans = F.when(
            n >= 4, F.sequence(F.lit(2), n - 2)
        ).otherwise(F.array().cast("array<int>"))
        pair = F.explode(
            F.transform(
                spans,
                lambda j: F.struct(
                    F.element_at(syms, j).alias("l"),
                    F.element_at(syms, j + 1).alias("r2"),
                ),
            )
        )
        counts = (
            state.select(pair.alias("p"), "f")
            .groupBy("p.l", "p.r2")
            .agg(F.sum("f").cast("bigint").alias("cnt"))
        )
        m = counts.orderBy(
            F.col("cnt").desc(), F.col("l"), F.col("r2")
        ).limit(1)
        merge_rows.append(
            m.select(
                F.lit(i + 1).alias("merge_rank"),
                F.col("l").alias("left_sym"),
                F.col("r2").alias("right_sym"),
                F.concat("l", "r2").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        pattern = F.concat(
            F.lit(_BPE_S), F.col("l"), F.lit(_BPE_SS), F.col("r2"), F.lit(_BPE_S)
        )
        replacement = F.concat(
            F.lit(_BPE_S), F.col("l"), F.col("r2"), F.lit(_BPE_S)
        )
        state = reliable_checkpoint(
            state.crossJoin(F.broadcast(m)).select(
                "w",
                F.replace(F.col("enc"), pattern, replacement).alias("enc"),
                "f",
            )
        )
    return merge_rows, state0, state


@register(
    "docs_bpe_compression",
    f"""
    WITH toks AS (
      SELECT lower(term) AS w FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    w0 AS (
      SELECT w,
             '{_BPE_SS}' || regexp_replace(w, '(.)', '\\1{_BPE_SS}', 'g') AS enc,
             COUNT(*) AS f
      FROM toks GROUP BY w
    ),
    {",".join(_bpe_round_sql(i) for i in range(_BPE_MERGES))},
    before AS (
      SELECT CAST(SUM(f) AS BIGINT) AS n_words,
             CAST(SUM(f * (len(string_split(enc, '{_BPE_SS}')) - 2)) AS BIGINT)
               AS n_chars
      FROM w0
    ),
    after AS (
      SELECT CAST(SUM(f * (len(string_split(enc, '{_BPE_SS}')) - 2)) AS BIGINT)
        AS n_symbols
      FROM w{_BPE_MERGES}
    )
    SELECT n_words, n_chars, n_symbols,
           ROUND(CAST(n_chars AS DOUBLE) / n_symbols, 6) AS chars_per_symbol,
           ROUND(CAST(n_symbols AS DOUBLE) / n_words, 6) AS symbols_per_word
    FROM before CROSS JOIN after
    """,
    doc=(
        f"tokenizer compression eval after the {_BPE_MERGES} learned BPE "
        "merges: corpus token counts before (= characters) and after, "
        "chars-per-symbol and symbols-per-word — the number a tokenizer "
        "team watches as the merge list grows (fertility's inverse). "
        "Reuses the trainer's word-table rounds verbatim "
        "(docs_bpe_train_merges) and adds two 1-row aggregates over the "
        "initial and final word states cross-joined into the report row; "
        "all costs identical to the trainer at any scale."
    ),
)
def docs_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, state0, state_k = _bpe_train(spark, sf_dir)

    def syms_count(df):
        return F.sum(
            F.col("f") * (F.size(F.split(F.col("enc"), _BPE_SS)) - 2)
        ).cast("bigint")

    before = state0.agg(
        F.sum("f").cast("bigint").alias("n_words"),
        syms_count(state0).alias("n_chars"),
    )
    after = state_k.agg(syms_count(state_k).alias("n_symbols"))
    return before.crossJoin(after).select(
        "n_words",
        "n_chars",
        "n_symbols",
        F.round(
            F.col("n_chars").cast("double") / F.col("n_symbols"), 6
        ).alias("chars_per_symbol"),
        F.round(
            F.col("n_symbols").cast("double") / F.col("n_words"), 6
        ).alias("symbols_per_word"),
    )


@register(
    "docs_bpe_tokenized_len",
    f"""
    WITH toksd AS (
      SELECT doc_id, lower(term) AS w FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    toks AS (SELECT w FROM toksd),
    w0 AS (
      SELECT w,
             '{_BPE_SS}' || regexp_replace(w, '(.)', '\\1{_BPE_SS}', 'g') AS enc,
             COUNT(*) AS f
      FROM toks GROUP BY w
    ),
    {",".join(_bpe_round_sql(i) for i in range(_BPE_MERGES))},
    wsyms AS (
      SELECT w,
             CAST(len(string_split(enc, '{_BPE_SS}')) - 2 AS BIGINT) AS n_syms
      FROM w{_BPE_MERGES}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(s.n_syms) AS BIGINT) AS n_bpe_tokens
    FROM toksd t JOIN wsyms s USING (w)
    GROUP BY t.doc_id
    """,
    doc=(
        "per-document token count under the learned BPE merges — the "
        "third leg of the tokenizer family (train: "
        "docs_bpe_train_merges; corpus eval: docs_bpe_compression; "
        "per-doc application: this). Tokenizing a document is a "
        "vocabulary JOIN, not a re-segmentation: every word's "
        "post-merge symbol count is already materialized in the "
        "trainer's final word table, so the corpus-sized work is one "
        "word-keyed equi-join of the token stream against the "
        "vocabulary-bounded word table plus a doc-keyed count — "
        "exactly how production pipelines tokenize (word-level cache "
        "in front of the BPE automaton)."
    ),
)
def docs_bpe_tokenized_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, state_k = _bpe_train(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    toksd = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    )
    wsyms = state_k.select(
        "w",
        (F.size(F.split(F.col("enc"), _BPE_SS)) - 2)
        .cast("bigint")
        .alias("n_syms"),
    )
    return toksd.join(wsyms, "w").groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# WordPiece (BERT) tokenizer trainer — the third production tokenizer
# trainer next to BPE and unigram-LM. Identical greedy-merge loop to BPE
# (Sennrich-style rounds over the vocabulary-bounded word table) with the
# published WordPiece objective swapped in: merge the pair maximizing
# count(xy) / (count(x) * count(y)) — a likelihood gain, preferring
# pairs whose parts rarely occur apart, where BPE takes raw frequency.
# The ratio argmax rides FIXED-POINT MICRO-NATS
# (round((ln(c) - ln(a) - ln(b)) * 1e6) as BIGINT — the unigram trainer's
# rule) so the selection is an exact integer sort in both engines; ties
# break on (left, right) like BPE.
_WP_MERGES = 6


def _wp_round_sql(i: int) -> str:
    s, ss = _BPE_S, _BPE_SS
    return f"""
    vs{i} AS (SELECT string_split(enc, '{ss}') AS syms, f FROM v{i}),
    vu{i} AS (
      SELECT syms[j] AS sym, CAST(SUM(f) AS BIGINT) AS cnt
      FROM (SELECT syms, f,
                   unnest(range(2, greatest(len(syms), 2))) AS j
            FROM vs{i})
      GROUP BY 1
    ),
    vp{i} AS (
      SELECT syms[j] AS l, syms[j+1] AS r2, CAST(SUM(f) AS BIGINT) AS cnt
      FROM (SELECT syms, f,
                   unnest(range(2, greatest(len(syms) - 1, 2))) AS j
            FROM vs{i})
      GROUP BY 1, 2
    ),
    vsc{i} AS (
      SELECT p.l, p.r2, p.cnt,
             CAST(round((ln(CAST(p.cnt AS DOUBLE)) - ln(CAST(ul.cnt AS DOUBLE))
                         - ln(CAST(ur.cnt AS DOUBLE))) * 1000000) AS BIGINT)
               AS score_micro
      FROM vp{i} p
      JOIN vu{i} ul ON ul.sym = p.l
      JOIN vu{i} ur ON ur.sym = p.r2
    ),
    vm{i} AS (SELECT l, r2, cnt, score_micro FROM vsc{i}
              ORDER BY score_micro DESC, l, r2 LIMIT 1),
    v{i + 1} AS (
      SELECT w, replace(enc, '{s}' || m.l || '{ss}' || m.r2 || '{s}',
                        '{s}' || m.l || m.r2 || '{s}') AS enc, f
      FROM v{i}, vm{i} m
    )"""


_WP_FINAL_SQL = "\n    UNION ALL ".join(
    f"SELECT {i + 1} AS merge_rank, l AS left_sym, r2 AS right_sym, "
    f"l || r2 AS merged, cnt AS pair_count, score_micro FROM vm{i}"
    for i in range(_WP_MERGES)
)


@register(
    "docs_wordpiece_train_merges",
    f"""
    WITH toks AS (
      SELECT lower(term) AS w FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    v0 AS (
      SELECT w,
             '{_BPE_SS}' || regexp_replace(w, '(.)', '\\1{_BPE_SS}', 'g') AS enc,
             COUNT(*) AS f
      FROM toks GROUP BY w
    ),
    {",".join(_wp_round_sql(i) for i in range(_WP_MERGES))}
    {_WP_FINAL_SQL}
    """,
    doc=(
        f"WordPiece (BERT) tokenizer training, {_WP_MERGES} merge rounds: "
        "the BPE greedy loop with the published likelihood objective — "
        "merge the pair maximizing count(xy)/(count(x)count(y)), i.e. "
        "pairs whose parts rarely occur apart — completing the "
        "production tokenizer-trainer trio (BPE frequency, unigram-LM "
        "EM, WordPiece likelihood). Same scale shape as "
        "docs_bpe_train_merges: the corpus collapses ONCE to the "
        "vocabulary-bounded word table; every round is one symbol count "
        "+ one pair count (both map-side combined), a 1-row argmax over "
        "fixed-point micro-nat scores (exact integer sort, (l, r) "
        "tiebreak), one string replace. Oracle unrolls the identical "
        "rounds as CTEs."
    ),
)
def docs_wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merge_rows, _ = _wp_train(spark, sf_dir)
    out = merge_rows[0]
    for mr in merge_rows[1:]:
        out = out.unionAll(mr)
    return out


def _wp_train(spark: SparkSession, sf_dir: str, words: DataFrame | None = None):
    """Shared WordPiece trainer loop: returns (merge_rows, final_state) —
    the merges query unions the former; the application legs
    (docs_wordpiece_tokenized_len, the fertility wordpiece row) derive
    the greedy-matching vocabulary from the latter. ``words``: see
    ``_bpe_train``."""
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    if words is None:
        words = _word_freq(spark, sf_dir)
    enc0 = F.concat(
        F.lit(_BPE_SS), F.regexp_replace(F.col("w"), "(.)", "$1" + _BPE_SS)
    )
    state = reliable_checkpoint(words.select("w", enc0.alias("enc"), "f"))
    merge_rows = []
    for i in range(_WP_MERGES):
        syms = F.split(F.col("enc"), _BPE_SS)
        n = F.size(syms)
        sym_spans = F.when(n >= 3, F.sequence(F.lit(2), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        ucounts = (
            state.select(
                F.explode(
                    F.transform(sym_spans, lambda j: F.element_at(syms, j))
                ).alias("sym"),
                "f",
            )
            .groupBy("sym")
            .agg(F.sum("f").cast("bigint").alias("cnt"))
        )
        # pair spans: same n >= 4 guard as the BPE trainer (F.sequence
        # REVERSES when the upper bound is below the lower)
        pair_spans = F.when(
            n >= 4, F.sequence(F.lit(2), n - 2)
        ).otherwise(F.array().cast("array<int>"))
        pair = F.explode(
            F.transform(
                pair_spans,
                lambda j: F.struct(
                    F.element_at(syms, j).alias("l"),
                    F.element_at(syms, j + 1).alias("r2"),
                ),
            )
        )
        pcounts = (
            state.select(pair.alias("p"), "f")
            .groupBy("p.l", "p.r2")
            .agg(F.sum("f").cast("bigint").alias("cnt"))
        )
        ul = ucounts.select(F.col("sym").alias("l"), F.col("cnt").alias("ucnt_l"))
        ur = ucounts.select(F.col("sym").alias("r2"), F.col("cnt").alias("ucnt_r"))
        scored = (
            pcounts.join(F.broadcast(ul), "l")
            .join(F.broadcast(ur), "r2")
            .select(
                "l",
                "r2",
                "cnt",
                F.round(
                    (
                        F.log(F.col("cnt").cast("double"))
                        - F.log(F.col("ucnt_l").cast("double"))
                        - F.log(F.col("ucnt_r").cast("double"))
                    )
                    * 1000000,
                    0,
                )
                .cast("bigint")
                .alias("score_micro"),
            )
        )
        m = scored.orderBy(
            F.col("score_micro").desc(), F.col("l"), F.col("r2")
        ).limit(1)
        merge_rows.append(
            m.select(
                F.lit(i + 1).alias("merge_rank"),
                F.col("l").alias("left_sym"),
                F.col("r2").alias("right_sym"),
                F.concat("l", "r2").alias("merged"),
                F.col("cnt").alias("pair_count"),
                "score_micro",
            )
        )
        pattern = F.concat(
            F.lit(_BPE_S), F.col("l"), F.lit(_BPE_SS), F.col("r2"), F.lit(_BPE_S)
        )
        replacement = F.concat(
            F.lit(_BPE_S), F.col("l"), F.col("r2"), F.lit(_BPE_S)
        )
        state = reliable_checkpoint(
            state.crossJoin(F.broadcast(m)).select(
                "w",
                F.replace(F.col("enc"), pattern, replacement).alias("enc"),
                "f",
            )
        )
    return merge_rows, state


# WordPiece APPLICATION (the BERT tokenizer's runtime half): greedy
# longest-match-first with continuation pieces. The vocabulary derives
# from the trained word state — word-initial pieces are each word's first
# final-segmentation symbol, continuation pieces (BERT's "##xyz" class,
# carried here as an is_cont flag instead of a literal prefix) are every
# later symbol — plus the corpus alphabet in BOTH classes (BERT's
# coverage guarantee: tokenization of an in-alphabet word can always fall
# back to single characters; a word containing an out-of-alphabet
# character becomes ONE [UNK] token, the published whole-word-UNK rule).
# Greedy matching is position-independent of the path taken (the best
# piece at position s depends only on (word, s, s>1)), so the per-word
# longest-match table is ONE vocabulary join + groupBy-max and the walk
# is a per-row fold — no per-position joins, no UDF.


def _wp_vocab(state: DataFrame) -> DataFrame:
    """Trained word state -> (piece, is_cont) application vocabulary."""
    syms = F.split(F.col("enc"), _BPE_SS)
    n = F.size(syms)
    init_p = state.select(F.element_at(syms, 2).alias("piece")).distinct()
    cont_idx = F.when(n >= 4, F.sequence(F.lit(3), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    cont_p = state.select(
        F.explode(
            F.transform(cont_idx, lambda j: F.element_at(syms, j))
        ).alias("piece")
    ).distinct()
    chr_idx = F.when(
        F.length("w") >= 1, F.sequence(F.lit(1), F.length("w").cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    chars = state.select(
        F.explode(
            F.transform(chr_idx, lambda j: F.col("w").substr(j, F.lit(1)))
        ).alias("piece")
    ).distinct()
    return (
        init_p.unionByName(chars)
        .distinct()
        .withColumn("is_cont", F.lit(False))
        .unionByName(
            cont_p.unionByName(chars).distinct().withColumn("is_cont", F.lit(True))
        )
    )


def _wp_word_tokens(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """Greedy longest-match-first WordPiece token counts per word:
    (w) x (piece, is_cont) -> (w, n_wp, unk). ``words`` may be ANY word
    frame (not just the training table) — words containing characters
    outside the vocabulary alphabet take the whole-word [UNK] path
    (n_wp = 1, unk = 1). Cost: one broadcast vocabulary join over the
    (word x position x piece-length) candidate frame (vocabulary-bounded,
    piece length capped by the longest trained piece), one groupBy-max,
    one per-row fold."""
    ml = vocab.agg(F.max(F.length("piece")).cast("int").alias("ml"))
    starts = F.when(
        F.length("w") >= 1, F.sequence(F.lit(1), F.length("w").cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    cands = (
        words.select("w")
        .crossJoin(F.broadcast(ml))
        .select("w", "ml", F.explode(starts).alias("s"))
        .select(
            "w",
            "s",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.col("ml"), (F.length("w") - F.col("s") + 1).cast("int")
                    ),
                )
            ).alias("plen"),
        )
        .select(
            "w",
            "s",
            "plen",
            F.col("w").substr(F.col("s"), F.col("plen")).alias("piece"),
            (F.col("s") > 1).alias("is_cont"),
        )
    )
    best = (
        cands.join(F.broadcast(vocab), ["piece", "is_cont"])
        .groupBy("w", "s")
        .agg(F.max("plen").cast("int").alias("bl"))
    )
    bmap = best.groupBy("w").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("s").cast("int").alias("k"), F.col("bl")))
        ).alias("bmap")
    )
    ln = F.length("w").cast("int")
    init = F.struct(
        F.lit(1).cast("int").alias("pos"),
        F.lit(0).cast("int").alias("n"),
        F.lit(False).alias("unk"),
    )

    def step(acc, _):
        bl = F.element_at(F.col("bmap"), acc["pos"])
        return F.when(acc["pos"] > ln, acc).otherwise(
            F.when(
                bl.isNull(),
                F.struct(
                    (ln + 1).cast("int").alias("pos"),
                    acc["n"].alias("n"),
                    F.lit(True).alias("unk"),
                ),
            ).otherwise(
                F.struct(
                    (acc["pos"] + bl).cast("int").alias("pos"),
                    (acc["n"] + 1).cast("int").alias("n"),
                    acc["unk"].alias("unk"),
                )
            )
        )

    steps = F.when(ln >= 1, F.sequence(F.lit(1), ln)).otherwise(
        F.array().cast("array<int>")
    )
    res = F.aggregate(steps, init, step)
    return words.select("w").join(bmap, "w", "left").select(
        "w",
        F.when(res["unk"], F.lit(1))
        .otherwise(res["n"])
        .cast("bigint")
        .alias("n_wp"),
        res["unk"].cast("int").alias("unk"),
    )


def _wp_apply_sql() -> str:
    """The application chain as CTEs following the trained v{K} word
    state: vocabulary derivation, candidate pieces, per-(word, position)
    longest match, the recursive greedy walk, per-word token counts."""
    k = _WP_MERGES
    ss = _BPE_SS
    # every CTE below is AS MATERIALIZED: the final word state is
    # referenced four times and wpbest once per RECURSIVE walk step —
    # unmaterialized inlining re-expands the whole trainer chain per
    # reference and exploded DuckDB file opens (the unigram oracle's
    # lesson, plans/llm.py::_uni_round_sql)
    return f"""vfin AS MATERIALIZED (SELECT w, enc, f FROM v{k}),
    wsyms AS MATERIALIZED (SELECT w, string_split(enc, '{ss}') AS syms FROM vfin),
    wpinit AS MATERIALIZED (SELECT DISTINCT syms[2] AS piece FROM wsyms),
    wpcont AS MATERIALIZED (
      SELECT DISTINCT syms[j] AS piece
      FROM (SELECT syms, unnest(range(3, len(syms))) AS j FROM wsyms)
    ),
    wpchars AS MATERIALIZED (
      SELECT DISTINCT substr(w, CAST(j AS INT), 1) AS piece
      FROM (SELECT w, unnest(range(1, length(w) + 1)) AS j FROM vfin)
    ),
    wpvocab AS MATERIALIZED (
      SELECT piece, FALSE AS is_cont
      FROM (SELECT piece FROM wpinit UNION SELECT piece FROM wpchars)
      UNION ALL
      SELECT piece, TRUE AS is_cont
      FROM (SELECT piece FROM wpcont UNION SELECT piece FROM wpchars)
    ),
    wpml AS MATERIALIZED (SELECT MAX(length(piece)) AS ml FROM wpvocab),
    wpcand AS MATERIALIZED (
      SELECT w, c.s AS s, c.plen AS plen,
             substr(w, CAST(c.s AS INT), CAST(c.plen AS INT)) AS piece
      FROM (
        SELECT w,
               unnest(flatten(list_transform(range(1, length(w) + 1),
                 s -> list_transform(range(1, least(ml, length(w) - s + 1) + 1),
                      p -> struct_pack(s := s, plen := p))))) AS c
        FROM vfin CROSS JOIN wpml
      )
    ),
    wpbest AS MATERIALIZED (
      SELECT c.w, c.s, MAX(c.plen) AS bl
      FROM wpcand c JOIN wpvocab v
        ON v.piece = c.piece AND v.is_cont = (c.s > 1)
      GROUP BY c.w, c.s
    ),
    wpwalk(w, pos, n, unk) AS (
      SELECT w, CAST(1 AS BIGINT), 0, FALSE FROM vfin
      UNION ALL
      SELECT k.w,
             CASE WHEN b.bl IS NULL THEN length(k.w) + 1 ELSE k.pos + b.bl END,
             CASE WHEN b.bl IS NULL THEN k.n ELSE k.n + 1 END,
             k.unk OR b.bl IS NULL
      FROM wpwalk k LEFT JOIN wpbest b ON b.w = k.w AND b.s = k.pos
      WHERE k.pos <= length(k.w)
    ),
    wptok AS MATERIALIZED (
      SELECT w, CASE WHEN unk THEN 1 ELSE n END AS n_wp
      FROM wpwalk WHERE pos > length(w)
    )"""


@register(
    "docs_wordpiece_tokenized_len",
    f"""
    WITH RECURSIVE toks AS (
      SELECT lower(term) AS w FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    v0 AS (
      SELECT w,
             '{_BPE_SS}' || regexp_replace(w, '(.)', '\\1{_BPE_SS}', 'g') AS enc,
             COUNT(*) AS f
      FROM toks GROUP BY w
    ),
    {",".join(_wp_round_sql(i) for i in range(_WP_MERGES))},
    {_wp_apply_sql()},
    toksd AS (
      SELECT doc_id, lower(term) AS w FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    )
    SELECT t.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(k.n_wp) AS BIGINT) AS n_wp_tokens,
           ROUND(CAST(SUM(k.n_wp) AS DOUBLE) / COUNT(*), 6)
             AS wp_tokens_per_word
    FROM toksd t JOIN wptok k USING (w)
    GROUP BY t.doc_id
    """,
    doc=(
        "Per-document token count under the trained WordPiece vocabulary "
        "— the application leg completing train→apply parity for the "
        "tokenizer-trainer trio (BPE: docs_bpe_tokenized_len; unigram: "
        "docs_unigram_segment; WordPiece: this). Tokenization is BERT's "
        "greedy longest-match-first with continuation pieces (the "
        "'##' class, carried as an is_cont flag) over the vocabulary "
        "derived from the trained word state, alphabet included in both "
        "classes (coverage guarantee). The greedy longest match at a "
        "position is path-independent, so the per-word match table is "
        "ONE broadcast vocabulary join + groupBy-max and the walk is a "
        "per-row higher-order fold (no per-position joins, no UDF); "
        "per-doc application is then a word-keyed equi-join of the token "
        "stream against the vocabulary-bounded word table — the "
        "word-level-cache shape production tokenizers serve from. Oracle "
        "replays the walk as a recursive CTE over the same longest-match "
        "table."
    ),
)
def docs_wordpiece_tokenized_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, state = _wp_train(spark, sf_dir)
    wptok = _wp_word_tokens(state.select("w"), _wp_vocab(state))
    docs = load_table(spark, "documents", sf_dir)
    toksd = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    )
    return toksd.join(wptok.select("w", "n_wp"), "w").groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_wp").cast("bigint").alias("n_wp_tokens"),
        F.round(
            F.sum("n_wp").cast("double") / F.count("*"), 6
        ).alias("wp_tokens_per_word"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer trainer — the other
# half of production tokenizer training, complementing the BPE family.
# Hard-EM over the vocabulary-bounded word table: seed vocab = top-V
# substrings (length <= MAXP) by weighted occurrence count plus every single
# character (coverage guarantee), then _UNI_ROUNDS rounds of
#   E-step: Viterbi-segment every word under the current piece log-probs
#   M-step: re-estimate log-probs from the segmentation's piece counts.
# Feasibility invariant: round 1 is feasible for every word (all chars are
# in the seed vocab), and a word's round-r segmentation pieces all carry
# count >= f_w >= 1 into vocab r, so round r+1 stays feasible by induction.
#
# Cross-engine exactness: log-probs are FIXED-POINT MICRO-NATS
# (round(ln(cnt/total) * 1e6) as BIGINT — the PSI/KN round-the-transcendental
# rule), so the Viterbi DP is exact integer arithmetic; ties break on the
# (score, piece_len) struct max — prefer the longer piece — identically in
# Spark (F.greatest over structs) and DuckDB (MAX(struct_pack(...))).
#
# Scale shape: the corpus collapses ONCE to the word-frequency table (the
# BPE trainer's trick); every EM round is one vocab equi-join (broadcast —
# the vocab is seed-bounded), one map_from_entries groupBy, the DP+backtrace
# as pure per-row higher-order functions (NO per-position joins, no UDF),
# one explode+count. Words longer than _UNI_MAXW are excluded from training
# (the SentencePiece max-piece-surface analog); _unigram_segment reports
# them separately. Reference analog: none (north-star §2.11 tokenizer
# family; BPE twin docs_bpe_train_merges).
_UNI_MAXW = 12
_UNI_MAXP = 4
_UNI_SEED_V = 400
_UNI_ROUNDS = 2
_UNI_LP_SCALE = 1_000_000


def _uni_base_sql() -> str:
    """Shared oracle base: eligible word table, substring candidates, seed
    vocab with fixed-point log-probs."""
    return f"""words AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
        SELECT lower(term) AS w FROM (
          SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
          FROM documents))
      WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
      GROUP BY w
    ),
    cands AS MATERIALIZED (
      SELECT w, f, s.s AS s, p.plen AS plen, substr(w, s.s, p.plen) AS piece
      FROM words,
           unnest(range(1, {_UNI_MAXW + 1})) AS s(s),
           unnest(range(1, {_UNI_MAXP + 1})) AS p(plen)
      WHERE s.s + p.plen - 1 <= length(w)
    ),
    seedcnt AS MATERIALIZED (SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM cands GROUP BY piece),
    topseed AS MATERIALIZED (SELECT piece, cnt FROM seedcnt ORDER BY cnt DESC, piece LIMIT {_UNI_SEED_V}),
    v0src AS MATERIALIZED (
      SELECT DISTINCT piece, cnt FROM (
        SELECT piece, cnt FROM topseed
        UNION ALL SELECT piece, cnt FROM seedcnt WHERE length(piece) = 1)
    ),
    tot0 AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM v0src),
    vocab0 AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(ln(CAST(cnt AS DOUBLE) / t) * {_UNI_LP_SCALE}) AS BIGINT) AS lp
      FROM v0src CROSS JOIN tot0
    )"""


def _uni_round_sql(r: int) -> str:
    """One hard-EM round as unrolled CTEs (the BPE/PageRank/PI style):
    per-position Viterbi DP tables dp1..dp{MAXW} (each a struct-max over
    the <= MAXP candidate splits), a recursive backtrace walk, E-step
    piece counts, M-step vocab{r} re-estimation."""
    p = f"r{r}_"
    parts = [
        f"""{p}ps AS MATERIALIZED (
      SELECT c.w, c.s, c.plen, v.lp
      FROM cands c JOIN vocab{r - 1} v ON v.piece = c.piece
    ),
    {p}dp0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS sc, 0 AS bl FROM words)"""
    ]
    for j in range(1, _UNI_MAXW + 1):
        legs = " UNION ALL ".join(
            f"""SELECT ps.w, d.sc + ps.lp AS sc, ps.plen AS bl
      FROM {p}ps ps JOIN {p}dp{j - ln} d ON d.w = ps.w
      WHERE ps.plen = {ln} AND ps.s = {j - ln + 1}"""
            for ln in range(1, min(_UNI_MAXP, j) + 1)
        )
        parts.append(
            f"""{p}dp{j} AS MATERIALIZED (
      SELECT w, (m).sc AS sc, (m).bl AS bl FROM (
        SELECT w, MAX(struct_pack(sc := sc, bl := bl)) AS m
        FROM ({legs}) GROUP BY w)
    )"""
        )
    dall_rows = " UNION ALL ".join(
        f"SELECT w, {j} AS j, sc, bl FROM {p}dp{j}"
        for j in range(0, _UNI_MAXW + 1)
    )
    parts.append(
        f"""{p}dall AS MATERIALIZED ({dall_rows}),
    {p}walk(w, j) AS (
      SELECT w, length(w) AS j FROM words
      UNION ALL
      SELECT k.w, k.j - d.bl FROM {p}walk k
      JOIN {p}dall d ON d.w = k.w AND d.j = k.j
      WHERE k.j > 0
    ),
    {p}pieces AS MATERIALIZED (
      SELECT k.w, substr(k.w, CAST(k.j - d.bl + 1 AS INT), d.bl) AS piece
      FROM {p}walk k JOIN {p}dall d ON d.w = k.w AND d.j = k.j
      WHERE k.j > 0
    ),
    {p}wp AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_pieces FROM {p}pieces GROUP BY w),
    {p}ecnt AS MATERIALIZED (
      SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt
      FROM {p}pieces JOIN words USING (w) GROUP BY piece
    ),
    {p}tot AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM {p}ecnt),
    vocab{r} AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(ln(CAST(cnt AS DOUBLE) / t) * {_UNI_LP_SCALE}) AS BIGINT) AS lp
      FROM {p}ecnt CROSS JOIN {p}tot
    )"""
    )
    return ",\n    ".join(parts)


def _uni_chain_sql() -> str:
    rounds = ",\n    ".join(
        _uni_round_sql(r) for r in range(1, _UNI_ROUNDS + 1)
    )
    return _uni_base_sql() + ",\n    " + rounds


def _viterbi_dp(lpmap, wlen):
    """Spark-side Viterbi DP over micro-nat log-probs: one F.aggregate
    fold per row producing the array of (score, best_len) structs for
    positions 0..len(w) — exact integer arithmetic, struct-max tiebreak
    (prefer the longer piece), no joins, no UDF."""
    init = F.array(
        F.struct(F.lit(0).cast("bigint").alias("sc"), F.lit(0).cast("int").alias("bl"))
    )

    def step(acc, j):
        cands = []
        for ln in range(1, _UNI_MAXP + 1):
            prior = F.element_at(acc, (j - ln + 1).cast("int"))
            lp = F.element_at(lpmap, ((j - ln + 1) * 8 + ln).cast("int"))
            cands.append(
                F.when(
                    (j >= ln) & prior.isNotNull() & lp.isNotNull(),
                    F.struct(
                        (prior["sc"] + lp).alias("sc"),
                        F.lit(ln).cast("int").alias("bl"),
                    ),
                )
            )
        return F.concat(acc, F.array(F.greatest(*cands)))

    return F.aggregate(F.sequence(F.lit(1), wlen.cast("int")), init, step)


def _viterbi_pieces(wcol, dps):
    """Backtrace the DP array into the chosen piece list: a fixed
    _UNI_MAXW-step fold walking pos -> pos - best_len(pos)."""
    init = F.struct(
        F.length(wcol).cast("int").alias("pos"),
        F.array().cast("array<string>").alias("ps"),
    )

    def step(acc, _):
        pos = acc["pos"]
        bl = F.element_at(dps, pos + 1)["bl"]
        return F.when(
            pos > 0,
            F.struct(
                (pos - bl).cast("int").alias("pos"),
                F.concat(
                    acc["ps"], F.array(wcol.substr(pos - bl + 1, bl))
                ).alias("ps"),
            ),
        ).otherwise(acc)

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(_UNI_MAXW)), init, step, lambda acc: acc["ps"]
    )


def _unigram_train(
    spark: SparkSession, sf_dir: str, words: DataFrame | None = None
):
    """Shared trainer: returns (words, vocab_final, word_pieces) — the
    trainer query emits vocab_final; segment/fertility reuse word_pieces
    (each word's final-round Viterbi piece count), so the evaluated
    segmentation is exactly the trained one. ``words``: a pre-built
    UNfiltered (w, f) table (``_word_freq``); the surface-length cap is
    applied here either way (filtering the token stream before the
    groupBy and filtering the aggregated keys are identical — every
    occurrence of a word has the word's length)."""
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    if words is None:
        docs = load_table(spark, "documents", sf_dir)
        words = (
            docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
            .filter(F.length("w").between(1, _UNI_MAXW))
            .groupBy("w")
            .agg(F.count("*").cast("bigint").alias("f"))
        )
    else:
        words = words.filter(F.length("w").between(1, _UNI_MAXW)).select(
            "w", F.col("f").cast("bigint").alias("f")
        )
    words = reliable_checkpoint(words)
    starts = F.sequence(F.lit(1), F.length("w").cast("int"))
    plens = F.sequence(F.lit(1), F.lit(_UNI_MAXP))
    cands = reliable_checkpoint(
        words.select(
            "w",
            "f",
            F.explode(starts).alias("s"),
        )
        .select("w", "f", "s", F.explode(plens).alias("plen"))
        .filter(F.col("s") + F.col("plen") - 1 <= F.length("w"))
        .select(
            "w",
            "f",
            "s",
            "plen",
            F.col("w").substr(F.col("s"), F.col("plen")).alias("piece"),
        )
    )
    seedcnt = cands.groupBy("piece").agg(F.sum("f").cast("bigint").alias("cnt"))
    top = seedcnt.orderBy(F.col("cnt").desc(), "piece").limit(_UNI_SEED_V)
    chars = seedcnt.filter(F.length("piece") == 1)
    v0src = top.unionByName(chars).distinct()
    tot0 = v0src.agg(F.sum("cnt").cast("bigint").alias("t"))

    def mstep(counts, tot):
        lp = F.round(
            F.log(F.col("cnt").cast("double") / F.col("t")) * _UNI_LP_SCALE, 0
        ).cast("bigint")
        return counts.crossJoin(F.broadcast(tot)).select(
            "piece", "cnt", lp.alias("lp")
        )

    vocab = reliable_checkpoint(mstep(v0src, tot0))
    word_pieces = None
    for _ in range(_UNI_ROUNDS):
        ps = cands.join(F.broadcast(vocab.select("piece", "lp")), "piece")
        maps = ps.groupBy("w").agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("s") * 8 + F.col("plen")).cast("int").alias("key"),
                        F.col("lp").alias("value"),
                    )
                )
            ).alias("lpmap")
        )
        wdp = words.join(maps, "w").select(
            "w",
            "f",
            _viterbi_pieces(
                F.col("w"), _viterbi_dp(F.col("lpmap"), F.length("w"))
            ).alias("pieces"),
        )
        word_pieces = wdp.select(
            "w", "f", F.size("pieces").cast("bigint").alias("n_pieces")
        )
        ecnt = (
            wdp.select(F.explode("pieces").alias("piece"), "f")
            .groupBy("piece")
            .agg(F.sum("f").cast("bigint").alias("cnt"))
        )
        tot = ecnt.agg(F.sum("cnt").cast("bigint").alias("t"))
        vocab = reliable_checkpoint(mstep(ecnt, tot))
    return words, vocab, reliable_checkpoint(word_pieces)


@register(
    "docs_unigram_lm_train",
    f"""
    WITH RECURSIVE {_uni_chain_sql()}
    SELECT piece, CAST(length(piece) AS INT) AS piece_len, cnt,
           lp AS lp_micro,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS vrank
    FROM vocab{_UNI_ROUNDS}
    """,
    doc=(
        f"Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer trainer: "
        f"seed vocab = top-{_UNI_SEED_V} substrings (len <= {_UNI_MAXP}) "
        f"by weighted count + every character, then {_UNI_ROUNDS} hard-EM "
        "rounds (Viterbi E-step over fixed-point micro-nat log-probs — "
        "exact integer DP, struct-max tiebreak preferring the longer "
        "piece — and a count/total M-step). The corpus collapses ONCE to "
        "the word-frequency table (the BPE trainer's vocabulary-bounded "
        "collapse); each round is one broadcast vocab join, one "
        "map_from_entries groupBy, the DP+backtrace as per-row "
        "higher-order functions (no per-position joins, no UDF), one "
        "explode+count. Oracle unrolls the identical rounds: per-position "
        "dp CTEs (struct MAX), a recursive backtrace walk, the same "
        "fixed-point M-step. Emits the trained vocabulary with counts, "
        "micro-nat log-probs, and frequency rank."
    ),
)
def docs_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    _, vocab, _ = _unigram_train(spark, sf_dir)
    w = Window.orderBy(F.col("cnt").desc(), "piece")
    return vocab.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        "cnt",
        F.col("lp").alias("lp_micro"),
        F.row_number().over(w).alias("vrank"),
    )


@register(
    "docs_unigram_segment",
    f"""
    WITH RECURSIVE {_uni_chain_sql()},
    toksd AS (
      SELECT doc_id, lower(term) AS w FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
      WHERE length(lower(term)) >= 1
    )
    SELECT t.doc_id,
           CAST(COUNT(p.n_pieces) AS BIGINT) AS n_words,
           CAST(COUNT(CASE WHEN length(t.w) > {_UNI_MAXW} THEN 1 END) AS BIGINT)
             AS n_long_words,
           CAST(SUM(p.n_pieces) AS BIGINT) AS n_pieces,
           CASE WHEN COUNT(p.n_pieces) > 0
                THEN ROUND(CAST(SUM(p.n_pieces) AS DOUBLE) / COUNT(p.n_pieces), 6)
           END AS pieces_per_word
    FROM toksd t LEFT JOIN r{_UNI_ROUNDS}_wp p USING (w)
    GROUP BY t.doc_id
    """,
    doc=(
        "Per-document segmentation stats under the trained unigram LM — "
        "the per-doc application leg (the docs_bpe_tokenized_len analog): "
        "tokenizing is a vocabulary JOIN against the word table's "
        "materialized final-round Viterbi piece counts, never a "
        "re-segmentation — one word-keyed equi-join of the token stream "
        "plus a doc-keyed aggregate. Words longer than the trainer's "
        "surface cap are reported separately (n_long_words), exactly the "
        "word-level-cache shape a production tokenizer serves from."
    ),
)
def docs_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, word_pieces = _unigram_train(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    toksd = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    ).filter(F.length("w") >= 1)
    joined = toksd.join(word_pieces.select("w", "n_pieces"), "w", "left")
    n_words = F.count("n_pieces")
    return joined.groupBy("doc_id").agg(
        n_words.cast("bigint").alias("n_words"),
        F.count(F.when(F.length("w") > _UNI_MAXW, 1))
        .cast("bigint")
        .alias("n_long_words"),
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        F.when(
            n_words > 0,
            F.round(F.sum("n_pieces").cast("double") / n_words, 6),
        ).alias("pieces_per_word"),
    )


@register(
    "docs_tokenizer_fertility",
    f"""
    WITH RECURSIVE {_uni_chain_sql()},
    toks AS (
      SELECT lower(term) AS w FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents)
    ),
    w0 AS (
      SELECT w,
             '{_BPE_SS}' || regexp_replace(w, '(.)', '\\1{_BPE_SS}', 'g') AS enc,
             COUNT(*) AS f
      FROM toks GROUP BY w
    ),
    {",".join(_bpe_round_sql(i) for i in range(_BPE_MERGES))},
    v0 AS MATERIALIZED (SELECT w, enc, f FROM w0),
    {",".join(_wp_round_sql(i) for i in range(_WP_MERGES))},
    {_wp_apply_sql()},
    bpe_elig AS (
      SELECT 'bpe' AS tokenizer,
             CAST(SUM(f) AS BIGINT) AS n_words,
             CAST(SUM(f * length(w)) AS BIGINT) AS n_chars,
             CAST(SUM(f * (len(string_split(enc, '{_BPE_SS}')) - 2)) AS BIGINT)
               AS n_units
      FROM w{_BPE_MERGES} WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
    ),
    uni_elig AS (
      SELECT 'unigram' AS tokenizer,
             CAST(SUM(f) AS BIGINT) AS n_words,
             CAST(SUM(f * length(w)) AS BIGINT) AS n_chars,
             CAST(SUM(f * n_pieces) AS BIGINT) AS n_units
      FROM words JOIN r{_UNI_ROUNDS}_wp USING (w)
    ),
    wp_elig AS (
      SELECT 'wordpiece' AS tokenizer,
             CAST(SUM(f) AS BIGINT) AS n_words,
             CAST(SUM(f * length(w)) AS BIGINT) AS n_chars,
             CAST(SUM(f * k.n_wp) AS BIGINT) AS n_units
      FROM vfin JOIN wptok k USING (w)
      WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
    ),
    all_tok AS (
      SELECT * FROM bpe_elig
      UNION ALL SELECT * FROM uni_elig
      UNION ALL SELECT * FROM wp_elig
    )
    SELECT tokenizer, n_words, n_chars, n_units,
           ROUND(CAST(n_units AS DOUBLE) / n_words, 6) AS units_per_word,
           ROUND(CAST(n_chars AS DOUBLE) / n_units, 6) AS chars_per_unit
    FROM all_tok
    """,
    doc=(
        "Tokenizer fertility comparison — BPE vs unigram-LM vs WordPiece "
        "on the SAME eligible word multiset (words within the unigram "
        "surface cap): units per word and chars per unit, the numbers a "
        "tokenizer team compares before committing a vocabulary. All "
        "three legs reuse their trainer chains verbatim (the BPE final "
        "word state filtered to eligible words; the unigram final-round "
        "per-word piece counts; the WordPiece greedy longest-match "
        "counts over the trained vocabulary — the "
        "docs_wordpiece_tokenized_len word table), so the comparison can "
        "never drift from the trained tokenizers; the added cost over "
        "the three trainers is three 1-row aggregates."
    ),
)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    # all three trainers start from the SAME corpus word-frequency
    # collapse — materialize it once (vocabulary-bounded: one (w, f) row
    # per distinct word) instead of paying the corpus scan + tokenize +
    # shuffle three times (r15; guide §2.4)
    base_words = reliable_checkpoint(_word_freq(spark, sf_dir))
    _, _, bpe_state = _bpe_train(spark, sf_dir, words=base_words)
    words, _, word_pieces = _unigram_train(spark, sf_dir, words=base_words)
    _, wp_state = _wp_train(spark, sf_dir, words=base_words)
    wptok = _wp_word_tokens(wp_state.select("w"), _wp_vocab(wp_state))
    bpe = (
        bpe_state.filter(F.length("w").between(1, _UNI_MAXW))
        .agg(
            F.sum("f").cast("bigint").alias("n_words"),
            F.sum(F.col("f") * F.length("w")).cast("bigint").alias("n_chars"),
            F.sum(
                F.col("f") * (F.size(F.split(F.col("enc"), _BPE_SS)) - 2)
            )
            .cast("bigint")
            .alias("n_units"),
        )
        .select(F.lit("bpe").alias("tokenizer"), "n_words", "n_chars", "n_units")
    )
    uni = (
        words.join(word_pieces.select("w", "n_pieces"), "w")
        .agg(
            F.sum("f").cast("bigint").alias("n_words"),
            F.sum(F.col("f") * F.length("w")).cast("bigint").alias("n_chars"),
            F.sum(F.col("f") * F.col("n_pieces")).cast("bigint").alias("n_units"),
        )
        .select(
            F.lit("unigram").alias("tokenizer"), "n_words", "n_chars", "n_units"
        )
    )
    wp = (
        wp_state.filter(F.length("w").between(1, _UNI_MAXW))
        .join(wptok.select("w", "n_wp"), "w")
        .agg(
            F.sum("f").cast("bigint").alias("n_words"),
            F.sum(F.col("f") * F.length("w")).cast("bigint").alias("n_chars"),
            F.sum(F.col("f") * F.col("n_wp")).cast("bigint").alias("n_units"),
        )
        .select(
            F.lit("wordpiece").alias("tokenizer"), "n_words", "n_chars", "n_units"
        )
    )
    both = bpe.unionByName(uni).unionByName(wp)
    return both.select(
        "tokenizer",
        "n_words",
        "n_chars",
        "n_units",
        F.round(F.col("n_units").cast("double") / F.col("n_words"), 6).alias(
            "units_per_word"
        ),
        F.round(F.col("n_chars").cast("double") / F.col("n_units"), 6).alias(
            "chars_per_unit"
        ),
    )


@register(
    "docs_kneser_ney_score",
    f"""
    WITH toked AS (SELECT doc_id, {_LTOK_SQL} AS t FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                    i -> t[i] || ' ' || t[i+1])) AS bigram,
             unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i+1])) AS w2
      FROM toked
    ),
    bf AS (SELECT bigram, COUNT(*) AS bf FROM bi GROUP BY bigram),
    uf AS (SELECT w1, COUNT(*) AS uf FROM bi GROUP BY w1),
    fo AS (SELECT w1, COUNT(DISTINCT w2) AS fo FROM bi GROUP BY w1),
    co AS (SELECT w2, COUNT(DISTINCT w1) AS co FROM bi GROUP BY w2),
    nb AS (SELECT COUNT(DISTINCT bigram) AS nb FROM bi)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-ln(
             greatest(bf - 0.75, 0) / uf
             + 0.75 * fo / uf * (CAST(co AS DOUBLE) / nb)
           )), 6) AS avg_neg_logp_kn
    FROM bi JOIN bf USING (bigram) JOIN uf USING (w1)
            JOIN fo USING (w1) JOIN co USING (w2)
            CROSS JOIN nb
    GROUP BY doc_id
    """,
    doc=(
        "per-document fluency under an interpolated Kneser-Ney bigram "
        "LM (d = 0.75) — the smoothing real LM-based quality scorers "
        "use (KenLM/CCNet) where add-one (docs_bigram_lm_score) "
        "systematically overweights frequent-word tails: the "
        "continuation probability counts how many CONTEXTS a word "
        "completes, not how often it occurs. All five statistics "
        "(bigram count, context count, distinct continuations per "
        "context, distinct contexts per word, distinct-bigram total) "
        "are map-side-combined aggregates of the one exploded bigram "
        "stream; scoring is three vocab-keyed equi-joins plus a 1-row "
        "attach — the docs_bigram_lm_score shuffle plan with two more "
        "bounded joins, nothing corpus-squared at any scale."
    ),
)
def docs_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import _shingle_spans

    docs = load_table(spark, "documents", sf_dir)
    t = ws_tokens(F.lower(F.col("text")))
    toked = docs.select("doc_id", t.alias("t"))
    tc = F.col("t")
    trips = F.transform(
        _shingle_spans(F.size(tc), 2),
        lambda i: F.struct(
            F.concat_ws(
                " ", F.element_at(tc, i), F.element_at(tc, i + 1)
            ).alias("bigram"),
            F.element_at(tc, i).alias("w1"),
            F.element_at(tc, i + 1).alias("w2"),
        ),
    )
    bi = toked.select("doc_id", F.explode(trips).alias("p")).select(
        "doc_id", "p.bigram", "p.w1", "p.w2"
    )
    bf = bi.groupBy("bigram").agg(F.count("*").alias("bf"))
    uf = bi.groupBy("w1").agg(F.count("*").alias("uf"))
    fo = bi.groupBy("w1").agg(F.countDistinct("w2").alias("fo"))
    co = bi.groupBy("w2").agg(F.countDistinct("w1").alias("co"))
    nb = bi.agg(F.countDistinct("bigram").alias("nb"))
    p_kn = (
        F.greatest(F.col("bf") - 0.75, F.lit(0)) / F.col("uf")
        + F.lit(0.75) * F.col("fo") / F.col("uf")
        * (F.col("co").cast("double") / F.col("nb"))
    )
    return (
        bi.join(bf, "bigram")
        .join(uf, "w1")
        .join(fo, "w1")
        .join(co, "w2")
        .crossJoin(F.broadcast(nb))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(p_kn)), 6).alias("avg_neg_logp_kn"),
        )
    )


@register(
    "docs_winnowing_fingerprints",
    f"""
    WITH h AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(length(lower(trim(text))) - 3, 1)),
               j -> {_md5_int_sql("substr(lower(trim(text)), j, 5)", 3)}
             ) AS hs
      FROM documents
    ),
    fp AS (
      SELECT doc_id, hs,
             list_transform(range(1, greatest(len(hs) - 2, 1)),
                            j -> list_min(hs[j:j+3])) AS fps
      FROM h
    )
    SELECT doc_id,
           CAST(len(hs) AS INT) AS n_grams,
           CAST(len(list_distinct(fps)) AS INT) AS n_fingerprints,
           list_min(fps) AS min_fp
    FROM fp
    """,
    doc=(
        "winnowing document fingerprints (Schleimer et al. 2003, the "
        "MOSS scheme): hash every char 5-gram, keep the minimum of each "
        "4-hash window — guarantees any shared substring of length >= 8 "
        "chars shares a fingerprint, the LOCAL property MinHash "
        "(whole-doc similarity) and SimHash (global signature) lack. "
        "Reported per doc: gram count, distinct selected fingerprints, "
        "and the smallest (the doc's winnow sample). Pure per-row "
        "projection — zero shuffles, zero joins; the fingerprint "
        "inverted index a plagiarism/clone detector builds next is one "
        "explode + groupBy away (the shape docs_hot_ngram_coverage "
        "already demonstrates)."
    ),
)
def docs_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import md5_int

    docs = load_table(spark, "documents", sf_dir)
    tn = F.lower(F.trim(F.col("text")))
    d = docs.select("doc_id", tn.alias("tn"))
    gram_spans = F.when(
        F.length("tn") - 3 >= 2, F.sequence(F.lit(1), F.length("tn") - 4)
    ).otherwise(F.array().cast("array<int>"))
    hs = F.transform(
        gram_spans, lambda j: md5_int(F.col("tn").substr(j, F.lit(5)), seed=3)
    )
    d = d.select("doc_id", hs.alias("hs"))
    fp_spans = F.when(
        F.size("hs") - 2 >= 2, F.sequence(F.lit(1), F.size("hs") - 3)
    ).otherwise(F.array().cast("array<int>"))
    fps = F.transform(
        fp_spans, lambda j: F.array_min(F.slice("hs", j, 4))
    )
    d = d.select("doc_id", "hs", fps.alias("fps"))
    return d.select(
        "doc_id",
        F.size("hs").alias("n_grams"),
        F.size(F.array_distinct("fps")).alias("n_fingerprints"),
        F.array_min("fps").alias("min_fp"),
    )


# ---------------------------------------------------------------------------
# r8 debuts: Gopher rule filter, exact-substring dup spans, hashed linear
# quality classifier, CLIP-style media-text pair mining.
# ---------------------------------------------------------------------------

# Union of all language stopword lists (the Gopher stopword rule is
# language-agnostic here; a real deployment swaps a per-language broadcast
# dim). Sorted for a deterministic SQL literal.
from cupertino_nvr_spark.llm.text import STOPWORDS as _LANG_STOPWORDS  # noqa: E402

_GOPHER_STOPWORDS = sorted(
    {w for words in _LANG_STOPWORDS.values() for w in words}
)


def _gopher_m_sql(rel: str) -> str:
    """Per-doc Gopher rule statistics over ``rel`` — THE rule definition,
    shared by docs_gopher_quality and docs_source_quality_report so the
    per-source pass rate can never drift from the per-doc gate."""
    stop = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
    return f"""
      SELECT doc_id,
             len(toks) AS n_words,
             list_sum(list_transform(toks, w -> length(w))) * 1.0 / len(toks) AS mean_word_len,
             n_symbols * 1.0 / len(toks) AS symbol_ratio,
             len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0 / len(toks) AS alpha_word_ratio,
             len(list_filter(toks, w -> lower(w) IN ({stop}))) AS n_stopwords
      FROM (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks,
               length(regexp_replace(text, '[^#.]', '', 'g')) AS n_symbols
        FROM {rel})
    """


def _gopher_pass_pred(prefix: str = "") -> str:
    p = prefix
    return (
        f"{p}n_words BETWEEN 50 AND 100000 AND {p}mean_word_len BETWEEN 3 AND 10 "
        f"AND {p}symbol_ratio <= 0.1 AND {p}alpha_word_ratio >= 0.8 "
        f"AND {p}n_stopwords >= 2"
    )


def _gopher_metrics(text):
    """Per-doc Gopher rule-statistic Columns (mirrors ``_gopher_m_sql``)."""
    toks = ws_tokens(text)
    n_words = F.size(toks).cast("bigint")
    total_chars = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    n_symbols = F.length(F.regexp_replace(text, r"[^#.]", ""))
    return {
        "n_words": n_words,
        "mean_word_len": total_chars * F.lit(1.0) / n_words,
        "symbol_ratio": n_symbols * F.lit(1.0) / n_words,
        "alpha_word_ratio": (
            F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
            * F.lit(1.0)
            / n_words
        ),
        "n_stopwords": F.size(
            F.filter(toks, lambda w: F.lower(w).isin(*_GOPHER_STOPWORDS))
        ).cast("bigint"),
    }


def _gopher_passes(m):
    """The conjunction gate over ``_gopher_metrics`` (mirrors
    ``_gopher_pass_pred``)."""
    return (
        m["n_words"].between(50, 100000)
        & m["mean_word_len"].between(3, 10)
        & (m["symbol_ratio"] <= 0.1)
        & (m["alpha_word_ratio"] >= 0.8)
        & (m["n_stopwords"] >= 2)
    )


@register(
    "docs_gopher_quality",
    f"""
    WITH m AS ({_gopher_m_sql("documents")})
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
           n_stopwords,
           CAST({_gopher_pass_pred()} AS INT) AS passes_gopher
    FROM m
    """,
    doc=(
        "Gopher quality rules (Rae et al. 2021, public): word count in "
        "[50,1e5], mean word length in [3,10], symbol-to-word ratio <=0.1 "
        "('#'/'.'), >=80% alphabetic words, >=2 stopwords. One projection "
        "over one scan — zero shuffles, whole-stage codegen, trivially "
        "linear at 100 TB. Complements docs_quality_lang (heuristic "
        "score) with the published hard-filter rule set."
    ),
)
def docs_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    m = _gopher_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_words"].alias("n_words"),
        m["mean_word_len"].alias("mean_word_len"),
        m["symbol_ratio"].alias("symbol_ratio"),
        m["alpha_word_ratio"].alias("alpha_word_ratio"),
        m["n_stopwords"].alias("n_stopwords"),
        _gopher_passes(m).cast("int").alias("passes_gopher"),
    )


def _flesch_f_sql(rel: str, extra_cols: str = "") -> str:
    """Per-doc Flesch components + UNROUNDED score over ``rel`` — THE
    readability definition, shared by docs_readability and
    docs_source_quality_report. ``extra_cols`` (e.g. ``"lang, "``) is
    carried through the chain for callers that group on it."""
    return f"""
      SELECT doc_id, {extra_cols} n_words, n_sentences, n_syllables,
             206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS fl
      FROM (
        SELECT doc_id, {extra_cols}
               len(toks) AS n_words,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
               CAST(list_sum(list_transform(toks,
                 w -> GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
                 AS BIGINT) AS n_syllables
        FROM (
          SELECT doc_id, {extra_cols} text,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM {rel}))
    """


def _flesch_metrics(text):
    """(n_words, n_sentences, n_syllables, unrounded fl) Columns (mirrors
    ``_flesch_f_sql``)."""
    toks = ws_tokens(F.lower(text))
    n_words = F.size(toks).cast("bigint")
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)), F.lit(1)
    ).cast("bigint")
    n_syllables = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda a, w: a
        + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)), F.lit(1)
        ),
    )
    fl = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sentences)
        - F.lit(84.6) * (n_syllables.cast("double") / n_words)
    )
    return n_words, n_sentences, n_syllables, fl


@register(
    "docs_readability",
    f"""
    WITH f AS ({_flesch_f_sql("documents", "lang,")})
    SELECT doc_id, lang, n_words, n_sentences, n_syllables,
           ROUND(fl, 4) AS flesch_score,
           CASE WHEN fl >= 90 THEN 'very_easy'
                WHEN fl >= 70 THEN 'easy'
                WHEN fl >= 50 THEN 'medium'
                WHEN fl >= 30 THEN 'difficult'
                ELSE 'very_difficult' END AS band
    FROM f
    """,
    doc=(
        "Flesch reading-ease per document (Flesch 1948, public): 206.835 "
        "- 1.015*(words/sentences) - 84.6*(syllables/word), with the "
        "standard dictionary-free syllable heuristic (vowel-group count "
        "per word, floor 1 — the approximation every at-scale readability "
        "pass uses, since a hyphenation dictionary can't ride a 100 TB "
        "scan) and sentences = punctuation-run count floored at 1. The "
        "quality family's graded-score member next to the hard filters "
        "(docs_gopher_quality, docs_c4_filters): one projection over one "
        "scan, zero shuffles, whole-stage codegen. Banding compares the "
        "UNROUNDED score in both engines (identical IEEE doubles from "
        "identical integer counts), so band boundaries cannot straddle "
        "the rounding"
    ),
)
def docs_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    n_words, n_sentences, n_syllables, fl = _flesch_metrics(F.col("text"))
    band = (
        F.when(fl >= 90, "very_easy")
        .when(fl >= 70, "easy")
        .when(fl >= 50, "medium")
        .when(fl >= 30, "difficult")
        .otherwise("very_difficult")
    )
    return docs.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
        F.round(fl, 4).alias("flesch_score"),
        band.alias("band"),
    )


@register(
    "docs_source_quality_report",
    f"""
    WITH aug AS ({_AUG_SQL}),
    sj AS (
      SELECT a.doc_id, a.text, a.lang, d.source
      FROM aug a JOIN documents d ON d.doc_id = a.doc_id % 1000000
    ),
    f AS ({_flesch_f_sql("sj")}),
    g AS ({_gopher_m_sql("sj")}),
    per_doc AS (
      SELECT s.source, s.lang,
             CASE WHEN s.doc_id <> MIN(s.doc_id) OVER (PARTITION BY md5(s.text))
                  THEN 1 ELSE 0 END AS is_dup,
             f.n_words AS n_words,
             CAST(ROUND(f.fl * 10000, 0) AS BIGINT) AS fl_e4,
             CASE WHEN {_gopher_pass_pred("g.")} THEN 1 ELSE 0 END AS passes
      FROM sj s JOIN f USING (doc_id) JOIN g USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) AS dup_rate,
           ROUND(CAST(SUM(passes) AS DOUBLE) / COUNT(*), 6) AS gopher_pass_rate,
           ROUND(CAST(SUM(fl_e4) AS DOUBLE) / 10000 / COUNT(*), 4) AS avg_flesch,
           COUNT(DISTINCT lang) AS n_langs
    FROM per_doc GROUP BY source
    """,
    doc="per-source curation rollup — the 'which crawls do I keep' "
    "operating report a 100 TB ingest runs before mixing sources: doc/"
    "token volume, exact-dup share (non-keeper copies by md5 digest, the "
    "docs_exact_dedup rule), Gopher pass rate, mean Flesch readability, "
    "and language spread, one row per source. Runs over the augmented "
    "corpus (the dedup-family fixture) with re-crawl variants attributed "
    "to their base document's source via a base-id equi-join. The rule "
    "statistics come from the SAME factored chains the per-doc gates use "
    "(_gopher_m_sql/_gopher_metrics, _flesch_f_sql/_flesch_metrics), so "
    "the rollup cannot drift from the gates it summarizes. Mean Flesch "
    "rides exact integer sums (per-doc score fixed-pointed to 1e-4 "
    "BEFORE summing — float SUM order is engine-dependent, integer SUM "
    "is not). Cost: one projection + a digest-partitioned window + one "
    "source-keyed agg — two shuffles, both map-side combinable",
)
def docs_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    aug = augmented_docs(spark, sf_dir)
    sj = aug.join(
        docs.select(F.col("doc_id").alias("_bid"), "source"),
        (F.col("doc_id") % 1000000) == F.col("_bid"),
    ).select("doc_id", "text", "lang", "source")
    gm = _gopher_metrics(F.col("text"))
    n_words, _, _, fl = _flesch_metrics(F.col("text"))
    w = Window.partitionBy(F.md5(F.col("text")))
    per_doc = sj.select(
        "source",
        "lang",
        "doc_id",
        "text",
        n_words.alias("n_words"),
        F.round(fl * 10000, 0).cast("bigint").alias("fl_e4"),
        F.when(_gopher_passes(gm), 1).otherwise(0).alias("passes"),
    ).withColumn(
        "is_dup",
        F.when(F.col("doc_id") != F.min("doc_id").over(w), 1).otherwise(0),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_tokens"),
        F.sum("is_dup").cast("bigint").alias("n_dups"),
        F.round(F.sum("is_dup").cast("double") / F.count("*"), 6).alias("dup_rate"),
        F.round(F.sum("passes").cast("double") / F.count("*"), 6).alias(
            "gopher_pass_rate"
        ),
        F.round(
            F.sum("fl_e4").cast("double") / 10000 / F.count("*"), 4
        ).alias("avg_flesch"),
        F.countDistinct("lang").alias("n_langs"),
    )


# Exact-substring dedup window width (tokens). Lee et al. 2022 use 50
# BPE tokens on web corpora; the synthetic docs run 8-100 whitespace
# tokens, so k=8 keeps the duplicated-span signal visible at every SF.
_SUBSTR_K = 8


@register(
    "docs_substring_dup_spans",
    f"""
    WITH aug AS ({{aug}}),
    tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM aug
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(CASE WHEN len(toks) >= {_SUBSTR_K}
                         THEN range(1, len(toks) - {_SUBSTR_K} + 2)
                         ELSE [] END) AS pos
      FROM tok
    ),
    grams AS (
      SELECT doc_id, pos,
             {{gram_hash}} AS gram
      FROM pos
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
    ),
    per_doc AS (
      SELECT g.doc_id, COUNT(*) AS n_dup_grams, MIN(g.pos) AS first_dup_pos
      FROM grams g SEMI JOIN dup USING (gram)
      GROUP BY g.doc_id
    ),
    totals AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_grams,
           COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
           COALESCE(p.n_dup_grams, 0) * 1.0 / t.n_grams AS dup_gram_frac,
           COALESCE(p.first_dup_pos, 0) AS first_dup_pos
    FROM totals t LEFT JOIN per_doc p USING (doc_id)
    """.format(
        aug=_AUG_SQL,
        gram_hash=_md5_int_sql(
            f"array_to_string(list_slice(toks, pos, pos + {_SUBSTR_K} - 1), ' ')", 11
        ),
    ),
    doc=(
        "Exact-substring dedup spans (Lee et al. 2022, 'Deduplicating "
        "Training Data Makes Language Models Better'): every k-token "
        "window is hashed; windows whose hash appears in >1 distinct doc "
        "are duplicated spans. Per doc: window count, duplicated-window "
        "count/fraction, first duplicated offset. Suffix-array semantics "
        "re-expressed as explode + one map-side-combined groupBy on the "
        "gram digest + a semi join — O(k * total_tokens) rows, no "
        "all-pairs stage, hash-partitioned by digest so it scales "
        "linearly where a literal suffix array would need a global sort. "
        "Runs over the augmented corpus (exact/cased copies share every "
        "window; the tail-marker near-copies share all but the last)."
    ),
)
def docs_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import md5_int

    k = _SUBSTR_K
    aug = augmented_docs(spark, sf_dir)
    tok = aug.select(
        "doc_id", ws_tokens(F.lower(F.trim(F.col("text")))).alias("toks")
    )
    spans = F.when(
        F.size("toks") >= k, F.sequence(F.lit(1), F.size("toks") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = tok.select(
        "doc_id",
        F.explode(spans).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "pos",
        md5_int(F.array_join(F.slice("toks", F.col("pos"), k), " "), seed=11).alias(
            "gram"
        ),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    per_doc = (
        grams.join(dup, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_grams"),
            F.min("pos").alias("first_dup_pos"),
        )
    )
    totals = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
        (F.coalesce(F.col("n_dup_grams"), F.lit(0)) * F.lit(1.0) / F.col("n_grams")).alias(
            "dup_gram_frac"
        ),
        F.coalesce(F.col("first_dup_pos"), F.lit(0)).alias("first_dup_pos"),
    )


# The EXCISION half of exact-substring dedup: docs_substring_dup_spans
# finds duplicated k-token windows; this plan merges each doc's
# duplicated windows into maximal excision islands (interval union —
# overlapping or adjacent windows coalesce) and emits the cut list a
# span-removal materializer executes, Lee et al. 2022's actual dedup
# action ("we remove the duplicated span, keeping the rest of the
# document"). Interval union is the classic sorted running-max-end
# window: a window starting past (previous max end + 1) opens a new
# island.


@register(
    "docs_substring_excise_plan",
    f"""
    WITH aug AS ({_AUG_SQL}),
    tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM aug
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(CASE WHEN len(toks) >= {_SUBSTR_K}
                         THEN range(1, len(toks) - {_SUBSTR_K} + 2)
                         ELSE [] END) AS pos
      FROM tok
    ),
    grams AS (
      SELECT doc_id, pos,
             {_md5_int_sql(f"array_to_string(list_slice(toks, pos, pos + {_SUBSTR_K} - 1), ' ')", 11)} AS gram
      FROM pos
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
    ),
    iv AS (
      SELECT g.doc_id, g.pos AS s, g.pos + {_SUBSTR_K} - 1 AS e
      FROM grams g SEMI JOIN dup USING (gram)
    ),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) >= s - 1
                  THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS island_idx
      FROM flagged
    )
    SELECT doc_id, CAST(island_idx AS INT) AS island_idx,
           CAST(MIN(s) AS BIGINT) AS start_tok,
           CAST(MAX(e) AS BIGINT) AS end_tok,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS island_len,
           COUNT(*) AS n_windows
    FROM isl GROUP BY doc_id, island_idx
    """,
    doc=(
        "Exact-substring EXCISION plan (the action half of Lee et al. "
        "2022's suffix-array dedup; docs_substring_dup_spans is the "
        "detection half, chain shared): each doc's duplicated k-token "
        "windows merge into maximal excision islands via interval union "
        "— one per-doc sorted window pass (running max end; a window "
        "starting past prev_max_end+1 opens a new island), emitting the "
        "(start_tok, end_tok) cut list a span-removal writer executes "
        "(llm/excise.py::excise_materialize — this plan and the writer "
        "share llm/excise.py::excision_islands, the single chain source)."
        " Scale shape: the gram digest groupBy + semi join are the "
        "detection chain's (map-side combined, digest-partitioned); the "
        "union windows are partitioned per doc over its duplicated "
        "windows only — no all-pairs, no global sort."
    ),
)
def docs_substring_excise_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.excise import excision_islands

    return excision_islands(augmented_docs(spark, sf_dir), k=_SUBSTR_K)


# The EXECUTOR half's per-doc report: one excision pass applied, plus the
# residual duplicated-window count the Lee et al. fixpoint iterates on
# (removing a span joins its flanks, which can mint NEW duplicated
# windows — llm/excise.py::excise_materialize loops this exact chain
# until the residual hits zero before writing the corpus).


@register(
    "docs_substring_excised_stats",
    f"""
    WITH aug AS ({_AUG_SQL}),
    tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM aug
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(CASE WHEN len(toks) >= {_SUBSTR_K}
                         THEN range(1, len(toks) - {_SUBSTR_K} + 2)
                         ELSE [] END) AS pos
      FROM tok
    ),
    grams AS (
      SELECT doc_id, pos,
             {_md5_int_sql(f"array_to_string(list_slice(toks, pos, pos + {_SUBSTR_K} - 1), ' ')", 11)} AS gram
      FROM pos
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
    ),
    iv AS (
      SELECT g.doc_id, g.pos AS s, g.pos + {_SUBSTR_K} - 1 AS e
      FROM grams g SEMI JOIN dup USING (gram)
    ),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) >= s - 1
                  THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS island_idx
      FROM flagged
    ),
    islands AS (
      SELECT doc_id, island_idx, MIN(s) AS start_tok, MAX(e) AS end_tok
      FROM isl GROUP BY doc_id, island_idx
    ),
    ni AS (SELECT doc_id, COUNT(*) AS n_islands FROM islands GROUP BY doc_id),
    cutpos AS (
      SELECT doc_id, unnest(range(start_tok, end_tok + 1)) AS p FROM islands
    ),
    tokpos AS (
      SELECT doc_id, unnest(toks) AS tokn,
             unnest(range(1, len(toks) + 1)) AS p
      FROM tok
    ),
    kept AS (
      SELECT t.doc_id, t.tokn, t.p
      FROM tokpos t ANTI JOIN cutpos c ON c.doc_id = t.doc_id AND c.p = t.p
    ),
    toks2 AS (
      SELECT doc_id, list(tokn ORDER BY p) AS toks, COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    ex AS (
      SELECT t.doc_id, COALESCE(t2.toks, []) AS toks,
             COALESCE(t2.n_kept, 0) AS n_kept
      FROM tok t LEFT JOIN toks2 t2 USING (doc_id)
    ),
    pos2 AS (
      SELECT doc_id, toks,
             unnest(CASE WHEN len(toks) >= {_SUBSTR_K}
                         THEN range(1, len(toks) - {_SUBSTR_K} + 2)
                         ELSE [] END) AS pos
      FROM ex
    ),
    grams2 AS (
      SELECT doc_id, pos,
             {_md5_int_sql(f"array_to_string(list_slice(toks, pos, pos + {_SUBSTR_K} - 1), ' ')", 11)} AS gram
      FROM pos2
    ),
    dup2 AS (
      SELECT gram FROM grams2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
    ),
    resid AS (
      SELECT g.doc_id, COUNT(*) AS residual_dup_windows
      FROM grams2 g SEMI JOIN dup2 USING (gram) GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens_before,
           CAST(COALESCE(ni.n_islands, 0) AS BIGINT) AS n_islands,
           CAST(len(t.toks) - e.n_kept AS BIGINT) AS n_removed,
           CAST(e.n_kept AS BIGINT) AS n_tokens_after,
           CAST(COALESCE(r.residual_dup_windows, 0) AS BIGINT)
             AS residual_dup_windows
    FROM tok t
    JOIN ex e USING (doc_id)
    LEFT JOIN ni USING (doc_id)
    LEFT JOIN resid r USING (doc_id)
    """,
    doc=(
        "Exact-substring excision EXECUTED, one pass (the action "
        "docs_substring_excise_plan plans): per doc, token counts before "
        "and after cutting the duplicated-window islands out of the "
        "token stream, plus the RESIDUAL duplicated-window count in the "
        "excised corpus — the quantity Lee et al.'s fixpoint iterates on "
        "(one pass can mint new duplicates by joining a cut's flanks). "
        "llm/excise.py::excise_materialize loops this exact chain until "
        "the residual is zero and writes the corpus; this query and the "
        "writer share excision_islands/apply_excision, so the report "
        "can never drift from the materialization. Scale shape: the "
        "detection chain's digest groupBy + semi join, a per-doc "
        "interval-union window, and a per-row higher-order token filter "
        "— no all-pairs stage, no global sort, linear in corpus tokens."
    ),
)
def docs_substring_excised_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.excise import (
        _dup_windows,
        apply_excision,
        excision_islands,
    )

    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    aug = augmented_docs(spark, sf_dir)
    # islands feeds the excision AND the per-doc island count; excised
    # feeds the stats projection AND the residual re-detection — each
    # would re-execute its whole upstream chain per consumer (no CSE
    # across arms), so both are materialized once: islands is tiny
    # (duplicated spans only) and the excised corpus is exactly what
    # excise_materialize writes per round at any scale.
    islands = reliable_checkpoint(excision_islands(aug, k=_SUBSTR_K))
    excised = reliable_checkpoint(apply_excision(aug, islands))
    ni = islands.groupBy("doc_id").agg(F.count("*").alias("n_islands"))
    toks2 = excised.select(
        "doc_id", ws_tokens(F.lower(F.trim(F.col("text")))).alias("toks")
    )
    resid = (
        _dup_windows(toks2, "doc_id", _SUBSTR_K)
        .groupBy("doc_id")
        .agg(F.count("*").alias("residual_dup_windows"))
    )
    return (
        excised.select(
            "doc_id", "n_tokens_before", "n_removed", "n_tokens_after"
        )
        .join(ni, "doc_id", "left")
        .join(resid, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_before",
            F.coalesce("n_islands", F.lit(0)).cast("bigint").alias("n_islands"),
            "n_removed",
            "n_tokens_after",
            F.coalesce("residual_dup_windows", F.lit(0))
            .cast("bigint")
            .alias("residual_dup_windows"),
        )
    )


# Hashed-bag-of-words linear classifier (fastText/CCNet-style quality
# classifier shape, public). The "model" is a deterministic weight table
# over 4096 hash buckets: w(b) = ((b*1103515245 + 12345) % 1000003) /
# 1000003 - 0.5 (LCG constants, public). Integer sums stay exact; the
# only float ops are three IEEE ops applied in the same order on both
# engines, and the squash is the rational fast-sigmoid x/(1+|x|) — no
# libm exp whose last ulp could differ cross-engine.
_CLF_BUCKETS = 4096
_CLF_MOD = 1000003


@register(
    "docs_classifier_score",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(trim(lower(text)), '\\s+'),
                            w -> ({_md5_int_sql("w", 17)} % {_CLF_BUCKETS})
                                 * 1103515245 + 12345) AS wints,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_tok,
             list_sum(list_transform(wints, x -> x % {_CLF_MOD})) AS sum_wint
      FROM t
    ),
    r AS (
      SELECT doc_id, n_tok,
             (CAST(sum_wint AS DOUBLE) / {_CLF_MOD}.0 - 0.5 * n_tok) / n_tok AS raw_score
      FROM s
    )
    SELECT doc_id, n_tok AS n_features, raw_score,
           0.5 + 0.5 * raw_score / (1 + abs(raw_score)) AS keep_prob,
           CAST(raw_score >= 0 AS INT) AS label_keep
    FROM r
    """,
    doc=(
        "Model-based quality filtering (fastText/CCNet classifier shape): "
        "hashing-trick bag-of-words — token -> md5 bucket (4096) -> "
        "broadcast weight lookup (here a closed-form LCG weight so both "
        "engines replay it; production swaps a 4096-float broadcast "
        "array) -> mean margin -> rational fast-sigmoid. Pure per-row "
        "higher-order functions over the token array: zero shuffles, no "
        "explode, linear at 100 TB; a learned model arrives as a "
        "broadcast map lookup with the identical plan."
    ),
)
def docs_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import md5_int

    docs = load_table(spark, "documents", sf_dir)
    toks = ws_tokens(F.lower(F.trim(F.col("text"))))
    wints = F.transform(
        toks,
        lambda w: (md5_int(w, seed=17) % _CLF_BUCKETS) * 1103515245 + 12345,
    )
    n_tok = token_count(F.col("text"))
    sum_wint = F.aggregate(
        wints, F.lit(0).cast("bigint"), lambda a, x: a + x % _CLF_MOD
    )
    raw = (
        sum_wint.cast("double") / F.lit(float(_CLF_MOD)) - F.lit(0.5) * n_tok
    ) / n_tok
    d = docs.select(
        "doc_id", n_tok.alias("n_features"), raw.alias("raw_score")
    )
    raw_c = F.col("raw_score")
    return d.select(
        "doc_id",
        "n_features",
        "raw_score",
        (F.lit(0.5) + F.lit(0.5) * raw_c / (F.lit(1) + F.abs(raw_c))).alias(
            "keep_prob"
        ),
        (raw_c >= 0).cast("int").alias("label_keep"),
    )


@register(
    "docs_classifier_calibration",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(trim(lower(text)), '\\s+'),
                            w -> ({_md5_int_sql("w", 17)} % {_CLF_BUCKETS})
                                 * 1103515245 + 12345) AS wints,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_tok,
             list_sum(list_transform(wints, x -> x % {_CLF_MOD})) AS sum_wint
      FROM t
    ),
    c AS (
      SELECT doc_id,
             0.5 + 0.5 * raw_score / (1 + abs(raw_score)) AS keep_prob
      FROM (
        SELECT doc_id,
               (CAST(sum_wint AS DOUBLE) / {_CLF_MOD}.0 - 0.5 * n_tok) / n_tok
                 AS raw_score
        FROM s)
    ),
    m AS ({_gopher_m_sql("documents")}),
    g AS (
      SELECT doc_id, CAST({_gopher_pass_pred()} AS INT) AS passes FROM m
    ),
    fixed AS (
      SELECT c.doc_id,
             CAST(round(c.keep_prob * 1000000) AS BIGINT) AS kp6,
             g.passes
      FROM c JOIN g USING (doc_id)
    ),
    binned AS (
      SELECT doc_id,
             LEAST(GREATEST(CAST(FLOOR((kp6 - 400000) / 10000.0e0)
               AS INT), -1), 20) AS bin,
             kp6, passes
      FROM fixed
    )
    SELECT bin,
           CASE WHEN bin > -1 THEN ROUND(0.40e0 + bin * 0.01e0, 6) END
             AS bin_lo,
           CASE WHEN bin < 20 THEN ROUND(0.40e0 + (bin + 1) * 0.01e0, 6) END
             AS bin_hi,
           COUNT(*) AS n_docs,
           ROUND(SUM(kp6) * 1.0 / (COUNT(*) * 1000000.0), 6)
             AS mean_keep_prob,
           CAST(SUM(passes) AS BIGINT) AS n_gopher_pass,
           ROUND(SUM(passes) * 1.0 / COUNT(*), 6) AS gopher_pass_rate
    FROM binned GROUP BY bin
    """,
    doc="Quality-classifier calibration (reliability diagram) against the "
    "Gopher rule gate — the validation step a pipeline runs before "
    "trusting a cheap learned filter at 100 TB: docs are binned by the "
    "classifier's keep_prob into FIXED-WIDTH probability bins (20 x "
    "0.01 over [0.40, 0.60) — the textbook reliability-diagram binning, "
    "chosen over rank deciles because fixed bins are a per-row "
    "projection while an exact global NTILE would funnel every row "
    "through one partition — plus EXPLICIT open-ended underflow (-1: "
    "keep_prob < 0.40, bin_lo NULL) and overflow (20: keep_prob >= "
    "0.60, bin_hi NULL) bins; a clamping form put out-of-range "
    "mass into edge bins 0/19 whose labels still claimed 0.01 width, "
    "so edge-bin mean_keep_prob could fall outside its own bounds). "
    "Bin assignment is computed on the FIXED-POINT kp6 integer "
    "(FLOOR((kp6 - 400000) / 10000), kp6 = round(keep_prob * 1e6)) — "
    "which closes a float-boundary gap: the float "
    "expression put keep_prob exactly 0.60 in bin 19 "
    "((0.60-0.40)/0.01 = 19.999999999999996 in IEEE doubles) and a doc "
    "within 5e-7 below an edge in the lower bin while its kp6 counted "
    "toward the upper, so bin edges are now exact and every labeled "
    "bin's fixed-point mean is inside its own bounds BY CONSTRUCTION, "
    "not by luck of the data. Each bin reports its doc count, "
    "fixed-point mean keep_prob (per-doc prob rounded to 1e-6 and "
    "summed as exact integers — float SUM order is engine-dependent), "
    "and the Gopher pass rate. A calibrated classifier shows pass rate "
    "rising with keep_prob; both statistic chains are the REGISTERED "
    "definitions (the docs_classifier_score scoring chain and the "
    "_gopher_m_sql rule chain docs_gopher_quality / "
    "docs_source_quality_report consume), so the curve cannot drift "
    "from the gates it calibrates. One doc_id equi-join + one "
    "<=20-row aggregate — zero unbounded shuffles.",
)
def docs_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    clf = docs_classifier_score(spark, sf_dir).select("doc_id", "keep_prob")
    gop = docs_gopher_quality(spark, sf_dir).select("doc_id", "passes_gopher")
    kp6 = F.round(F.col("keep_prob") * 1000000).cast("long")
    # bin on the fixed-point integer, not the float: (kp6 - 400000) is an
    # exact integer and /10000.0 only hits an integer result when the
    # numerator is an exact multiple (then the double quotient is exact
    # too), so FLOOR can never be off-by-one at a bin edge — and the bin
    # rule agrees with the kp6-based mean by construction
    binned = clf.join(gop, "doc_id").select(
        F.least(
            F.greatest(
                F.floor((kp6 - F.lit(400000)) / F.lit(10000.0)).cast("int"),
                F.lit(-1),
            ),
            F.lit(20),
        ).alias("bin"),
        kp6.alias("kp6"),
        F.col("passes_gopher").alias("passes"),
    )
    b = F.col("bin")
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("kp6").alias("_kp6"),
        F.sum("passes").cast("bigint").alias("n_gopher_pass"),
    ).select(
        "bin",
        F.when(b > -1, F.round(F.lit(0.40) + b * F.lit(0.01), 6)).alias(
            "bin_lo"
        ),
        F.when(b < 20, F.round(F.lit(0.40) + (b + 1) * F.lit(0.01), 6)).alias(
            "bin_hi"
        ),
        "n_docs",
        F.round(
            F.col("_kp6") * 1.0 / (F.col("n_docs") * F.lit(1000000.0)), 6
        ).alias("mean_keep_prob"),
        "n_gopher_pass",
        F.round(
            F.col("n_gopher_pass") * 1.0 / F.col("n_docs"), 6
        ).alias("gopher_pass_rate"),
    )


# CLIP-style pair curation: web-scraped multimodal corpora pair each
# media asset only with captions from the SAME page, then keep the best
# caption above a similarity gate. The synthetic page key is vec_id//20
# (~4 media x ~16 captions per page) — the point is the plan shape:
# constant-size equi-join blocks, never media x all-captions.
_PAIR_PAGE = 20
_PAIR_TAU = 0.1


@register(
    "media_text_pairs",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, vec_id // {_PAIR_PAGE} AS page_id
      FROM embeddings
    ),
    cand AS (
      SELECT m.vec_id AS media_id, t.vec_id AS caption_id,
             ROUND(list_cosine_similarity(m.v, t.v), 6) AS sim
      FROM e m JOIN e t ON m.page_id = t.page_id
      WHERE m.vec_id % 5 = 0 AND t.vec_id % 5 <> 0
    ),
    gated AS (
      SELECT media_id, caption_id, sim,
             COUNT(*) OVER (PARTITION BY media_id) AS n_candidates,
             ROW_NUMBER() OVER (PARTITION BY media_id
                                ORDER BY sim DESC, caption_id) AS rk
      FROM cand WHERE sim >= {_PAIR_TAU}
    )
    SELECT g.media_id, g.caption_id, g.sim, g.n_candidates,
           d.lang AS caption_lang
    FROM gated g JOIN documents d ON d.doc_id = g.caption_id
    WHERE g.rk = 1
    """,
    doc=(
        "Multimodal pair mining (CLIP-style caption alignment): media and "
        "caption embeddings equi-join on their shared page key (constant-"
        "size blocks -> linear candidate volume, hash-partitioned by "
        "page), cosine gate at 0.1, best caption per media by (sim desc, "
        "caption_id) window rank, caption language attached by a doc "
        "lookup join. At 100 TB the page key is the crawl URL; the plan "
        "is one bounded equi-join + one windowed top-1 — no all-pairs "
        "stage, and the doc lookup broadcasts when the caption dim fits."
    ),
)
def media_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import as_double, cosine

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        F.expr(f"vec_id div {_PAIR_PAGE}").alias("page_id"),
    )
    media = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("media_id"), F.col("v").alias("mv"), "page_id"
    )
    caps = emb.filter(F.col("vec_id") % 5 != 0).select(
        F.col("vec_id").alias("caption_id"), F.col("v").alias("tv"), "page_id"
    )
    cand = media.join(caps, "page_id").select(
        "media_id",
        "caption_id",
        F.round(cosine(F.col("mv"), F.col("tv")), 6).alias("sim"),
    )
    gated = cand.filter(F.col("sim") >= _PAIR_TAU)
    w = Window.partitionBy("media_id")
    ranked = gated.select(
        "media_id",
        "caption_id",
        "sim",
        F.count("*").over(w).alias("n_candidates"),
        F.row_number()
        .over(w.orderBy(F.col("sim").desc(), F.col("caption_id")))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("caption_id"), F.col("lang").alias("caption_lang")
    )
    return ranked.join(docs, "caption_id").select(
        "media_id", "caption_id", "sim", "n_candidates", "caption_lang"
    )


# Pretraining sequence packing: documents are concatenated shard-by-shard
# into fixed-length training sequences (seq_len tokens); a doc can span a
# sequence boundary. The pack order inside a shard is doc_id (any stable
# order works); shards are hash buckets so the running-sum window state is
# bounded per shard — the global-sort version would be a scale killer.
_PACK_SEQ_LEN = 512
_PACK_SHARDS = 8


@register(
    "docs_sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tok,
             SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS tok_before
      FROM t
    )
    SELECT doc_id, shard, n_tok,
           CAST(tok_before // {_PACK_SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(tok_before % {_PACK_SEQ_LEN} AS BIGINT) AS seq_offset,
           CAST((tok_before + n_tok - 1) // {_PACK_SEQ_LEN}
             - tok_before // {_PACK_SEQ_LEN} + 1 AS BIGINT) AS n_seqs_spanned
    FROM c
    """,
    doc=(
        "Pretraining sequence packing plan: greedy contiguous concatenation "
        "of each shard's documents into fixed-length training sequences "
        "(seq_len tokens, docs may span boundaries — the standard GPT-style "
        "packing). One running-sum window PARTITIONED BY shard: state per "
        "partition is a single counter, shards pack independently, so the "
        "plan is one shuffle on the shard key and linear at 100 TB; a "
        "global ORDER BY (no partition) would be the scale killer this "
        "shape exists to avoid. Emits each doc's first sequence id, offset "
        "in it, and how many sequences it spans — exactly what a packed-"
        "shard writer fans out over."
    ),
)
def docs_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        token_count(F.col("text")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("tok_before", F.sum("n_tok").over(w) - F.col("n_tok"))
    L = _PACK_SEQ_LEN
    return c.select(
        "doc_id",
        "shard",
        "n_tok",
        F.expr(f"tok_before div {L}").alias("seq_id"),
        (F.col("tok_before") % L).alias("seq_offset"),
        (
            F.expr(f"(tok_before + n_tok - 1) div {L}")
            - F.expr(f"tok_before div {L}")
            + F.lit(1)
        ).alias("n_seqs_spanned"),
    )


# Token-budget sampling: build a mixture by TOKEN count, not doc count —
# each language contributes documents in hash order until its token
# budget is hit (the doc that crosses the budget line is kept, truncated
# at training time). Hash order (md5 of doc_id) makes the take-until
# prefix a uniform sample; budgets would arrive as a broadcast dim.
_BUDGET_TOKENS = 2000


@register(
    "docs_token_budget_sample",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS tok_before
      FROM t
    )
    SELECT doc_id, lang, n_tok, CAST(tok_before AS BIGINT) AS tok_before
    FROM c WHERE tok_before < {_BUDGET_TOKENS}
    """,
    doc=(
        "Token-budget mixture sampling: per language, take documents in "
        "hash order (uniform sample prefix) until the language's token "
        "budget is reached — mixtures are specified in TOKENS, the unit "
        "training actually consumes, not documents. Same bounded "
        "windowed-cumsum shape as docs_sequence_packing, partitioned by "
        "lang (or (lang, shard) with per-shard budgets when one language "
        "outgrows a partition at 100 TB); budgets swap in as a broadcast "
        "dimension."
    ),
)
def docs_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("tok_before", F.sum("n_tok").over(w) - F.col("n_tok"))
    return c.filter(F.col("tok_before") < _BUDGET_TOKENS).select(
        "doc_id", "lang", "n_tok", "tok_before"
    )


# Hybrid retrieval: BM25 (sparse leg, the _bm25_chain_sql chain) fused
# with dense cosine retrieval by reciprocal-rank fusion, the standard
# RAG-serving pattern. Each BM25 query is paired with a dense probe
# embedding (vec_id = 100*query_id — in a real deployment the query's
# own encoder output). RRF k=60 (Cormack et al. 2009).
_RRF_K = 60


@register(
    "docs_hybrid_rrf_search",
    f"""
    WITH {_bm25_chain_sql()},
    probes AS (
      SELECT vec_id // 100 AS query_id, vec_id AS probe_id,
             CAST(embedding AS DOUBLE[]) AS pvec
      FROM embeddings WHERE vec_id IN (100, 200, 300)
    ),
    dense AS (
      SELECT p.query_id, c.vec_id AS doc_id,
             ROUND(list_cosine_similarity(p.pvec, CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM probes p JOIN embeddings c ON c.vec_id <> p.probe_id
    ),
    dense_ranked AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
      FROM dense
    ),
    sparse10 AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank
                 FROM bm_ranked WHERE rank <= 10),
    dense10 AS (SELECT query_id, doc_id, rank FROM dense_ranked WHERE rank <= 10),
    fused AS (
      SELECT COALESCE(s.query_id, d.query_id) AS query_id,
             COALESCE(s.doc_id, d.doc_id) AS doc_id,
             CAST(COALESCE(s.rank, 0) AS BIGINT) AS bm25_rank,
             CAST(COALESCE(d.rank, 0) AS BIGINT) AS ann_rank,
             COALESCE(1.0 / ({_RRF_K} + s.rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + d.rank), 0.0) AS rrf_score
      FROM sparse10 s FULL JOIN dense10 d
        ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, bm25_rank, ann_rank, rrf_score, fused_rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id) AS fused_rank
      FROM fused) WHERE fused_rank <= 10
    """,
    doc=(
        "Hybrid retrieval with reciprocal-rank fusion (RRF k=60): the "
        "BM25 sparse leg (shared _bm25_chain_sql chain — the fused "
        "retrieval IS docs_bm25_search) full-outer-joined with a dense "
        "cosine top-10 leg on (query, doc), 1/(k+rank) contributions "
        "summed, re-ranked. Both legs are bounded-probe retrievals "
        "(broadcast terms / closure-carried probe vectors, one corpus scan "
        "each); fusion touches only 2x10 rows per query, so the whole "
        "extra cost of hybrid over either leg is the legs themselves. "
        "rank=0 marks a doc absent from that leg."
    ),
)
def docs_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.pipeline import bm25_scores

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    sparse = bm25_scores(docs, queries, k1=1.25, b=0.75, top_k=10).select(
        F.col("query_id").cast("bigint").alias("query_id"),
        "doc_id",
        F.col("rank").alias("s_rank"),
    )
    probes = emb.filter(F.col("vec_id").isin(100, 200, 300))
    dense = brute_force_topk(emb, probes, k=10).select(
        F.expr("probe_id div 100").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("d_rank"),
    )
    k = _RRF_K
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("s_rank"), F.lit(0)).cast("bigint").alias("bm25_rank"),
        F.coalesce(F.col("d_rank"), F.lit(0)).cast("bigint").alias("ann_rank"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("s_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("d_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "query_id", "doc_id", "bm25_rank", "ann_rank", "rrf_score", "fused_rank"
        )
    )


# Distributed PCA first component by unrolled power iteration. The
# covariance matvec is never materialized: w = X_c^T (X_c v) is two
# corpus passes (a per-row dot, then a per-dim weighted sum). Per-dim
# sums are fixed-point (round 9 -> DECIMAL(24,9) -> exact SUM), the same
# rule that lets kmeans/pagerank carry multi-round SQL hash oracles;
# everything downstream of the sums (norms, divisions) is computed from
# identical doubles in identical order on both engines. Seed v0 = 0.125
# per dim (||v0|| = 1 exactly for 64 dims).
_PI_ROUNDS = 3


def _pi_round_sql(i: int) -> str:
    """One power-iteration round as CTEs: s{i} per-row dot, w{i} per-dim
    fixed-point sum, v{i} normalized 1-row vector."""
    prev = f"v{i - 1}"
    return f"""s{i} AS (
      SELECT vec_id, cx,
             ROUND(list_sum(list_transform(range(1, 65), d -> cx[d] * {prev}.v[d])), 9) AS s
      FROM centered CROSS JOIN {prev}
    ),
    w{i} AS (
      SELECT pos,
             CAST(SUM(CAST(ROUND(s * cx[pos], 9) AS DECIMAL(24,9))) AS DOUBLE) AS w
      FROM s{i}, unnest(range(1, 65)) AS u(pos)
      GROUP BY pos
    ),
    warr{i} AS (SELECT list(w ORDER BY pos) AS w FROM w{i}),
    v{i} AS (
      SELECT list_transform(w, y -> ROUND(y / sqrt(list_sum(list_transform(w, z -> z * z))), 9)) AS v,
             sqrt(list_sum(list_transform(w, z -> z * z))) AS nrm
      FROM warr{i}
    )"""


@register(
    "embedding_power_iteration_pc1",
    f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
    ),
    dimvals AS (
      SELECT vec_id, pos, x[pos] AS v
      FROM vecs, unnest(range(1, 65)) AS u(pos)
    ),
    mean AS (
      SELECT pos,
             ROUND(CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(24,9))) AS DOUBLE)
                   / COUNT(*), 9) AS m
      FROM dimvals GROUP BY pos
    ),
    meanarr AS (SELECT list(m ORDER BY pos) AS marr FROM mean),
    centered AS (
      SELECT vec_id,
             list_transform(range(1, 65), d -> x[d] - marr[d]) AS cx
      FROM vecs CROSS JOIN meanarr
    ),
    v0 AS (SELECT list_transform(range(1, 65), d -> 0.125) AS v),
    {", ".join(_pi_round_sql(i) for i in range(1, _PI_ROUNDS + 1))}
    SELECT u.pos AS dim, v[u.pos] AS loading,
           ROUND(nrm, 6) AS eigval_est
    FROM v{_PI_ROUNDS}, unnest(range(1, 65)) AS u(pos)
    """,
    doc=(
        "PCA first principal component by 3 unrolled power-iteration "
        "rounds over mean-centered embeddings. The covariance matrix is "
        "never formed: each round is w = X_c^T(X_c v) as (a) one per-row "
        "dot against the broadcast 1-row v, (b) one per-dim "
        "map-side-combined aggregation (64 result rows), then a 1-row "
        "normalize — O(n*dim) per round, dim^2 never materialized, so "
        "the plan survives any corpus size (this is how Spark MLlib "
        "shapes its own covariance-free PCA for tall-skinny matrices). "
        "Fixed-point per-dim sums (round 9 -> DECIMAL(24,9)) make every "
        "round bit-identical across engines and partitionings — the "
        "kmeans/pagerank rule — which is what lets an iterative "
        "eigenvector carry a SQL hash oracle. Eigenvalue estimate = "
        "||w|| of the final round (the Rayleigh-quotient numerator under "
        "a unit v)."
    ),
)
def embedding_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.similarity import as_double
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("x"))
    dec = lambda c: F.round(c, 9).cast("decimal(24,9)")  # noqa: E731
    mean = (
        vecs.select(F.posexplode("x").alias("p0", "v"))
        .groupBy("p0")
        .agg(
            F.round(F.sum(dec(F.col("v"))).cast("double") / F.count("*"), 9).alias(
                "m"
            )
        )
    )
    meanarr = mean.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p0", "m"))), lambda s: s["m"]
        ).alias("marr")
    )
    centered = vecs.crossJoin(F.broadcast(meanarr)).select(
        "vec_id", F.zip_with("x", "marr", lambda a, b: a - b).alias("cx")
    )
    sq_norm = lambda w: F.aggregate(  # noqa: E731
        w, F.lit(0.0), lambda acc, z: acc + z * z
    )
    v = spark.range(1).select(
        F.array(*[F.lit(0.125)] * 64).alias("v"), F.lit(0.0).alias("nrm")
    )
    for _ in range(_PI_ROUNDS):
        scored = centered.crossJoin(F.broadcast(v.select("v"))).select(
            "cx",
            F.round(
                F.aggregate(
                    F.zip_with("cx", "v", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, z: acc + z,
                ),
                9,
            ).alias("s"),
        )
        wdims = (
            scored.select("s", F.posexplode("cx").alias("p0", "cv"))
            .groupBy("p0")
            .agg(
                F.sum(dec(F.col("s") * F.col("cv"))).cast("double").alias("w")
            )
        )
        warr = wdims.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p0", "w"))), lambda s: s["w"]
            ).alias("w")
        )
        v = reliable_checkpoint(
            warr.select(
                F.transform(
                    "w", lambda y: F.round(y / F.sqrt(sq_norm(F.col("w"))), 9)
                ).alias("v"),
                F.sqrt(sq_norm(F.col("w"))).alias("nrm"),
            )
        )
    return v.select(
        F.posexplode("v").alias("p0", "loading"),
        F.round("nrm", 6).alias("eigval_est"),
    ).select((F.col("p0") + 1).cast("bigint").alias("dim"), "loading", "eigval_est")


# Perceptual-hash-style media near-dup. A real image pipeline computes
# pHash/dHash over decoded pixels; the decode is stubbed here (no image
# libs in this container), so the locality-preserving surrogate samples
# 64 payload bytes at length-proportional positions and thresholds each
# against a fixed byte value — small localized edits flip few bits,
# exact copies flip none. The PLAN is the real thing: 64-bit hash split
# into 4 x 16-bit bands, band equi-join candidates (never all-pairs),
# Hamming verify via xor+bit_count, cap tau.
_PHASH_BITS = 64
_PHASH_BANDS = 4
_PHASH_TAU = 6
_PHASH_THRESH = 109  # 'm' — splits the lowercase corpus ~50/50 per byte


def _phash_pair_ctes_sql() -> str:
    """Shared banded-Hamming verify chain (oracle side) as CTEs from a
    ``hashes(media_id, band0..band3)`` relation — used by the byte-sample
    pHash, the decoded-pixel pHash, and the cross-modal cluster oracle so
    the banding guarantee, the Hamming verify, and tau cannot drift
    between consumers."""
    return f"""membership AS (
      {" UNION ALL ".join(f"SELECT media_id, {b} AS band_idx, band{b} AS band_val FROM hashes" for b in range(_PHASH_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM membership a JOIN membership b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.media_id < b.media_id
    ),
    scored AS (
      SELECT id_a, id_b,
             {" + ".join(f"bit_count(xor(ha.band{b}, hb.band{b}))" for b in range(_PHASH_BANDS))} AS hamming
      FROM cand
      JOIN hashes ha ON ha.media_id = id_a
      JOIN hashes hb ON hb.media_id = id_b
    )"""


def _phash_pair_tail_sql() -> str:
    """The verify CTEs plus the pair-query final select."""
    return f"""{_phash_pair_ctes_sql()}
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming,
           CAST(hamming = 0 AS INT) AS is_sig_exact
    FROM scored WHERE hamming <= {_PHASH_TAU}"""


def _phash_scored_pairs(hashes: DataFrame) -> DataFrame:
    """Shared banded-Hamming candidate scoring (Spark side) from a
    (media_id, band0..band3) frame: 4-band equi-join candidates, one
    distinct-pair dedup, xor+bit_count Hamming verify — UNCAPPED
    (id_a, id_b, hamming); the serving chain applies the tau, the tau
    profile sweeps it."""
    # r14: the hash table used to be consumed by FOUR subtrees (both
    # membership sides plus the two Hamming re-attach joins), and Spark
    # cannot CSE across self-join arms — the hash projection (and, for
    # the decoded-pixel kernel, the whole Arrow DCT mapInPandas stage)
    # re-executed four times per query. Materialize it once (~40 bytes
    # per media row) and carry the four band values THROUGH the
    # membership: distinct over (pair, bands) equals distinct over the
    # pair (the hash is functionally dependent on media_id), so the
    # result is row-identical while both re-attach joins and three
    # kernel re-runs disappear — the simhash_neardup_pairs treatment.
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    hashes = reliable_checkpoint(hashes)
    all_bands = [F.col(f"band{b}") for b in range(_PHASH_BANDS)]
    membership = None
    for b in range(_PHASH_BANDS):
        m = hashes.select(
            "media_id",
            F.lit(b).alias("band_idx"),
            F.col(f"band{b}").alias("band_val"),
            *all_bands,
        )
        membership = m if membership is None else membership.unionByName(m)
    a = membership.select(
        F.col("media_id").alias("id_a"),
        "band_idx",
        "band_val",
        *[F.col(f"band{b}").alias(f"a{b}") for b in range(_PHASH_BANDS)],
    )
    b_ = membership.select(
        F.col("media_id").alias("id_b"),
        "band_idx",
        "band_val",
        *[F.col(f"band{b}").alias(f"b{b}") for b in range(_PHASH_BANDS)],
    )
    cand = (
        a.join(b_, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[f"a{b}" for b in range(_PHASH_BANDS)],
            *[f"b{b}" for b in range(_PHASH_BANDS)],
        )
        .distinct()
    )
    hamming = sum(
        (
            F.bit_count(F.col(f"a{b}").bitwiseXOR(F.col(f"b{b}")))
            for b in range(_PHASH_BANDS)
        ),
        F.lit(0),
    )
    return cand.select("id_a", "id_b", hamming.cast("bigint").alias("hamming"))


def _phash_pairs_from_hashes(hashes: DataFrame) -> DataFrame:
    """The serving chain: scored candidates capped at the production tau
    (shared scoring via _phash_scored_pairs)."""
    return (
        _phash_scored_pairs(hashes)
        .filter(F.col("hamming") <= _PHASH_TAU)
        .select(
            "id_a",
            "id_b",
            "hamming",
            (F.col("hamming") == 0).cast("int").alias("is_sig_exact"),
        )
    )


def _phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared augmented media corpus (Spark side): base docs as payloads +
    exact copies (%7, +1M) + cased-prefix near variants (%9, +2M)."""
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select(
        F.col("doc_id").alias("media_id"), F.col("text").alias("payload")
    )
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("media_id"),
        F.col("text").alias("payload"),
    )
    near = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 2000000).alias("media_id"),
        F.concat(
            F.upper(F.substring("text", 1, 3)), F.expr("substring(text, 4)")
        ).alias("payload"),
    )
    return base.unionByName(exact).unionByName(near)


def _phash_media_corpus_sql() -> str:
    """Just the augmented media corpus CTE (shared by both pHash kernels
    and the cross-modal cluster oracle)."""
    return """media AS (
      SELECT doc_id AS media_id, text AS payload FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             upper(substr(text, 1, 3)) || substr(text, 4)
      FROM documents WHERE doc_id % 9 = 0
    )"""


def _phash_media_sql() -> str:
    """Augmented media corpus + per-row band values as CTEs."""
    bits = ", ".join(
        f"CASE WHEN ascii(substr(payload, 1 + ({i} * (length(payload) - 1)) // 63, 1)) >= {_PHASH_THRESH} THEN 1 ELSE 0 END AS bit{i}"
        for i in range(_PHASH_BITS)
    )
    bands = ", ".join(
        "CAST("
        + " + ".join(f"(bit{b * 16 + j} << {j})" for j in range(16))
        + f" AS BIGINT) AS band{b}"
        for b in range(_PHASH_BANDS)
    )
    return f"""{_phash_media_corpus_sql()},
    bits AS (SELECT media_id, {bits} FROM media),
    hashes AS (SELECT media_id, {bands} FROM bits)"""


@register(
    "media_phash_neardup",
    f"""
    WITH {_phash_media_sql()},
    {_phash_pair_tail_sql()}
    """,
    doc=(
        "Multimodal perceptual-hash near-dup: 64-bit locality-preserving "
        "payload hash (byte samples at length-proportional positions - a "
        "decoded-pixel pHash swaps in behind the same shape), split into "
        "4 x 16-bit bands; band equi-join candidates, Hamming verify via "
        "xor + bit_count, tau=6. The banding guarantee is pHash's "
        "standard serving trick (any pair within Hamming 3 of 4 bands "
        "shares a band exactly); candidate volume is bounded by band "
        "balance exactly like the MinHash/SimHash chains - never "
        "all-pairs, one distinct-pair dedup, two hash lookups per "
        "candidate. Exact copies always collide (Hamming 0); the cased-"
        "prefix near-variants flip only bits sampled in the edited span."
    ),
)
def media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _phash_media(spark, sf_dir)
    return _phash_pairs_from_hashes(_phash_byte_hashes(media))


def _phash_byte_hashes(media: DataFrame) -> DataFrame:
    """The byte-sample 64-bit hash as (media_id, band0..band3) — shared by
    media_phash_neardup and the cross-modal cluster query."""
    # substr with a column start needs expr-form; build all 64 bits once
    bit_cols = [
        F.when(
            F.expr(
                f"ascii(substr(payload, CAST(1 + ({i} * (length(payload) - 1)) div 63 AS INT), 1)) >= {_PHASH_THRESH}"
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias(f"bit{i}")
        for i in range(_PHASH_BITS)
    ]
    bits = media.select("media_id", *bit_cols)
    band_cols = [
        sum(
            (F.col(f"bit{b * 16 + j}") * F.lit(1 << j) for j in range(16)),
            F.lit(0),
        )
        .cast("bigint")
        .alias(f"band{b}")
        for b in range(_PHASH_BANDS)
    ]
    return bits.select("media_id", *band_cols)


def _phash_pixels_hash_sql() -> str:
    """Decoded-pixel pHash as relational CTEs ending in
    ``hashes(media_id, band0..band3)``: synthetic 32x32 decode (code
    points at length-proportional character positions — the container's
    deterministic stand-in for a real grayscale resize), fixed-point
    integer DCT-II via the shared 8x32 basis literals, lower-median
    threshold, 16-bit band packing. Every step is exact int64 arithmetic,
    so the SQL replays the Arrow kernel bit-for-bit."""
    from cupertino_nvr_spark.llm.multimodal import (
        DCT_BASIS_INT,
        PHASH_BLOCK,
        PHASH_RASTER,
    )

    n = PHASH_RASTER * PHASH_RASTER
    basis_vals = ", ".join(
        f"({k}, {col}, {w})"
        for k, row in enumerate(DCT_BASIS_INT)
        for col, w in enumerate(row)
    )
    band_sums = ", ".join(
        f"CAST(SUM(CASE WHEN i // 16 = {b} THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS band{b}"
        for b in range(_PHASH_BANDS)
    )
    return f"""pix AS (
      SELECT media_id, u.i AS i,
             ascii(substr(payload,
                   CAST(1 + (u.i * greatest(length(payload) - 1, 0)) // {n - 1} AS INT),
                   1)) AS p
      FROM media, unnest(range(0, {n})) AS u(i)
    ),
    basis AS (SELECT * FROM (VALUES {basis_vals}) AS b(k, n, w)),
    ustage AS (
      SELECT p.media_id, b.k AS k, p.i % {PHASH_RASTER} AS c,
             SUM(CAST(b.w AS BIGINT) * p.p) AS uval
      FROM pix p JOIN basis b ON b.n = p.i // {PHASH_RASTER}
      GROUP BY 1, 2, 3
    ),
    coefs AS (
      SELECT u.media_id, u.k, b.k AS l,
             CAST(SUM(CAST(b.w AS BIGINT) * u.uval) AS BIGINT) AS coef
      FROM ustage u JOIN basis b ON b.n = u.c
      GROUP BY 1, 2, 3
    ),
    med AS (
      SELECT media_id, coef AS med FROM (
        SELECT media_id, coef,
               ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY coef) AS rn
        FROM coefs) WHERE rn = 32
    ),
    bits AS (
      SELECT c.media_id, c.k * {PHASH_BLOCK} + c.l AS i,
             CASE WHEN c.coef > m.med THEN 1 ELSE 0 END AS bit
      FROM coefs c JOIN med m ON m.media_id = c.media_id
    ),
    hashes AS (SELECT media_id, {band_sums} FROM bits GROUP BY media_id)"""


@register(
    "media_phash_pixels",
    f"""
    WITH {_phash_media_corpus_sql()},
    {_phash_pixels_hash_sql()},
    {_phash_pair_tail_sql()}
    """,
    doc=(
        "Decoded-pixel perceptual-hash near-dup (pHash, Zauner 2010): "
        "decode each payload to a 32x32 grayscale raster (the container's "
        "deterministic synthetic decode — code points sampled at length-"
        "proportional positions; production swaps a PIL grayscale resize "
        "behind the identical kernel signature), 2-D DCT-II in FIXED-POINT "
        "INTEGER arithmetic (shared 8x32 basis literals, two int64 "
        "matmuls — the 32x32 coefficient matrix never materializes), keep "
        "the 8x8 low-frequency block, threshold against the lower median "
        "-> 64 bits. The hash runs as ONE Arrow-batched mapInPandas "
        "kernel (numpy int64 matmuls, no per-row Python); the banding / "
        "Hamming-verify / tau chain is the SAME shared fragment as "
        "media_phash_neardup, so the serving path is identical and only "
        "the kernel differs. This is actual perceptual dedup — a "
        "localized edit perturbs few raster samples, moving coefficients "
        "slightly, flipping only near-median bits — vs the byte-sample "
        "surrogate's payload identity. Exact copies always land at "
        "Hamming 0. Scale: hash is embarrassingly parallel (O(pixels) "
        "per media), candidates bounded by band balance — never "
        "all-pairs; same measured 1.0x-for-10x posture as the byte chain."
    ),
)
def media_phash_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.multimodal import phash_pixel_hashes

    media = _phash_media(spark, sf_dir)
    hashes = phash_pixel_hashes(media)
    return _phash_pairs_from_hashes(hashes)


_PHASH_TAU_SWEEP = 16  # profile taus 0..16 (production tau = 6 sits mid-curve)


@register(
    "media_phash_tau_profile",
    f"""
    WITH {_phash_media_sql()},
    {_phash_pair_ctes_sql()},
    spine AS (SELECT unnest(range(0, {_PHASH_TAU_SWEEP + 1})) AS tau),
    per_tau AS (
      SELECT s.tau, COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN p.hamming = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact
      FROM spine s JOIN scored p ON p.hamming <= s.tau
      GROUP BY s.tau
    ),
    med AS (
      SELECT s.tau, COUNT(DISTINCT x.m) AS n_media
      FROM spine s JOIN (
        SELECT id_a AS m, hamming FROM scored
        UNION ALL SELECT id_b, hamming FROM scored
      ) x ON x.hamming <= s.tau
      GROUP BY s.tau
    )
    SELECT CAST(s.tau AS INT) AS tau,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(p.n_exact, 0) AS BIGINT) AS n_exact,
           CAST(COALESCE(m.n_media, 0) AS BIGINT) AS n_media,
           CAST(s.tau = {_PHASH_TAU} AS INT) AS is_production_tau
    FROM spine s
    LEFT JOIN per_tau p USING (tau)
    LEFT JOIN med m USING (tau)
    """,
    doc=(
        "pHash Hamming-threshold tuning profile — the sweep a media-"
        "dedup owner reads before committing tau: for every threshold "
        "0..16, the verified near-dup pair count, the exact-copy "
        "(Hamming 0) share, and the distinct media drawn into pairs, "
        "with the production tau flagged in-row. Sweeps the SHARED "
        "banded-Hamming scoring chain (_phash_scored_pairs — the same "
        "candidates media_phash_neardup serves from, uncapped), so the "
        "profile measures exactly the production candidate set; the "
        "sweep itself is a 17-row spine range-joined against the "
        "bounded post-banding candidate table — band balance bounds "
        "the scored rows, never all-pairs, and the spine side is a "
        "17-row broadcast."
    ),
)
def media_phash_tau_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _phash_media(spark, sf_dir)
    scored = _phash_scored_pairs(_phash_byte_hashes(media))
    spine = spark.range(0, _PHASH_TAU_SWEEP + 1).select(
        F.col("id").cast("int").alias("tau")
    )
    hits = F.broadcast(spine).join(
        scored, F.col("hamming") <= F.col("tau")
    )
    per_tau = hits.groupBy("tau").agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("hamming") == 0).cast("long")).alias("n_exact"),
    )
    exploded = scored.select(
        F.col("id_a").alias("m"), "hamming"
    ).unionByName(scored.select(F.col("id_b").alias("m"), "hamming"))
    med = (
        F.broadcast(spine)
        .join(exploded, F.col("hamming") <= F.col("tau"))
        .groupBy("tau")
        .agg(F.count_distinct("m").alias("n_media"))
    )
    return (
        spine.join(per_tau, "tau", "left")
        .join(med, "tau", "left")
        .select(
            "tau",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_exact", F.lit(0)).cast("bigint").alias("n_exact"),
            F.coalesce("n_media", F.lit(0)).cast("bigint").alias("n_media"),
            (F.col("tau") == _PHASH_TAU).cast("int").alias("is_production_tau"),
        )
    )


def _media_doc_comp_sql() -> str:
    """The cross-modal transitive-closure CTE chain (aug..comp) — the
    single SQL source behind media_doc_dup_clusters AND
    media_doc_dedup_survivors, mirroring the Spark side's shared
    _media_doc_components."""
    return f"""aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLE_SQL}),
    {_minhash_band_chain_sql()},
    {_phash_media_sql()},
    {_phash_pair_ctes_sql()},
    pairs AS (SELECT id_a, id_b FROM scored WHERE hamming <= {_PHASH_TAU}),
    textedges AS (
      SELECT DISTINCT 'd:' || CAST(a.doc_id AS VARCHAR) AS src,
                      'd:' || CAST(b.doc_id AS VARCHAR) AS dst
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id <> b.doc_id
    ),
    mediaedges AS (
      SELECT 'm:' || CAST(id_a AS VARCHAR) AS src,
             'm:' || CAST(id_b AS VARCHAR) AS dst FROM pairs
      UNION ALL
      SELECT 'm:' || CAST(id_b AS VARCHAR),
             'm:' || CAST(id_a AS VARCHAR) FROM pairs
    ),
    pageedges AS (
      SELECT 'm:' || CAST(media_id AS VARCHAR) AS src,
             'd:' || CAST(media_id AS VARCHAR) AS dst
      FROM media WHERE media_id < 1000000
      UNION ALL
      SELECT 'd:' || CAST(media_id AS VARCHAR),
             'm:' || CAST(media_id AS VARCHAR)
      FROM media WHERE media_id < 1000000
    ),
    edges AS (
      SELECT * FROM textedges
      UNION ALL SELECT * FROM mediaedges
      UNION ALL SELECT * FROM pageedges
    ),
    allnodes AS (
      SELECT 'd:' || CAST(doc_id AS VARCHAR) AS node FROM aug
      UNION ALL
      SELECT 'm:' || CAST(media_id AS VARCHAR) FROM media
    ),
    reach AS (
      SELECT node, node AS lbl FROM allnodes
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)"""


@register(
    "media_doc_dup_clusters",
    f"""
    WITH RECURSIVE {_media_doc_comp_sql()}
    SELECT CASE WHEN node LIKE 'd:%' THEN 'doc' ELSE 'media' END AS node_kind,
           CAST(substr(node, 3) AS BIGINT) AS node_id,
           cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           CAST(SUM(CASE WHEN node LIKE 'd:%' THEN 1 ELSE 0 END)
                OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN node LIKE 'm:%' THEN 1 ELSE 0 END)
                OVER (PARTITION BY cluster_id) AS BIGINT) AS n_media
    FROM comp
    """,
    doc=(
        "Cross-modal duplicate clustering — the dedup decision a "
        "multimodal corpus build actually makes (drop an image whose "
        "caption-twin's page was already kept): ONE connected-components "
        "pass over the union of three already-oracle-checked edge "
        "sources — (a) text near-dup band membership (the "
        "docs_dup_clusters MinHash chain), (b) pHash-verified media "
        "pairs (the media_phash_neardup banded-Hamming chain; the "
        "decoded-pixel kernel plugs into the same slot), and (c) "
        "media->host-page provenance links for base media. Nodes are "
        "namespaced ('d:'/'m:'); clustering is the SAME pairless "
        "star contraction as docs_dup_clusters "
        "(llm/pipeline.py:components_over_keys) — edges linear in "
        "membership rows, never pair-quadratic, pair edges entering "
        "as 2-member keys. A media copy (+1M) clusters with other pages "
        "ONLY transitively: phash pair -> base media -> provenance link "
        "-> page doc -> text bands. Oracle: recursive-CTE transitive "
        "closure of the identical symmetric edge union. Scale: each "
        "edge source is the already-bounded chain it reuses; star "
        "contraction takes O(log^2 n) rounds independent of the graph's "
        "diameter (this graph has >40-hop chains at sf1), checkpointed "
        "per round."
    ),
)
def media_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shape_media_doc_clusters(_media_doc_components(spark, sf_dir))


def _shape_media_doc_clusters(comp: DataFrame) -> DataFrame:
    """The cluster REPORT shape over a (node, cluster_id) component frame
    — shared by the registry entry and llm.export's materialize-once
    path, so a report derived from a persisted component frame is
    row-identical to the standalone query."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    is_doc = F.col("node").startswith("d:")
    return comp.select(
        F.when(is_doc, "doc").otherwise("media").alias("node_kind"),
        F.expr("CAST(substring(node, 3) AS BIGINT)").alias("node_id"),
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        F.sum(is_doc.cast("int")).over(w).cast("bigint").alias("n_docs"),
        F.sum((~is_doc).cast("int")).over(w).cast("bigint").alias("n_media"),
    )


def _media_doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared cross-modal component chain: (node['d:'/'m:'-prefixed],
    cluster_id) over text band membership + pHash-verified media pairs +
    media->page provenance links — media_doc_dup_clusters reports it,
    media_doc_dedup_survivors acts on it."""
    from cupertino_nvr_spark.llm.pipeline import components_over_keys
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    aug = augmented_docs(spark, sf_dir)
    # the signature table feeds both banding arms (hot-bucket count +
    # the anti-join left side) and the pHash pair set feeds both edge
    # directions — materialize each once (16 B/doc and 16 B/pair) so the
    # shingle-md5 aggregate and the banded-Hamming chain run once, not
    # twice (no CSE across self-consuming arms).
    sigs = reliable_checkpoint(
        minhash_signature(aug, num_hashes=8, shingle_k=3, hash_fn="md5")
    )
    text_memb = lsh_band_membership(
        sigs, num_hashes=8, band_size=2, band_cap=64
    ).select(
        F.concat(F.lit("d:"), F.col("doc_id").cast("string")).alias("node"),
        F.concat_ws(
            ":", F.lit("t"), F.col("band_idx").cast("string"), F.col("band_key")
        ).alias("k"),
    )
    media = _phash_media(spark, sf_dir)
    pairs = reliable_checkpoint(
        _phash_pairs_from_hashes(_phash_byte_hashes(media)).select(
            "id_a", "id_b"
        )
    )
    pair_key = F.concat_ws(
        ":", F.lit("e"), F.col("id_a").cast("string"), F.col("id_b").cast("string")
    )
    pair_memb = pairs.select(
        F.concat(F.lit("m:"), F.col("id_a").cast("string")).alias("node"),
        pair_key.alias("k"),
    ).unionByName(
        pairs.select(
            F.concat(F.lit("m:"), F.col("id_b").cast("string")).alias("node"),
            pair_key.alias("k"),
        )
    )
    base_media = media.filter(F.col("media_id") < 1000000).select("media_id")
    page_key = F.concat(F.lit("c:"), F.col("media_id").cast("string"))
    page_memb = base_media.select(
        F.concat(F.lit("m:"), F.col("media_id").cast("string")).alias("node"),
        page_key.alias("k"),
    ).unionByName(
        base_media.select(
            F.concat(F.lit("d:"), F.col("media_id").cast("string")).alias("node"),
            page_key.alias("k"),
        )
    )
    membership = text_memb.unionByName(pair_memb).unionByName(page_memb)
    nodes = aug.select(
        F.concat(F.lit("d:"), F.col("doc_id").cast("string")).alias("node")
    ).unionByName(
        media.select(
            F.concat(F.lit("m:"), F.col("media_id").cast("string")).alias("node")
        )
    )
    return components_over_keys(nodes, membership, id_col="node", key_col="k")


@register(
    "media_doc_dedup_survivors",
    f"""
    WITH RECURSIVE {_media_doc_comp_sql()},
    dnodes AS (
      SELECT c.cluster_id, CAST(substr(c.node, 3) AS BIGINT) AS node_id,
             length(a.text) AS tl
      FROM comp c JOIN aug a ON c.node = 'd:' || CAST(a.doc_id AS VARCHAR)
    ),
    surv AS (
      SELECT cluster_id, node_id AS surv_doc FROM (
        SELECT cluster_id, node_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY tl DESC, node_id) AS rn
        FROM dnodes) WHERE rn = 1
    ),
    mrep AS (
      SELECT cluster_id, MIN(CAST(substr(node, 3) AS BIGINT)) AS media_rep
      FROM comp WHERE node LIKE 'm:%' GROUP BY cluster_id
    )
    SELECT CASE WHEN node LIKE 'd:%' THEN 'doc' ELSE 'media' END AS node_kind,
           CAST(substr(node, 3) AS BIGINT) AS node_id,
           c.cluster_id,
           CAST(CASE WHEN node LIKE 'd:%'
                     THEN CAST(substr(node, 3) AS BIGINT) = s.surv_doc
                     WHEN s.surv_doc IS NOT NULL
                     THEN CAST(substr(node, 3) AS BIGINT) = s.surv_doc
                     ELSE CAST(substr(node, 3) AS BIGINT) = m.media_rep
                END AS INT) AS is_kept,
           CASE WHEN node LIKE 'd:%' THEN
                  CASE WHEN CAST(substr(node, 3) AS BIGINT) = s.surv_doc
                       THEN 'survivor_doc' ELSE 'dup_doc' END
                WHEN s.surv_doc IS NOT NULL THEN
                  CASE WHEN CAST(substr(node, 3) AS BIGINT) = s.surv_doc
                       THEN 'media_of_survivor' ELSE 'dup_media' END
                ELSE
                  CASE WHEN CAST(substr(node, 3) AS BIGINT) = m.media_rep
                       THEN 'media_rep' ELSE 'dup_media' END
           END AS keep_reason
    FROM comp c
    LEFT JOIN surv s USING (cluster_id)
    LEFT JOIN mrep m USING (cluster_id)
    """,
    doc=(
        "Cross-modal dedup DECISION — the action the cross-modal "
        "clusters exist for (the media_doc_dup_clusters -> survivors "
        "closure, like excision's plan -> materialize pairing): per "
        "cluster, keep the best DOC (longest text, ties -> smallest id) "
        "and exactly the media attached to the kept page (base media "
        "share their page's id, so the provenance test is an id "
        "equality); media of dropped pages and pHash copies drop with "
        "their pages; media-only clusters keep their min-id "
        "representative. Emits every node with is_kept and a "
        "keep_reason (survivor_doc / dup_doc / media_of_survivor / "
        "media_rep / dup_media). Shares the component chain verbatim "
        "with media_doc_dup_clusters (_media_doc_components /"
        " _media_doc_comp_sql — the decision can never drift from the "
        "reported clusters); the additions are one doc-length attach, "
        "one max_by survivor aggregate (map-side combined, no "
        "per-cluster sort), one min media aggregate, and two "
        "cluster-keyed left joins."
    ),
)
def media_doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shape_media_doc_survivors(
        _media_doc_components(spark, sf_dir), augmented_docs(spark, sf_dir)
    )


def _shape_media_doc_survivors(comp: DataFrame, aug: DataFrame) -> DataFrame:
    """The dedup DECISION shape over a (node, cluster_id) component frame
    + the doc corpus (for text lengths) — shared by the registry entry
    and llm.export's materialize-once path."""
    is_doc = F.col("node").startswith("d:")
    base = comp.select(
        "node",
        "cluster_id",
        is_doc.alias("is_doc"),
        F.expr("CAST(substring(node, 3) AS BIGINT)").alias("node_id"),
    )
    dn = base.filter("is_doc").join(
        aug.select(
            F.col("doc_id").alias("node_id"), F.length("text").alias("tl")
        ),
        "node_id",
    )
    surv = dn.groupBy("cluster_id").agg(
        F.max_by(
            "node_id", F.struct(F.col("tl"), (-F.col("node_id")).alias("nid"))
        ).alias("surv_doc")
    )
    mrep = (
        base.filter(~F.col("is_doc"))
        .groupBy("cluster_id")
        .agg(F.min("node_id").alias("media_rep"))
    )
    nid = F.col("node_id")
    kept = F.when(F.col("is_doc"), nid == F.col("surv_doc")).otherwise(
        F.when(F.col("surv_doc").isNotNull(), nid == F.col("surv_doc")).otherwise(
            nid == F.col("media_rep")
        )
    )
    reason = F.when(
        F.col("is_doc"),
        F.when(nid == F.col("surv_doc"), "survivor_doc").otherwise("dup_doc"),
    ).otherwise(
        F.when(
            F.col("surv_doc").isNotNull(),
            F.when(nid == F.col("surv_doc"), "media_of_survivor").otherwise(
                "dup_media"
            ),
        ).otherwise(
            F.when(nid == F.col("media_rep"), "media_rep").otherwise("dup_media")
        )
    )
    return (
        base.join(surv, "cluster_id", "left")
        .join(mrep, "cluster_id", "left")
        .select(
            F.when(F.col("is_doc"), "doc").otherwise("media").alias("node_kind"),
            "node_id",
            "cluster_id",
            kept.cast("int").alias("is_kept"),
            reason.alias("keep_reason"),
        )
    )


@register(
    "embedding_pc1_outliers",
    f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
    ),
    dimvals AS (
      SELECT vec_id, pos, x[pos] AS v
      FROM vecs, unnest(range(1, 65)) AS u(pos)
    ),
    mean AS (
      SELECT pos,
             ROUND(CAST(SUM(CAST(ROUND(v, 9) AS DECIMAL(24,9))) AS DOUBLE)
                   / COUNT(*), 9) AS m
      FROM dimvals GROUP BY pos
    ),
    meanarr AS (SELECT list(m ORDER BY pos) AS marr FROM mean),
    centered AS (
      SELECT vec_id,
             list_transform(range(1, 65), d -> x[d] - marr[d]) AS cx
      FROM vecs CROSS JOIN meanarr
    ),
    v0 AS (SELECT list_transform(range(1, 65), d -> 0.125) AS v),
    {", ".join(_pi_round_sql(i) for i in range(1, _PI_ROUNDS + 1))},
    proj AS (
      SELECT vec_id,
             ROUND(list_sum(list_transform(range(1, 65), d -> cx[d] * v[d])), 9) AS t
      FROM centered CROSS JOIN v{_PI_ROUNDS}
    ),
    pstats AS (
      SELECT ROUND(CAST(SUM(CAST(t AS DECIMAL(24,9))) AS DOUBLE) / COUNT(*), 9) AS mu,
             ROUND(sqrt(
               CAST(SUM(CAST(ROUND(t * t, 9) AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*)
               - (CAST(SUM(CAST(t AS DECIMAL(24,9))) AS DOUBLE) / COUNT(*))
                 * (CAST(SUM(CAST(t AS DECIMAL(24,9))) AS DOUBLE) / COUNT(*))
             ), 9) AS sd
      FROM proj
    )
    SELECT vec_id, t AS pc1_score,
           ROUND((t - mu) / sd, 6) AS z,
           CAST(abs((t - mu) / sd) >= 2.5 AS INT) AS is_outlier
    FROM proj CROSS JOIN pstats
    """,
    doc=(
        "Embedding outlier detection on the first principal axis: every "
        "vector's projection onto the power-iteration PC1 (the SAME "
        "unrolled chain as embedding_power_iteration_pc1 — one shared "
        "_pi_round_sql definition, so detector and component cannot "
        "drift), z-scored against fixed-point corpus moments, flagged at "
        "|z| >= 2.5. The extra cost over the component itself is one "
        "projection pass + a 1-row moment attach — the curation signal "
        "(mislabeled/degenerate embeddings sit in the tails of the "
        "dominant axis) at O(n*dim)."
    ),
)
def embedding_pc1_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.similarity import as_double
    from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("x"))
    dec = lambda c: F.round(c, 9).cast("decimal(24,9)")  # noqa: E731
    mean = (
        vecs.select(F.posexplode("x").alias("p0", "v"))
        .groupBy("p0")
        .agg(
            F.round(F.sum(dec(F.col("v"))).cast("double") / F.count("*"), 9).alias(
                "m"
            )
        )
    )
    meanarr = mean.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p0", "m"))), lambda s: s["m"]
        ).alias("marr")
    )
    centered = vecs.crossJoin(F.broadcast(meanarr)).select(
        "vec_id", F.zip_with("x", "marr", lambda a, b: a - b).alias("cx")
    )
    sq_norm = lambda w: F.aggregate(  # noqa: E731
        w, F.lit(0.0), lambda acc, z: acc + z * z
    )
    v = spark.range(1).select(F.array(*[F.lit(0.125)] * 64).alias("v"))
    for _ in range(_PI_ROUNDS):
        scored = centered.crossJoin(F.broadcast(v.select("v"))).select(
            "cx",
            F.round(
                F.aggregate(
                    F.zip_with("cx", "v", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, z: acc + z,
                ),
                9,
            ).alias("s"),
        )
        wdims = (
            scored.select("s", F.posexplode("cx").alias("p0", "cv"))
            .groupBy("p0")
            .agg(F.sum(dec(F.col("s") * F.col("cv"))).cast("double").alias("w"))
        )
        warr = wdims.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p0", "w"))), lambda s: s["w"]
            ).alias("w")
        )
        v = reliable_checkpoint(
            warr.select(
                F.transform(
                    "w", lambda y: F.round(y / F.sqrt(sq_norm(F.col("w"))), 9)
                ).alias("v")
            )
        )
    proj = centered.crossJoin(F.broadcast(v)).select(
        "vec_id",
        F.round(
            F.aggregate(
                F.zip_with("cx", "v", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
            9,
        ).alias("t"),
    )
    pstats = proj.agg(
        F.round(
            F.sum(F.col("t").cast("decimal(24,9)")).cast("double") / F.count("*"), 9
        ).alias("mu"),
        F.round(
            F.sqrt(
                F.sum(F.round(F.col("t") * F.col("t"), 9).cast("decimal(30,9)"))
                .cast("double")
                / F.count("*")
                - (
                    F.sum(F.col("t").cast("decimal(24,9)")).cast("double")
                    / F.count("*")
                )
                * (
                    F.sum(F.col("t").cast("decimal(24,9)")).cast("double")
                    / F.count("*")
                )
            ),
            9,
        ).alias("sd"),
    )
    z = F.round((F.col("t") - F.col("mu")) / F.col("sd"), 6)
    return proj.crossJoin(F.broadcast(pstats)).select(
        "vec_id",
        F.col("t").alias("pc1_score"),
        z.alias("z"),
        (F.abs((F.col("t") - F.col("mu")) / F.col("sd")) >= 2.5)
        .cast("int")
        .alias("is_outlier"),
    )


# Cavnar-Trenkle (1994) n-gram-profile language ID: per-language profile
# = top-N char 3-grams by frequency; a document is classified to the
# language whose profile minimizes the rank-order distance of the doc's
# own top-N grams (out-of-profile gram -> max penalty N). Trained on the
# labeled corpus itself — the same self-eval framing as
# docs_langid_confusion, but an actual trained classifier rather than
# the stopword heuristic.
_CT_TOP = 20


@register(
    "docs_char_ngram_langid",
    f"""
    WITH t AS (
      SELECT doc_id, lang, lower(text) AS tx FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, substr(tx, p, 3) AS g
      FROM t, unnest(CASE WHEN length(tx) >= 3
                          THEN range(1, length(tx) - 1)
                          ELSE [] END) AS u(p)
    ),
    lp AS (SELECT lang, g, COUNT(*) AS c FROM grams GROUP BY lang, g),
    lprof AS (
      SELECT lang AS plang, g, lrank FROM (
        SELECT lang, g,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, g) AS lrank
        FROM lp) WHERE lrank <= {_CT_TOP}
    ),
    dp AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    dprof AS (
      SELECT doc_id, g, drank FROM (
        SELECT doc_id, g,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS drank
        FROM dp) WHERE drank <= {_CT_TOP}
    ),
    langs AS (SELECT DISTINCT lang AS plang FROM t),
    contrib AS (
      SELECT d.doc_id, l.plang,
             COALESCE(abs(d.drank - p.lrank), {_CT_TOP}) AS pen
      FROM dprof d CROSS JOIN langs l
      LEFT JOIN lprof p ON p.plang = l.plang AND p.g = d.g
    ),
    dists AS (
      SELECT doc_id, plang, CAST(SUM(pen) AS BIGINT) AS dist
      FROM contrib GROUP BY doc_id, plang
    ),
    best AS (
      SELECT doc_id, plang AS predicted_ct_lang, dist FROM (
        SELECT doc_id, plang, dist,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, plang) AS rk
        FROM dists) WHERE rk = 1
    )
    SELECT b.doc_id, t.lang, b.predicted_ct_lang, b.dist,
           CAST(b.predicted_ct_lang = t.lang AS INT) AS correct
    FROM best b JOIN t ON t.doc_id = b.doc_id
    """,
    doc=(
        "Cavnar-Trenkle char-3-gram-profile language ID: per-language "
        "top-20 gram profiles (trained from the labeled corpus in one "
        "(lang, gram) aggregation — 100 rows, a broadcast dim at any "
        "corpus size), per-doc top-20 profiles (one (doc, gram) "
        "aggregation + per-doc window), rank-order distance with "
        "out-of-profile penalty, argmin with deterministic lang "
        "tie-break. Gram explosion is O(total chars) with map-side "
        "combine; the distance stage touches 20 x n_langs rows per doc. "
        "Complements the stopword-argmax classifier "
        "(docs_quality_lang/docs_langid_confusion) with the actual "
        "published trained-profile method."
    ),
)
def docs_char_ngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    t = docs.select("doc_id", "lang", F.lower(F.col("text")).alias("tx"))
    spans = F.when(
        F.length("tx") >= 3, F.sequence(F.lit(1), F.length("tx") - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = t.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(spans, lambda p: F.col("tx").substr(p, F.lit(3)))
        ).alias("g"),
    )
    lp = grams.groupBy("lang", "g").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang").orderBy(F.col("c").desc(), "g")
    lprof = (
        lp.withColumn("lrank", F.row_number().over(wl))
        .filter(F.col("lrank") <= _CT_TOP)
        .select(F.col("lang").alias("plang"), "g", "lrank")
    )
    dp = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    wd = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), "g")
    dprof = (
        dp.withColumn("drank", F.row_number().over(wd))
        .filter(F.col("drank") <= _CT_TOP)
        .select("doc_id", "g", "drank")
    )
    langs = t.select(F.col("lang").alias("plang")).distinct()
    contrib = (
        dprof.crossJoin(F.broadcast(langs))
        .join(F.broadcast(lprof), ["plang", "g"], "left")
        .select(
            "doc_id",
            "plang",
            F.coalesce(
                F.abs(F.col("drank") - F.col("lrank")), F.lit(_CT_TOP)
            ).alias("pen"),
        )
    )
    dists = contrib.groupBy("doc_id", "plang").agg(
        F.sum("pen").cast("bigint").alias("dist")
    )
    wb = Window.partitionBy("doc_id").orderBy("dist", "plang")
    best = (
        dists.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("plang").alias("predicted_ct_lang"), "dist")
    )
    return best.join(t.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "predicted_ct_lang",
        "dist",
        (F.col("predicted_ct_lang") == F.col("lang")).cast("int").alias("correct"),
    )


@register(
    "embedding_knn_label_eval",
    """
    WITH probes AS (SELECT vec_id, embedding, label FROM embeddings
                    WHERE vec_id % 100 = 0 AND vec_id < 20000),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS true_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM probes p JOIN embeddings c ON p.vec_id <> c.vec_id
    ),
    topk AS (
      SELECT probe_id, true_label, neighbor_label FROM (
        SELECT probe_id, true_label, neighbor_label,
               ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5
    ),
    votes AS (
      SELECT probe_id, true_label, neighbor_label AS predicted_label,
             COUNT(*) AS votes
      FROM topk GROUP BY probe_id, true_label, neighbor_label
    )
    SELECT probe_id, true_label, predicted_label, CAST(votes AS BIGINT) AS votes,
           CAST(predicted_label = true_label AS INT) AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY votes DESC, predicted_label) AS rk
      FROM votes) WHERE rk = 1
    """,
    doc=(
        "k-NN label-vote evaluation of embedding quality: each probe's "
        "top-5 exact cosine neighbors (embedding_cosine_topk's bounded-"
        "probe brute-force chain) vote on its label by majority "
        "(tie -> smallest label); correctness vs the probe's own label "
        "is the standard linear-probe-free embedding sanity metric. The "
        "probe panel is FIXED (200 slots) so the harness stays one "
        "linear corpus scan at any SF; extra work over top-k is one "
        "5-row-per-probe aggregation."
    ),
)
def embedding_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    # FIXED probe panel (first 200 panel slots): the eval set must not
    # grow with the corpus, or probes x corpus scoring turns quadratic —
    # a fixed panel keeps the harness one linear corpus scan at any SF
    probes = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 20000))
    topk = brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    labels = emb.select("vec_id", "label")
    joined = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("neighbor_label"),
            ),
            "neighbor_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label")
            ),
            "probe_id",
        )
    )
    votes = joined.groupBy("probe_id", "true_label", "neighbor_label").agg(
        F.count("*").alias("votes")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("votes").desc(), F.col("neighbor_label")
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "probe_id",
            "true_label",
            F.col("neighbor_label").alias("predicted_label"),
            F.col("votes").cast("bigint").alias("votes"),
            (F.col("neighbor_label") == F.col("true_label"))
            .cast("int")
            .alias("correct"),
        )
    )


# C4-style heuristic cleaning flags (Raffel et al. 2020). The corpus has
# no lines/markup, so the surviving rules are the doc-level ones: word
# floor, blocklist hit, code-brace, lorem-ipsum, terminal punctuation.
# The blocklist is a broadcast dim in production; literal here so both
# engines replay it.
_C4_BLOCKLIST = ("slow", "dup", "noise")
_C4_MIN_WORDS = 5


@register(
    "docs_c4_filters",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_words,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 w -> w IN ({", ".join(f"'{w}'" for w in _C4_BLOCKLIST)}))) AS n_blocked,
             CAST(contains(text, '{{') OR contains(text, '}}') AS INT) AS has_brace,
             CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem,
             CAST(substr(reverse(trim(text)), 1, 1) IN ('.', '!', '?') AS INT) AS ends_terminal
      FROM documents
    )
    SELECT doc_id, n_words, n_blocked, has_brace, has_lorem, ends_terminal,
           CAST(n_words >= {_C4_MIN_WORDS} AND n_blocked = 0
                AND has_brace = 0 AND has_lorem = 0 AS INT) AS passes_c4
    FROM t
    """,
    doc=(
        "C4 heuristic cleaning flags (Raffel et al. 2020): word floor, "
        "blocklist hits (broadcast dim in production, literal here), "
        "code-brace and lorem-ipsum detection, terminal-punctuation "
        "check, combined keep gate. One zero-shuffle codegen projection "
        "- the doc-level member of the published-filter trio next to "
        "docs_gopher_quality (rules) and docs_classifier_score (model)."
    ),
)
def docs_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    text = F.col("text")
    toks_l = ws_tokens(F.lower(F.trim(text)))
    n_words = token_count(text)
    n_blocked = F.size(
        F.filter(toks_l, lambda w: w.isin(*_C4_BLOCKLIST))
    ).cast("bigint")
    has_brace = (text.contains("{") | text.contains("}")).cast("int")
    has_lorem = F.lower(text).contains("lorem ipsum").cast("int")
    ends_terminal = (
        F.substring(F.reverse(F.trim(text)), 1, 1).isin(".", "!", "?")
    ).cast("int")
    passes = (
        (n_words >= _C4_MIN_WORDS)
        & (n_blocked == 0)
        & (has_brace == 0)
        & (has_lorem == 0)
    ).cast("int")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_blocked.alias("n_blocked"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        ends_terminal.alias("ends_terminal"),
        passes.alias("passes_c4"),
    )


# ---------------------------------------------------------------------------
# Late r8 debuts II: clustering-quality eval, filter-funnel attribution,
# retrieval-agreement (RBO), packing-efficiency report.
# ---------------------------------------------------------------------------

from cupertino_nvr_spark.plans.registry import REGISTRY as _REG  # noqa: E402


@register(
    "embedding_silhouette",
    f"""
    WITH vecs AS ({_KM_VECS_SQL}),
    params AS ({_ivf_params_sql("embeddings")}),
    cent0 AS (
      SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centvec
      FROM embeddings, params WHERE {_CENT_PRED_SQL}
    ),
    {_km_assign_sql("cent0", "assign0")},
    {_km_recompute_sql("assign0", "cent1")},
    {_km_assign_sql("cent1", "assign1")},
    {_km_recompute_sql("assign1", "cent2")},
    {_km_assign_sql("cent2", "assignf")},
    dists AS (
      SELECT v.member_id, c.cell_id,
             round(1 - round(list_cosine_similarity(v.mvec, c.centvec), 6), 6) AS d
      FROM vecs v CROSS JOIN cent2 c
    ),
    ab AS (
      SELECT d.member_id, MIN(a.cell_id) AS cell_id,
             MIN(CASE WHEN d.cell_id = a.cell_id THEN d.d END) AS a_dist,
             MIN(CASE WHEN d.cell_id <> a.cell_id THEN d.d END) AS b_dist
      FROM dists d JOIN assignf a USING (member_id)
      GROUP BY d.member_id
    ),
    sil AS (
      SELECT cell_id,
             CASE WHEN greatest(a_dist, b_dist) <= 0 THEN 0.0
                  ELSE round((b_dist - a_dist) / greatest(a_dist, b_dist), 6)
             END AS s
      FROM ab
    )
    SELECT cell_id, COUNT(*) AS n_members,
           round(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_sil,
           MIN(s) AS min_sil, MAX(s) AS max_sil
    FROM sil GROUP BY cell_id
    """,
    doc=(
        "Centroid-silhouette clustering-quality evaluation for the k-means "
        "operator: per vector a = cosine distance to its OWN centroid, b = "
        "min distance to any OTHER centroid, s = (b-a)/max(a,b), averaged "
        "per cluster (with min/max spread). The classic silhouette is "
        "all-pairs O(n^2); the centroid form is the standard large-scale "
        "substitute and costs exactly one extra assign-shaped pass: corpus "
        "x broadcast(centroids), k bounded by the IVF stride cap, so the "
        "eval scales wherever the clustering itself does. Reuses the "
        "embedding_kmeans chain verbatim (same seeds, two Lloyd rounds, "
        "fixed-point centroid sums) so the evaluated clustering cannot "
        "drift from the registered one; per-vector s is rounded to 6 and "
        "summed as DECIMAL so the cluster means carry a SQL hash oracle."
    ),
)
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.similarity import as_double, cosine, kmeans_refine

    emb = load_table(spark, "embeddings", sf_dir)
    # the unrolled oracle enumerates exactly _KM_DIM positions (same
    # 1-row probe guard as embedding_kmeans)
    probe = emb.select(F.size("embedding").alias("d")).first()
    if probe is not None and probe.d != _KM_DIM:
        raise ValueError(
            f"embedding_silhouette: expected {_KM_DIM}-dim embeddings, "
            f"data has {probe.d}"
        )
    assign, cents = kmeans_refine(emb, iterations=2)
    vecs = emb.select(
        F.col("vec_id").alias("member_id"), as_double(F.col("embedding")).alias("mvec")
    )
    d = F.round(
        F.lit(1.0) - F.round(cosine(F.col("mvec"), F.col("centvec")), 6), 6
    )
    dists = vecs.crossJoin(F.broadcast(cents)).select(
        "member_id", "cell_id", d.alias("d")
    )
    own = assign.select("member_id", F.col("cell_id").alias("own_cell"))
    ab = (
        dists.join(own, "member_id")
        .groupBy("member_id")
        .agg(
            F.min("own_cell").alias("cell_id"),
            F.min(
                F.when(F.col("cell_id") == F.col("own_cell"), F.col("d"))
            ).alias("a_dist"),
            F.min(
                F.when(F.col("cell_id") != F.col("own_cell"), F.col("d"))
            ).alias("b_dist"),
        )
    )
    mx = F.greatest(F.col("a_dist"), F.col("b_dist"))
    s = F.when(mx <= 0, F.lit(0.0)).otherwise(
        F.round((F.col("b_dist") - F.col("a_dist")) / mx, 6)
    )
    sil = ab.select("cell_id", s.alias("s"))
    return sil.groupBy("cell_id").agg(
        F.count("*").alias("n_members"),
        F.round(
            F.sum(F.col("s").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("mean_sil"),
        F.min("s").alias("min_sil"),
        F.max("s").alias("max_sil"),
    )


# Filter-funnel attribution over the published-filter trio. Reuses the
# REGISTERED c4/gopher/classifier queries on both engines (Spark calls
# their plan functions, the oracle embeds their oracle strings as CTEs),
# so the attributed rules cannot drift from the filters they attribute.
_ATTRIBUTION_SQL = (
    "WITH c4r AS ("
    + "{c4}"
    + "), gqr AS ("
    + "{gq}"
    + "), clr AS ("
    + "{cl}"
    + """),
    flags AS (
      SELECT c4r.doc_id, c4r.passes_c4 AS f_c4, gqr.passes_gopher AS f_gopher,
             clr.label_keep AS f_classifier
      FROM c4r JOIN gqr USING (doc_id) JOIN clr USING (doc_id)
    ),
    a AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(1 - f_c4) AS BIGINT) AS fail_c4,
             CAST(SUM(1 - f_gopher) AS BIGINT) AS fail_gopher,
             CAST(SUM(1 - f_classifier) AS BIGINT) AS fail_classifier,
             CAST(SUM((1 - f_c4) * f_gopher * f_classifier) AS BIGINT) AS sole_c4,
             CAST(SUM(f_c4 * (1 - f_gopher) * f_classifier) AS BIGINT) AS sole_gopher,
             CAST(SUM(f_c4 * f_gopher * (1 - f_classifier)) AS BIGINT) AS sole_classifier,
             CAST(SUM(f_c4 * f_gopher * f_classifier) AS BIGINT) AS n_pass_all
      FROM flags
    )
    SELECT rule, n_failed, n_sole_failed, n_docs, n_pass_all,
           round(CAST(n_failed AS DOUBLE) / n_docs, 6) AS fail_share
    FROM (
      SELECT 'c4' AS rule, fail_c4 AS n_failed, sole_c4 AS n_sole_failed,
             n_docs, n_pass_all FROM a
      UNION ALL
      SELECT 'gopher', fail_gopher, sole_gopher, n_docs, n_pass_all FROM a
      UNION ALL
      SELECT 'classifier', fail_classifier, sole_classifier, n_docs, n_pass_all FROM a
    )
    """
)


@register(
    "docs_filter_attribution",
    _ATTRIBUTION_SQL.format(
        c4=_REG["docs_c4_filters"].oracle,
        gq=_REG["docs_gopher_quality"].oracle,
        cl=_REG["docs_classifier_score"].oracle,
    ),
    doc=(
        "Curation-funnel attribution across the published-filter trio "
        "(C4 heuristics, Gopher rules, hashed linear classifier): per "
        "rule, how many docs fail it, how many fail ONLY it (the docs "
        "that rule alone removes — the number that justifies keeping a "
        "rule in the pipeline), the overall pass-all count and fail "
        "share. Composes the three REGISTERED filter queries verbatim on "
        "both engines — the attribution cannot drift from the filters it "
        "attributes. Cost: the three zero-shuffle flag projections, two "
        "narrow (doc_id, int) equi-joins, ONE map-side-combined global "
        "aggregate to a single row, and a 3-row stack; a production "
        "deployment fuses the projections into one scan, the registered "
        "form trades one extra scan for by-construction reuse."
    ),
)
def docs_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c4 = _REG["docs_c4_filters"].spark(spark, sf_dir).select(
        "doc_id", F.col("passes_c4").alias("f_c4")
    )
    gq = _REG["docs_gopher_quality"].spark(spark, sf_dir).select(
        "doc_id", F.col("passes_gopher").alias("f_gopher")
    )
    cl = _REG["docs_classifier_score"].spark(spark, sf_dir).select(
        "doc_id", F.col("label_keep").alias("f_classifier")
    )
    flags = c4.join(gq, "doc_id").join(cl, "doc_id")
    bsum = lambda c: F.sum(c).cast("bigint")  # noqa: E731
    f_c4, f_gq, f_cl = (
        F.col("f_c4"),
        F.col("f_gopher"),
        F.col("f_classifier"),
    )
    a = flags.agg(
        F.count("*").alias("n_docs"),
        bsum(1 - f_c4).alias("fail_c4"),
        bsum(1 - f_gq).alias("fail_gopher"),
        bsum(1 - f_cl).alias("fail_classifier"),
        bsum((1 - f_c4) * f_gq * f_cl).alias("sole_c4"),
        bsum(f_c4 * (1 - f_gq) * f_cl).alias("sole_gopher"),
        bsum(f_c4 * f_gq * (1 - f_cl)).alias("sole_classifier"),
        bsum(f_c4 * f_gq * f_cl).alias("n_pass_all"),
    )
    return a.select(
        F.expr(
            "stack(3, 'c4', fail_c4, sole_c4, "
            "'gopher', fail_gopher, sole_gopher, "
            "'classifier', fail_classifier, sole_classifier) "
            "AS (rule, n_failed, n_sole_failed)"
        ),
        "n_docs",
        "n_pass_all",
    ).withColumn(
        "fail_share", F.round(F.col("n_failed").cast("double") / F.col("n_docs"), 6)
    )


# Rank-biased overlap (Webber et al. 2010) between the two retrieval
# legs the hybrid fuses — the agreement diagnostic a retrieval owner
# reads before trusting RRF weights. Truncated at depth 10, p = 0.9:
# RBO@10 = (1-p) * sum_{d=1..10} p^(d-1)/d * |S_:d ∩ T_:d|.
_RBO_P = 0.9
_RBO_DEPTH = 10


@register(
    "docs_retrieval_rbo",
    f"""
    WITH {_bm25_chain_sql()},
    probes AS (
      SELECT vec_id // 100 AS query_id, vec_id AS probe_id,
             CAST(embedding AS DOUBLE[]) AS pvec
      FROM embeddings WHERE vec_id IN (100, 200, 300)
    ),
    dense AS (
      SELECT p.query_id, c.vec_id AS doc_id,
             ROUND(list_cosine_similarity(p.pvec, CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM probes p JOIN embeddings c ON c.vec_id <> p.probe_id
    ),
    dense10 AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
        FROM dense) WHERE rank <= {_RBO_DEPTH}
    ),
    sparse10 AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank
                 FROM bm_ranked WHERE rank <= {_RBO_DEPTH}),
    booth AS (
      SELECT s.query_id, GREATEST(s.rank, d.rank) AS m
      FROM sparse10 s JOIN dense10 d
        ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    ),
    depths AS (SELECT unnest(range(1, {_RBO_DEPTH} + 1)) AS d),
    rcontrib AS (
      SELECT b.query_id, p.d, COUNT(*) AS xd
      FROM booth b JOIN depths p ON b.m <= p.d
      GROUP BY b.query_id, p.d
    ),
    rbo AS (
      SELECT query_id,
             CAST(SUM(CAST(round({1 - _RBO_P} * power({_RBO_P}, d - 1) / d, 9)
                           AS DECIMAL(18,9)) * xd) AS DOUBLE) AS rbo10
      FROM rcontrib GROUP BY query_id
    ),
    ov AS (SELECT query_id, COUNT(*) AS overlap10 FROM booth GROUP BY query_id)
    SELECT q.query_id, COALESCE(o.overlap10, 0) AS overlap_10,
           round(COALESCE(o.overlap10, 0) / ({2 * _RBO_DEPTH}.0 - COALESCE(o.overlap10, 0)), 6) AS jaccard_10,
           round(COALESCE(r.rbo10, 0.0), 6) AS rbo_10
    FROM (SELECT DISTINCT query_id FROM sparse10) q
    LEFT JOIN ov o USING (query_id) LEFT JOIN rbo r USING (query_id)
    """,
    doc=(
        "Rank-biased overlap (Webber et al. 2010, truncated at depth 10, "
        "p=0.9) between the hybrid's sparse (BM25) and dense (cosine) "
        "top-10 lists, plus plain overlap and Jaccard@10 — the leg-"
        "agreement diagnostic read before trusting fusion weights. "
        "Reuses the EXACT legs docs_hybrid_rrf_search fuses (shared "
        "_bm25_chain_sql chain and the same bounded probe set), so the "
        "measured agreement is the deployed retrieval's. A doc in both "
        "lists enters the intersection at depth max(rank_s, rank_d); "
        "X_d then falls out of a 10-row depth spine join — everything "
        "after the legs touches <= 10 rows per query per leg. Per-depth "
        "RBO terms are rounded to 9 and summed as DECIMAL so the "
        "weighted sum hash-matches across engines."
    ),
)
def docs_retrieval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.pipeline import bm25_scores

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    sparse = bm25_scores(docs, queries, k1=1.25, b=0.75, top_k=_RBO_DEPTH).select(
        F.col("query_id").cast("bigint").alias("query_id"),
        "doc_id",
        F.col("rank").alias("s_rank"),
    )
    probes = emb.filter(F.col("vec_id").isin(100, 200, 300))
    dense = brute_force_topk(emb, probes, k=_RBO_DEPTH).select(
        F.expr("probe_id div 100").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("d_rank"),
    )
    both = sparse.join(dense, ["query_id", "doc_id"]).select(
        "query_id", F.greatest("s_rank", "d_rank").alias("m")
    )
    depths = spark.range(1, _RBO_DEPTH + 1).select(F.col("id").alias("d"))
    contrib = (
        both.join(F.broadcast(depths), F.col("m") <= F.col("d"))
        .groupBy("query_id", "d")
        .agg(F.count("*").alias("xd"))
    )
    term = F.round(
        F.lit(1 - _RBO_P) * F.pow(F.lit(_RBO_P), F.col("d") - 1) / F.col("d"), 9
    ).cast("decimal(18,9)")
    rbo = (
        contrib.select("query_id", (term * F.col("xd")).alias("c"))
        .groupBy("query_id")
        .agg(F.sum("c").cast("double").alias("rbo10"))
    )
    ov = both.groupBy("query_id").agg(F.count("*").alias("overlap10"))
    qids = sparse.select("query_id").distinct()
    ov10 = F.coalesce(F.col("overlap10"), F.lit(0))
    return (
        qids.join(ov, "query_id", "left")
        .join(rbo, "query_id", "left")
        .select(
            "query_id",
            ov10.alias("overlap_10"),
            F.round(ov10 / (F.lit(float(2 * _RBO_DEPTH)) - ov10), 6).alias(
                "jaccard_10"
            ),
            F.round(F.coalesce(F.col("rbo10"), F.lit(0.0)), 6).alias("rbo_10"),
        )
    )


# Packing-efficiency report: the padding-waste study a pipeline owner
# runs BEFORE choosing seq_len for docs_sequence_packing. Greedy
# contiguous packing pads only each shard's final sequence, so the whole
# report derives from per-shard token totals.
_PACK_EFF_LENS = (128, 256, 512, 1024)


@register(
    "docs_packing_efficiency",
    f"""
    WITH t AS (
      SELECT doc_id % {_PACK_SHARDS} AS shard,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    s AS (SELECT shard, CAST(SUM(n_tok) AS BIGINT) AS shard_toks FROM t GROUP BY shard),
    ls AS (SELECT unnest([{", ".join(str(x) for x in _PACK_EFF_LENS)}]) AS seq_len),
    x AS (
      SELECT l.seq_len, s.shard, s.shard_toks,
             (s.shard_toks + l.seq_len - 1) // l.seq_len AS n_seqs
      FROM s CROSS JOIN ls l
    )
    SELECT seq_len, COUNT(*) AS n_shards,
           CAST(SUM(shard_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
           CAST(SUM(n_seqs * seq_len - shard_toks) AS BIGINT) AS pad_tokens,
           round(CAST(SUM(shard_toks) AS DOUBLE) / (SUM(n_seqs) * seq_len), 6) AS efficiency
    FROM x GROUP BY seq_len
    """,
    doc=(
        "Packing-efficiency report across candidate sequence lengths "
        "(128/256/512/1024): sequences produced, padding tokens wasted, "
        "and token efficiency under the same greedy contiguous per-shard "
        "packing docs_sequence_packing emits (same shard hash, same "
        "whitespace token count — the constants are shared so the report "
        "describes the deployed packer). Greedy packing pads only each "
        "shard's LAST sequence, so the entire report derives from the "
        "per-shard token totals: one map-side-combined aggregate to "
        "#shards rows, a 4-row broadcast length spine, and a 16-row "
        "aggregate — nothing downstream of the first aggregate ever "
        "touches corpus-sized data."
    ),
)
def docs_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        token_count(F.col("text")).alias("n_tok"),
    )
    s = t.groupBy("shard").agg(F.sum("n_tok").cast("bigint").alias("shard_toks"))
    ls = spark.createDataFrame(
        [(x,) for x in _PACK_EFF_LENS], "seq_len int"
    )
    x = s.crossJoin(F.broadcast(ls)).select(
        "seq_len",
        "shard",
        "shard_toks",
        F.expr("(shard_toks + seq_len - 1) div seq_len").alias("n_seqs"),
    )
    agg = x.groupBy("seq_len").agg(
        F.count("*").alias("n_shards"),
        F.sum("shard_toks").cast("bigint").alias("total_tokens"),
        F.sum("n_seqs").cast("bigint").alias("n_seqs"),
        F.sum(F.col("n_seqs") * F.col("seq_len") - F.col("shard_toks"))
        .cast("bigint")
        .alias("pad_tokens"),
    )
    return agg.select(
        "seq_len",
        "n_shards",
        "total_tokens",
        "n_seqs",
        "pad_tokens",
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("n_seqs") * F.col("seq_len")),
            6,
        ).alias("efficiency"),
    )


# Vocabulary coverage curve: what fraction of token OCCURRENCES the top-N
# vocabulary entries cover, for candidate vocab sizes — the curve read
# before fixing a tokenizer vocab budget (companion to docs_vocab_topk /
# docs_oov_rate).
_VOCAB_COVERAGE_NS = (10, 100, 1000)


@register(
    "docs_vocab_coverage",
    f"""
    WITH toks AS (
      SELECT lower(term) AS term FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents)
    ),
    counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    ranked AS (
      SELECT term, n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank FROM counts
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
                   COUNT(*) AS vocab_size FROM counts),
    ns AS (SELECT unnest([{", ".join(str(x) for x in _VOCAB_COVERAGE_NS)}]) AS top_n),
    cov AS (
      SELECT ns.top_n,
             CAST(SUM(CASE WHEN r.rank <= ns.top_n THEN r.n ELSE 0 END) AS BIGINT)
               AS covered_tokens
      FROM ranked r CROSS JOIN ns GROUP BY ns.top_n
    )
    SELECT c.top_n, t.vocab_size, c.covered_tokens, t.total_tokens,
           round(CAST(c.covered_tokens AS DOUBLE) / t.total_tokens, 6) AS coverage
    FROM cov c CROSS JOIN tot t
    """,
    doc=(
        "Vocabulary coverage curve: fraction of corpus token occurrences "
        "covered by the top-10/100/1000 most frequent terms (count desc, "
        "term asc ties — docs_vocab_topk's rank rule) plus total vocab "
        "size — the curve a tokenizer owner reads before fixing a vocab "
        "budget. Scale shape: term counts partial-aggregate map-side; "
        "the numerators come ENTIRELY from a TakeOrderedAndProject top-"
        "1000 frame (per-partition heaps + driver merge, the "
        "docs_vocab_topk plan), never a global window over the vocab "
        "table; denominator is a 1-row total attach and the candidate-N "
        "spine is 3 broadcast rows."
    ),
)
def docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("term"))
        .select(F.lower(F.col("term")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    n_max = max(_VOCAB_COVERAGE_NS)
    top = counts.orderBy(F.col("n").desc(), F.col("term")).limit(n_max)
    w = Window.orderBy(F.col("n").desc(), F.col("term"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    ns = spark.createDataFrame([(x,) for x in _VOCAB_COVERAGE_NS], "top_n int")
    cov = (
        ranked.crossJoin(F.broadcast(ns))
        .groupBy("top_n")
        .agg(
            F.sum(F.when(F.col("rank") <= F.col("top_n"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("covered_tokens")
        )
    )
    tot = counts.agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        "top_n",
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        F.round(
            F.col("covered_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("coverage"),
    )


# Hard-negative mining for retriever / metric-learning training (the
# DPR / contrastive-training data op): for each probe in the fixed eval
# panel, the top-5 most-similar corpus vectors carrying a DIFFERENT
# label — the "looks close, is wrong" examples a contrastive loss needs.
# Scores the same bounded probe panel x corpus as embedding_cosine_topk,
# but as a column-expression join with the label inequality folded into
# the join predicate, so unwanted pairs are dropped before the window
# ranks.
@register(
    "embedding_hard_negatives",
    """
    WITH probes AS (SELECT vec_id, embedding, label FROM embeddings
                    WHERE vec_id % 100 = 0 AND vec_id < 20000),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS true_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM probes p JOIN embeddings c
        ON p.vec_id <> c.vec_id AND p.label <> c.label
    )
    SELECT probe_id, true_label, neighbor_id, neighbor_label, sim,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
    doc=(
        "Hard-negative mining for contrastive retriever training: each "
        "fixed-panel probe's top-5 exact-cosine neighbors with a "
        "DIFFERENT label (the highest-similarity wrong answers a "
        "contrastive loss trains against). Same scale posture as "
        "embedding_knn_label_eval: the FIXED 200-slot probe panel keeps "
        "the harness one linear corpus scan at any SF; the label "
        "inequality sits in the join predicate so disqualified pairs "
        "never reach the per-probe ranking window. Production swaps the "
        "panel for the training-query batch and the brute-force leg for "
        "the IVF/LSH candidate chain."
    ),
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cupertino_nvr_spark.llm.similarity import (
        as_double,
        cosine,
        ensure_min_parallelism,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 20000))
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("true_label"),
        as_double(F.col("embedding")).alias("pvec"),
    )
    c = ensure_min_parallelism(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            as_double(F.col("embedding")).alias("cvec"),
        )
    )
    scored = (
        F.broadcast(p)
        .join(
            c,
            (F.col("probe_id") != F.col("neighbor_id"))
            & (F.col("true_label") != F.col("neighbor_label")),
        )
        .select(
            "probe_id",
            "true_label",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine(F.col("pvec"), F.col("cvec")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "probe_id",
            "true_label",
            "neighbor_id",
            "neighbor_label",
            "sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
# the retrieval-diversification op a RAG pipeline runs on its top-k:
# greedily pick the candidate maximizing lambda*relevance -
# (1-lambda)*max-similarity-to-already-picked, so near-duplicate hits
# can't crowd the context window. The greedy recurrence runs over each
# probe's BOUNDED candidate set (10 rows, 90 pair sims), so the whole
# selection is an Arrow-batched kernel over #probes rows; the oracle
# replays all 5 rounds as argmax CTEs.
_MMR_LAMBDA = 0.7
_MMR_K = 5


def mmr_select(
    rel: dict[int, float],
    psim: dict[tuple[int, int], float],
    lam: float = _MMR_LAMBDA,
    k: int = _MMR_K,
) -> list[tuple[int, float, float, int]]:
    """Pure greedy MMR kernel: (id, relevance, mmr_score, rank) rows.

    Argmax of ``lam*rel - (1-lam)*max-sim-to-picked`` each round, strict
    ``>`` over ids in ascending order so ties go to the smallest id —
    the exact recurrence the DuckDB oracle unrolls as CTEs. Module-level
    so the property suite can drive it on arbitrary candidate sets."""
    one_minus = round(1 - lam, 10)
    selected: list[int] = []
    out: list[tuple[int, float, float, int]] = []
    for r in range(1, min(k, len(rel)) + 1):
        best_id, best_score = None, None
        for cid in sorted(rel):
            if cid in selected:
                continue
            if selected:
                ms = max(psim[(cid, s)] for s in selected)
                score = lam * rel[cid] - one_minus * ms
            else:
                score = lam * rel[cid]
            if best_score is None or score > best_score:
                best_id, best_score = cid, score
        selected.append(best_id)
        out.append((best_id, rel[best_id], best_score, r))
    return out


def _mmr_round_sql(r: int) -> str:
    return f"""ms{r} AS (
      SELECT p.probe_id, p.i AS neighbor_id, MAX(p.p) AS ms
      FROM pairs p JOIN prev{r - 1} s
        ON s.probe_id = p.probe_id AND s.neighbor_id = p.j
      GROUP BY 1, 2
    ),
    sc{r} AS (
      SELECT c.probe_id, c.neighbor_id, c.sim,
             {_MMR_LAMBDA} * c.sim - {round(1 - _MMR_LAMBDA, 10)} * m.ms AS score
      FROM cands c
      JOIN ms{r} m ON m.probe_id = c.probe_id AND m.neighbor_id = c.neighbor_id
      LEFT JOIN prev{r - 1} s
        ON s.probe_id = c.probe_id AND s.neighbor_id = c.neighbor_id
      WHERE s.neighbor_id IS NULL
    ),
    sel{r} AS (
      SELECT probe_id, neighbor_id, sim AS relevance, score AS mmr_score,
             {r} AS mmr_rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY score DESC, neighbor_id) AS rn
            FROM sc{r}) WHERE rn = 1
    ),
    prev{r} AS (SELECT * FROM prev{r - 1} UNION ALL SELECT * FROM sel{r})"""


@register(
    "embedding_mmr_rerank",
    f"""
    WITH probes AS (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id % 100 = 0 AND vec_id < 20000),
    scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS sim
      FROM probes p JOIN embeddings c ON p.vec_id <> c.vec_id
    ),
    cands AS (
      SELECT probe_id, neighbor_id, sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY sim DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= 10
    ),
    cv AS (
      SELECT c.probe_id, c.neighbor_id, CAST(e.embedding AS DOUBLE[]) AS v
      FROM cands c JOIN embeddings e ON c.neighbor_id = e.vec_id
    ),
    pairs AS (
      SELECT a.probe_id, a.neighbor_id AS i, b.neighbor_id AS j,
             round(list_cosine_similarity(a.v, b.v), 6) AS p
      FROM cv a JOIN cv b
        ON a.probe_id = b.probe_id AND a.neighbor_id <> b.neighbor_id
    ),
    sel1 AS (
      SELECT probe_id, neighbor_id, sim AS relevance,
             {_MMR_LAMBDA} * sim AS mmr_score, 1 AS mmr_rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY sim DESC, neighbor_id) AS rn
            FROM cands) WHERE rn = 1
    ),
    prev1 AS (SELECT * FROM sel1),
    {", ".join(_mmr_round_sql(r) for r in range(2, _MMR_K + 1))}
    SELECT probe_id, neighbor_id, relevance, mmr_score,
           CAST(mmr_rank AS INT) AS mmr_rank
    FROM prev{_MMR_K}
    """,
    doc=(
        "MMR diversified re-ranking of each fixed-panel probe's cosine "
        "top-10: greedy lambda*rel - (1-lambda)*max-sim-to-picked "
        "selection of 5, ties to the smaller neighbor id. Scale shape: "
        "the corpus contributes the bounded-probe brute-force scoring "
        "scan (the embedding_knn_label_eval posture); candidates and "
        "their 90 pair sims per probe are probe_id equi-joins on "
        "panel-bounded frames, and the greedy recurrence is one "
        "Arrow-batched kernel over #probes rows (inputs pre-rounded to "
        "6 decimals, so both engines argmax identical doubles). "
        "Production swaps the panel for the query batch and the "
        "brute-force leg for the IVF/LSH candidate chain. "
        "panel_saturated_at: sf1 — ids are denser than the vec_id < "
        "20000 bound, so the 200-slot panel only fills at sf1 (20 "
        "probes at sf0.1); the sf0.1 bench constant understates the "
        "per-query cost, whose true saturated number is the sf1 record "
        "(~8 s, measured linear post-saturation: 1.9x for 2x data with "
        "the panel pinned at 200 in both legs)."
    ),
)
def embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.similarity import as_double, cosine

    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 20000))
    cands = brute_force_topk(emb, probes, k=10).select(
        "probe_id", "neighbor_id", "sim"
    )
    vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("v"),
    )
    cv = cands.join(vecs, "neighbor_id").select("probe_id", "neighbor_id", "v")
    a = cv.select(
        "probe_id", F.col("neighbor_id").alias("i"), F.col("v").alias("av")
    )
    b = cv.select(
        "probe_id", F.col("neighbor_id").alias("j"), F.col("v").alias("bv")
    )
    pairs = (
        a.join(b, "probe_id")
        .filter(F.col("i") != F.col("j"))
        .select(
            "probe_id",
            "i",
            "j",
            F.round(cosine(F.col("av"), F.col("bv")), 6).alias("p"),
        )
    )
    per_probe = (
        cands.groupBy("probe_id")
        .agg(
            F.collect_list(
                F.struct(F.col("neighbor_id").alias("id"), F.col("sim").alias("rel"))
            ).alias("cands")
        )
        .join(
            pairs.groupBy("probe_id").agg(
                F.collect_list(F.struct("i", "j", "p")).alias("pairs")
            ),
            "probe_id",
        )
    )
    def _greedy(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                rel = {int(c["id"]): float(c["rel"]) for c in row["cands"]}
                psim = {(int(e["i"]), int(e["j"])): float(e["p"]) for e in row["pairs"]}
                for nid, r, score, rank in mmr_select(rel, psim):
                    out.append((int(row["probe_id"]), nid, r, score, rank))
            yield pd.DataFrame(
                out,
                columns=[
                    "probe_id",
                    "neighbor_id",
                    "relevance",
                    "mmr_score",
                    "mmr_rank",
                ],
            )

    return per_probe.mapInPandas(
        _greedy,
        "probe_id bigint, neighbor_id bigint, relevance double, "
        "mmr_score double, mmr_rank int",
    )


# PMI collocations (Church & Hanks 1990) — the corpus-linguistics op a
# vocab/tokenizer owner runs to find multi-word units worth single
# tokens ("new york"-style): rank adjacent bigrams by pointwise mutual
# information log(p(xy) / (p(x)p(y))), with a minimum-count floor so
# rare-pair noise (PMI's known failure mode) can't top the list.
_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@register(
    "docs_pmi_collocations",
    f"""
    WITH toked AS (SELECT doc_id, {_LTOK_SQL} AS t FROM documents),
    uni AS (
      SELECT unnest(t) AS w FROM toked
    ),
    uf AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    n_tok AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uf),
    bi AS (
      SELECT unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i+1])) AS w2
      FROM toked
    ),
    bf AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
    n_bi AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n FROM bf),
    scored AS (
      SELECT b.w1, b.w2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
             round(ln((b.c_xy * 1.0 / nb.n)
                      / ((u1.c * 1.0 / nt.n) * (u2.c * 1.0 / nt.n))), 6) AS pmi
      FROM bf b
      JOIN uf u1 ON u1.w = b.w1
      JOIN uf u2 ON u2.w = b.w2
      CROSS JOIN n_bi nb CROSS JOIN n_tok nt
      WHERE b.c_xy >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
           CAST(c_x AS BIGINT) AS c_x, CAST(c_y AS BIGINT) AS c_y, pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOP}
    """,
    doc=(
        "Top-20 PMI collocations over adjacent lowercased-token bigrams "
        "with a count>=5 floor (rare-pair PMI noise cannot rank). Scale "
        "shape: unigram and bigram counts are two map-side-combined "
        "shuffles bounded by their vocabularies; scoring is two "
        "term-keyed equi-joins plus two 1-row totals attaches; the "
        "global top-20 plans as TakeOrderedAndProject (per-partition "
        "heaps), never a full sort of the bigram vocabulary."
    ),
)
def docs_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cupertino_nvr_spark.llm.dedup import _shingle_spans

    docs = load_table(spark, "documents", sf_dir)
    toked = docs.select(ws_tokens(F.lower(F.col("text"))).alias("t"))
    tc = F.col("t")
    uf = (
        toked.select(F.explode(tc).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n_tok = uf.agg(F.sum("c").cast("bigint").alias("nt"))
    pairs = F.transform(
        _shingle_spans(F.size(tc), 2),
        lambda i: F.struct(
            F.element_at(tc, i).alias("w1"),
            F.element_at(tc, i + 1).alias("w2"),
        ),
    )
    bf = (
        toked.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    n_bi_src = (
        toked.select(F.explode(pairs).alias("p"))
        .agg(F.count("*").cast("bigint").alias("nb"))
    )
    scored = (
        bf.join(uf.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uf.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_bi_src))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.col("c_x").cast("bigint").alias("c_x"),
            F.col("c_y").cast("bigint").alias("c_y"),
            F.round(
                F.log(
                    (F.col("c_xy") * F.lit(1.0) / F.col("nb"))
                    / (
                        (F.col("c_x") * F.lit(1.0) / F.col("nt"))
                        * (F.col("c_y") * F.lit(1.0) / F.col("nt"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(_PMI_TOP)

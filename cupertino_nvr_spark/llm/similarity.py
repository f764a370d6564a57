"""Similarity search over embedding columns (``array<float>``).

Three top-k families, one kernel each, same contract (probe id -> top-k
neighbor ids with rounded cosine ``sim`` and ``rank``), every one
hash-checked against a DuckDB oracle:

- **Brute-force cosine top-k** (``brute_force_topk``) — the exact
  baseline for a bounded probe panel. The probe matrix rides in the task
  closure (at most ``MAX_PROBES`` rows) and ``mapInPandas`` streams the
  corpus through once: one BLAS matmul per Arrow batch scores it against
  every probe, and a lossless per-batch top-k keeps the ranked rows at
  partitions x probes x k.
- **Random-hyperplane LSH ANN** (``lsh_ann_topk``) — hyperplane sign bits
  (a pure integer formula, so the oracle replays the same bucketing in
  SQL) bucket the corpus in one scan; candidates come from an equi-join
  on bucket id, and only candidates pay the exact cosine. Recall < 1 by
  construction.
- **IVF ANN** (``ivf_ann_topk``) — hash-sampled ~sqrt(n) centroids, one
  ``assign_cells_arrow`` pass assigns members and routes probes, a
  ``cell_id`` equi-join picks the candidates, and only they pay the
  exact cosine.

Every cosine is rounded to ``SIM_DECIMALS`` before it is ranked or
compared, the same ``round(..., 6)`` every oracle applies: matmul, the
column-expression sums and DuckDB's ``list_cosine_similarity`` add in
different orders, and the rounding is what makes the engines agree.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cupertino_nvr_spark.operators.checkpoint import reliable_checkpoint

# Ceiling on the IVF centroid count. The centroid matrix rides to every
# task in the assignment/routing closure (``assign_cells_arrow``), so the
# one PHYSICAL bound on the cell count is a broadcast-sized byte budget — derive the cap from it instead
# of pinning a literal (a fixed 4096 would inflect
# the sqrt(n) cell target into a linear per-cell-membership regime past
# 4096² ≈ 16.7M vectors, and with it the blocking families' Σ|cell|²
# candidate term into n²/4096). At 64-dim float64 centroids the 32 MiB
# comfort budget gives 65536 cells, deferring that inflection to
# 65536² ≈ 4.3B vectors; below the cap, n_cells ~ sqrt(n) balances
# assignment cost (n · n_cells) against candidate cost (n²/n_cells).
# The DuckDB oracle chains interpolate IVF_MAX_CELLS into their stride
# CTE (plans/llm.py::_ivf_params_sql), so both engines read THIS ONE
# definition — the _LSH_ND_PLANES fixed-constant treatment.
IVF_CENT_BUDGET_BYTES = 32 << 20  # conventional broadcast comfort zone
IVF_CENT_BYTES_PER_CELL = 64 * 8  # shipped embeddings: 64 float64 dims
IVF_MAX_CELLS = IVF_CENT_BUDGET_BYTES // IVF_CENT_BYTES_PER_CELL  # 65536

# Decimal places every similarity is rounded to before ranking; the
# oracles hard-code the same round(..., 6).
SIM_DECIMALS = 6

# Hard ceiling on a driver-collected side that rides in a task closure
# (``brute_force_topk``'s probes, ``assign_cells_arrow``'s centroids).
# It reaches every executor exactly like a broadcast hash side — 65536 ×
# 64-dim float64 ≈ 32 MiB, the conventional broadcast comfort zone. A
# caller passing an unbounded frame (e.g. probes=corpus) fails fast on
# the driver instead of OOMing it mid-collect.
MAX_PROBES = 65536


_PROBE_HINT = (
    "brute_force_topk collects probes to the driver (closure capture). Pass "
    "a bounded retrieval batch, or use the index paths (lsh_ann_topk / "
    "ivf_ann_topk) for probe sets at corpus scale."
)


def _collect_bounded(
    frame: DataFrame,
    max_rows: int | None = None,
    cap: str = "MAX_PROBES",
    hint: str = _PROBE_HINT,
) -> list:
    """Collect a driver-side frame under a row cap, in one action.

    ``limit(max+1).collect()`` touches at most max+1 rows — it never scans
    the full frame — and doubles as the guard: more than ``max_rows`` rows
    back means the caller passed an unbounded frame (e.g. probes=corpus),
    which must fail fast, naming the ``cap`` constant, instead of OOMing
    the driver. Under the cap, limit(max+1) returns every row, so the
    collected set is complete. ``max_rows`` defaults to ``MAX_PROBES``,
    read at call time so tests can lower it.
    """
    if max_rows is None:
        max_rows = MAX_PROBES
    rows = frame.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(f"more than {cap}={max_rows} rows to collect; {hint}")
    return rows


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right IEEE sum — matches a scalar loop."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm side yields NULL instead of raising
    # DIVIDE_BY_ZERO under Spark 4's default ANSI mode. The shipped
    # embeddings have no zero vectors (oracle parity unaffected), but a
    # sparse real corpus can produce an all-zero SUBVECTOR slice in the
    # PQ path even when the full vector is nonzero.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def as_double(a: Column) -> Column:
    return a.cast("array<double>")


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition IFF the input has fewer partitions than the
    cluster's default parallelism.

    Higher-order-function expressions (zip_with/aggregate lambdas) are
    interpreted, not codegen'd, so a vector-scoring scan is CPU-bound and
    its wall-clock is partitions-limited: a small parquet file arrives as
    ONE split and the whole scan runs on one core (measured 4x slowdown at
    sf0.1). At 100 TB the scan arrives pre-split by maxPartitionBytes and
    this is a no-op — the guard keeps the big-data path shuffle-free.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def ivf_stride(n_rows: int, max_cells: int = IVF_MAX_CELLS) -> int:
    """Sampling stride giving ~min(sqrt(n), max_cells) centroids.

    Pure integer arithmetic (isqrt + floor-div) so the DuckDB oracle can
    reproduce it exactly with FLOOR(SQRT(..)) / integer division."""
    target = max(1, min(math.isqrt(max(n_rows, 0)), max_cells))
    return max(1, n_rows // target)


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    max_cells: int = IVF_MAX_CELLS,
    n_rows: int | None = None,
) -> DataFrame:
    """Deterministic hash-sampled centroid set, |C| ≈ min(sqrt(n), max_cells).

    Replaces the earlier fixed id-stride (``vec_id % 37``), whose cell count
    grew LINEARLY with the corpus — an unbounded broadcast and O(n²/37)
    assignment cost. Sampling on a hash of the id (not the id itself) keeps
    the rate uniform for arbitrary/sparse id spaces; the stride is derived
    from the corpus size, so the broadcast side and per-row scoring cost
    stay bounded at any scale. One counting pass when ``n_rows`` is not
    supplied — at index-build time that scan is amortized by the build
    itself. A real k-means iteration would refine these seeds in place; the
    index structure (cells, routing, candidate equi-join) is what scales.
    """
    from cupertino_nvr_spark.llm.dedup import md5_int

    n = corpus.count() if n_rows is None else n_rows
    stride = ivf_stride(n, max_cells)
    return corpus.filter(
        F.pmod(md5_int(F.col(id_col).cast("string")), F.lit(stride)) == 0
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: weight of dimension d is a
    triangle-mapped hash of (plane, d) in [-1, 1]. Pure function — every
    executor and every run derives the identical planes, no driver state."""
    weights = []
    for d in range(dim):
        h = (plane * 1_000_003 + d * 7919 + 12345) % 2003
        weights.append(h / 1001.0 - 1.0)
    return weights


def lsh_projections(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Array of the ``n_planes`` hyperplane projections of ``vec``."""
    projs = []
    for p in range(n_planes):
        w = _hyperplane(dim, p)
        projs.append(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(x) for x in w]),
                    lambda v, wt: v * wt,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    return F.array(*projs)


def _bucket_from_projections(projs: Column, n_planes: int) -> Column:
    bucket = None
    for p in range(n_planes):
        bit = F.when(projs[p] >= 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-bit bucket id from ``n_planes`` fixed hyperplanes."""
    return _bucket_from_projections(lsh_projections(vec, dim, n_planes), n_planes)


def lsh_probe_buckets(vec: Column, dim: int, n_planes: int = 8, n_flip: int = 2) -> Column:
    """Multi-probe bucket set: the base bucket plus ``n_flip`` neighbors.

    A near-duplicate lands in a different bucket exactly when one of its
    projections crosses zero — overwhelmingly the plane where |projection|
    is smallest (the least confident sign bit). Probing the buckets that
    flip the ``n_flip`` weakest bits recovers most of those misses for
    (1 + n_flip)× probe-side candidate cost and ZERO extra corpus-side
    work — the standard multi-probe LSH trade (probe more, hash less).
    Ties in |projection| break on plane index so the probe set is
    deterministic. Returns an array of 1 + n_flip bucket ids.
    """
    projs = lsh_projections(vec, dim, n_planes)
    base = _bucket_from_projections(projs, n_planes)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(projs[p]).alias("a"), F.lit(p).alias("plane")
                )
                for p in range(n_planes)
            ]
        )
    )  # structs sort lexicographically: weakest |projection| first
    powers = F.array(*[F.lit(1 << p) for p in range(n_planes)])
    flips = F.transform(
        F.slice(ranked, 1, n_flip),
        lambda s: base.bitwiseXOR(F.element_at(powers, s["plane"] + 1)).cast("int"),
    )
    return F.concat(F.array(base), flips)


def lsh_ann_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 8,
    n_flip: int = 0,
) -> DataFrame:
    """Approximate top-k: bucket both sides, equi-join on bucket, exact
    rerank within candidates. One corpus scan + hash join vs the brute
    force cross product.

    ``n_flip > 0`` enables multi-probe: each probe also searches the
    buckets reached by flipping its ``n_flip`` least-confident sign bits
    (``lsh_probe_buckets``) — recall rises at (1+n_flip)× probe-side
    candidate cost while the corpus is still bucketed exactly once. A
    (probe, neighbor) pair can't duplicate: the corpus doc has one bucket
    and the probe's bucket set is distinct by construction.
    """
    c = ensure_min_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cvec"),
        )
    ).withColumn("bucket", lsh_bucket(F.col("cvec"), dim, n_planes))
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        as_double(F.col(vec_col)).alias("pvec"),
    )
    if n_flip > 0:
        p = p.withColumn(
            "bucket", F.explode(lsh_probe_buckets(F.col("pvec"), dim, n_planes, n_flip))
        )
    else:
        p = p.withColumn("bucket", lsh_bucket(F.col("pvec"), dim, n_planes))
    cand = F.broadcast(p).join(c, on="bucket").filter(
        F.col("probe_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "probe_id",
        "neighbor_id",
        F.round(cosine(F.col("pvec"), F.col("cvec")), SIM_DECIMALS).alias("sim"),
    )
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k (probe_id, neighbor_id, sim, rank) per probe by (sim desc,
    neighbor_id asc) — the order every top-k oracle ranks by."""
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "sim", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe (excluding itself).

    The probe side is collected once at plan build (at most
    ``MAX_PROBES`` rows, the same rows a broadcast join would ship) and
    rides to the executors in the task closure; ``mapInPandas`` streams
    the corpus through ONCE — each vector crosses Arrow a single time and
    one (batch × dim)·(dim × P) matmul scores it against every probe. No
    probe × corpus row is ever materialized.

    Similarity is rounded to ``SIM_DECIMALS`` before ranking so ordering
    is reproducible across engines; ties break on neighbor id. Per batch
    only the top-k per probe survive, selected under that exact order —
    a total order, so the per-batch prune is lossless and the final
    window ranks batches·P·k rows instead of N·P.
    """
    import numpy as np
    import pandas as pd

    schema = "probe_id long, neighbor_id long, sim double"
    rows = _collect_bounded(
        probes.select(
            F.col(id_col).alias("pid"), as_double(F.col(vec_col)).alias("pvec")
        )
    )
    if not rows:
        return corpus.sparkSession.createDataFrame([], schema + ", rank int")
    pids = np.array([r["pid"] for r in rows], dtype=np.int64)
    pmat = np.array([list(r["pvec"]) for r in rows], dtype=np.float64)
    pnorm = np.linalg.norm(pmat, axis=1)

    c = ensure_min_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cvec")
        )
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nbr = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cmat = np.array([list(v) for v in pdf["cvec"]], dtype=np.float64)
            sims = np.round(
                (cmat @ pmat.T)
                / (np.linalg.norm(cmat, axis=1)[:, None] * pnorm[None, :]),
                SIM_DECIMALS,
            )
            sims[nbr[:, None] == pids[None, :]] = -np.inf  # self-pairs out
            m = min(k, sims.shape[0])
            frames = []
            for j in range(len(pids)):
                top = np.lexsort((nbr, -sims[:, j]))[:m]
                top = top[np.isfinite(sims[top, j])]
                frames.append(
                    pd.DataFrame(
                        {
                            "probe_id": np.full(len(top), pids[j], dtype=np.int64),
                            "neighbor_id": nbr[top],
                            "sim": sims[top, j],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return _rank_topk(c.mapInPandas(score, schema), k)


def assign_cells_arrow(
    vecs: DataFrame,
    cent: DataFrame,
    n_top: int,
    keep_vec: bool = True,
    rank_col: str | None = None,
    id_name: str = "member_id",
    vec_name: str = "mvec",
) -> DataFrame:
    """THE IVF cell assignment: top-``n_top`` cells per vector by
    (rounded cosine desc, cell_id asc), computed as ONE ``mapInPandas``
    pass over the corpus with the centroid matrix in the task closure
    (guide §4.2/§4.5 — heavy state built once per task, whole batches
    scored by BLAS matmul). No n x |C| row materialization, no exchange,
    no window: the decision never leaves the scan stage. Every IVF
    consumer assigns through here — ``ivf_assign`` (n_top=1), the probe
    routing of ``ivf_route_candidates`` (n_top=n_probe, ``rank_col``)
    and ``dedup.embedding_cell_members`` (multi-probe membership).

    Centroids are driver-collected at plan build under the
    ``MAX_PROBES`` closure budget (``brute_force_topk`` carries its
    probes the same way), sorted by cell_id so numpy's
    first-max / stable-sort tie-breaks reproduce the oracle's (sim
    desc, cell_id asc) window order; a non-finite cosine (zero-norm
    vector) maps to -2.0, below the cosine range, i.e. NULLS LAST.
    Matmul sums in a different order from DuckDB's
    ``list_cosine_similarity``; the ``SIM_DECIMALS`` rounding is what
    makes the two engines pick the same cells.
    """
    import numpy as np
    import pandas as pd

    rows = _collect_bounded(cent)
    rows.sort(key=lambda r: r["cell_id"])
    spark = vecs.sparkSession
    parts = [f"{id_name} {vecs.schema[id_name].dataType.simpleString()}"]
    if keep_vec:
        parts.append(f"{vec_name} array<double>")
    parts.append(f"cell_id {cent.schema['cell_id'].dataType.simpleString()}")
    if rank_col:
        parts.append(f"{rank_col} int")
    schema = ", ".join(parts)
    if not rows:
        return spark.createDataFrame([], schema)
    cids = np.asarray([r["cell_id"] for r in rows], dtype=np.int64)
    cmat = np.asarray([list(r["centvec"]) for r in rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    k = min(n_top, len(cids))

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vmat = np.array([list(v) for v in pdf[vec_name]], dtype=np.float64)
            vnorm = np.linalg.norm(vmat, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.round(
                    vmat @ cmat.T / (vnorm[:, None] * cnorm[None, :]),
                    SIM_DECIMALS,
                )
            sims[~np.isfinite(sims)] = -2.0
            if k == 1:
                # first max = lowest cell id (cids sorted ascending)
                pick = np.argmax(sims, axis=1)[:, None]
            else:
                # stable: equal sims keep ascending-cell_id column order
                pick = np.argsort(-sims, axis=1, kind="stable")[:, :k]
            out = {id_name: np.repeat(pdf[id_name].to_numpy(), k)}
            if keep_vec:
                out[vec_name] = np.repeat(pdf[vec_name].to_numpy(), k)
            out["cell_id"] = cids[pick].ravel()
            if rank_col:
                out[rank_col] = np.tile(np.arange(1, k + 1, dtype=np.int32), n)
            yield pd.DataFrame(out)

    return vecs.select(id_name, vec_name).mapInPandas(assign, schema)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest centroid (IVF cell):
    (member_id[, mvec], cell_id).

    One ``assign_cells_arrow`` pass (n_top=1): a linear scan with the
    centroid matrix (bounded by construction when it comes from
    ``ivf_centroids``, |C| ≈ min(sqrt(n), IVF_MAX_CELLS)) in the task
    closure, argmax tie-broken by centroid id so Spark and the SQL
    oracle agree, zero exchanges. ``keep_vec=True`` also returns
    ``mvec`` — free here, and it saves the caller a corpus re-join
    (``ivf_route_candidates``).
    """
    cent = centroids.select(
        F.col(id_col).alias("cell_id"), as_double(F.col(vec_col)).alias("centvec")
    )
    vecs = ensure_min_parallelism(
        corpus.select(
            F.col(id_col).alias("member_id"), as_double(F.col(vec_col)).alias("mvec")
        )
    )
    return assign_cells_arrow(
        vecs, cent, n_top=1, keep_vec=keep_vec
    )


def ivf_route_candidates(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    max_cells: int = IVF_MAX_CELLS,
) -> DataFrame:
    """THE IVF routing stage — (probe_id, pvec, member_id, mvec, crank).

    Shared by ``ivf_ann_topk`` (full-precision rerank), the IVF+PQ serving
    path (``embedding_ivf_pq_ann``, which drops ``mvec`` so column pruning
    never ships member vectors to the ADC scorer), and the nprobe tuning
    profile (``embedding_ivf_probe_profile``, which keeps ``crank`` so one
    routed frame serves every candidate-budget configuration at once) —
    one definition, so index structure cannot drift between the serving
    paths and the profile that tunes them. ``crank`` is the probe-side
    routing rank of the cell the candidate was found in (1 = nearest
    cell); a member reachable through several probed cells appears once
    per cell, so consumers dedup by pair (``ivf_ann_topk``'s distinct) or
    aggregate ``MIN(crank)`` (the profile).

    Centroids are hash-sampled and sqrt(n)-capped (``ivf_centroids``), so
    the routing closure is bounded at any corpus size; probes take their
    top-``n_probe`` cells in one ``assign_cells_arrow`` pass (``crank`` =
    stable-sort position, the oracle window's exact order), and
    candidates come from a cell_id equi-join — cost n_probe/n_cells of
    brute force.
    """
    centroids = ivf_centroids(corpus, id_col, max_cells)
    # keep_vec: the assignment row already carries the member vector, so
    # the old corpus re-join (a full extra shuffle of the vectors) is gone
    members = ivf_assign(corpus, centroids, id_col, vec_col, keep_vec=True)

    cent = centroids.select(
        F.col(id_col).alias("cell_id"), as_double(F.col(vec_col)).alias("centvec")
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"), as_double(F.col(vec_col)).alias("pvec")
    )
    routed = assign_cells_arrow(
        p,
        cent,
        n_top=n_probe,
        keep_vec=True,
        rank_col="crank",
        id_name="probe_id",
        vec_name="pvec",
    )
    return (
        routed.join(members, "cell_id")
        .filter(F.col("probe_id") != F.col("member_id"))
        .select("probe_id", "pvec", "member_id", "mvec", "crank")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    max_cells: int = IVF_MAX_CELLS,
) -> DataFrame:
    """IVF-style ANN: the second scale path next to LSH bucketing.

    Deterministic "training": centroids are a hash-sampled
    ~min(sqrt(n), max_cells) subset of the corpus (``ivf_centroids``; a
    k-means iteration would drop in here — the index structure: cells,
    routing, candidate equi-join, is what scales, and it is fully
    SQL-expressible so the oracle can hash-check it). Per probe, the ``n_probe`` nearest cells are searched
    exactly; candidates come from the shared ``ivf_route_candidates``
    routing stage, so cost is n_probe/n_cells of brute force.
    """
    cand = ivf_route_candidates(corpus, probes, id_col, vec_col, n_probe, max_cells)
    scored = cand.select(
        "probe_id",
        F.col("member_id").alias("neighbor_id"),
        F.round(cosine(F.col("pvec"), F.col("mvec")), SIM_DECIMALS).alias("sim"),
    ).distinct()  # a neighbor reachable via both probed cells counts once
    return _rank_topk(scored, k)


def kmeans_refine(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    max_cells: int = IVF_MAX_CELLS,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over cosine assignment, seeded by the IVF
    hash-sampled centroids — the refinement step the IVF docstrings point
    at. Returns (assignments, centroids) after ``iterations`` rounds.

    Each round is the two canonical distributed steps:

    - **assign**: ``ivf_assign`` — argmax rounded cosine per vector in
      one linear scan, centroids in the task closure, no shuffle;
    - **recompute**: member vectors exploded to (cell, dim, value) and
      averaged — ONE (cell, dim)-keyed aggregation with map-side combine
      (k x dim result rows), then re-collected into ordered arrays.

    Per-dim means are fixed-point (sum as DECIMAL, round 9) so the new
    centroid arrays — and therefore every later assignment — are
    bit-identical across engines and partitionings, which is what lets a
    multi-round iterative result carry a SQL hash oracle at all.
    Centroid count is bounded by ``ivf_centroids``' stride rule, so the
    closure-carried centroid matrix stays capped at any corpus size. Empty cells simply
    disappear (no members → no recomputed centroid), matching standard
    Lloyd behavior.
    """
    vecs = corpus.select(
        F.col(id_col).alias("member_id"), as_double(F.col(vec_col)).alias("mvec")
    )
    cents = ivf_centroids(corpus, id_col, max_cells).select(
        F.col(id_col).alias("cell_id"), as_double(F.col(vec_col)).alias("centvec")
    )
    def _assign(c: DataFrame) -> DataFrame:
        # ivf_assign reads the SAME (id, vec) column names off both
        # frames, so present the centroids under the corpus naming
        named = c.select(
            F.col("cell_id").alias("member_id"), F.col("centvec").alias("mvec")
        )
        return ivf_assign(vecs, named, id_col="member_id", vec_col="mvec")

    for _ in range(iterations):
        assign = _assign(cents)
        dims = (
            assign.join(vecs, "member_id")
            .select("cell_id", F.posexplode("mvec").alias("pos", "v"))
            .groupBy("cell_id", "pos")
            .agg(
                F.round(
                    F.sum(F.round(F.col("v"), 9).cast("decimal(24,9)")).cast(
                        "double"
                    )
                    / F.count("*"),
                    9,
                ).alias("m")
            )
        )
        # k x dim rows: materialize per round so the next assignment's
        # plan doesn't replay the whole prior chain (the PageRank rule)
        cents = reliable_checkpoint(
            dims.groupBy("cell_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centvec")
            )
        )
    return _assign(cents), cents


def margin_scored_pairs(
    pairs: DataFrame,
    k: int = 4,
    threshold_ppm: int = 1_050_000,
    cand_cap: int | None = None,
    include_rank: bool = False,
) -> DataFrame:
    """Ratio-margin scoring over a candidate-pair stream (Artetxe &
    Schwenk 2019, "Margin-based Parallel Corpus Mining with Multilingual
    Sentence Embeddings"): raw cosine over-selects pairs involving HUB
    vectors (dense-neighborhood points similar to everything), so each
    pair's similarity is normalized by the mean of its endpoints'
    top-``k`` candidate similarities —
    ``margin(x, y) = cos(x, y) / ((avg_k(x) + avg_k(y)) / 2)``.

    ``pairs`` is (id_a, id_b, sim) with id_a < id_b and sim rounded to 6
    decimals (the contract of ``llm.dedup.embedding_neardup_pairs``);
    avg_k runs over each endpoint's candidate list (both directions of
    the pair stream), using however many candidates exist below ``k``.
    The margin rides EXACT INTEGER arithmetic so the score hash-matches
    any engine: sims become ppm integers (sim6 = round(sim * 1e6) —
    exact, sim is already 6-decimal), per-endpoint stats are integer
    sums/counts, and with S = sum of top-k sim6 and c = their count,
    ``margin_ppm = (2 * sim6 * c_a * c_b * 1e6) DIV (S_a*c_b + S_b*c_a)``
    — truncating integer division of positive operands in both engines.
    Pairs with non-positive sim or denominator are not mining candidates
    and are dropped.

    **Per-endpoint candidate cap** (``cand_cap``, the chain's one scale
    hazard without it): only pairs inside at least one endpoint's
    ``cand_cap`` best candidates (by sim6 desc, neighbor id — the same
    deterministic rank the top-k stats use) are scored. Under
    sqrt(n)-cell IVF blocking the raw candidate volume grows ~n^1.5, and
    before r12 every one of those pairs was checkpointed and equi-joined
    twice (measured 7.1x for 10x data at sf1); the margin of a pair
    ranked below ``cand_cap`` for BOTH endpoints is bounded by its
    endpoints' far-stronger top-k means, so it can never contend for a
    mining shortlist. The rank prunes everything past the cap BEFORE any
    materialization: the only full-volume ops left are the blocking
    chain's own distinct and one window sort; the checkpoint, both stats
    joins, and the final global ordering all run on <= cand_cap * n
    rows. Same recall-for-boundedness shape as the MinHash/simhash
    hot-band caps; the capped definition itself is pinned by a Python
    recompute in tests/test_similarity_kernels.py. The DEFAULT is
    ``cand_cap=None`` — score every candidate pair, the library
    function's original documented semantics (a silent default cap
    would change results under callers that relied on the
    uncapped definition); every registered consumer opts into its cap
    explicitly (the declared queries pass cand_cap=32/64).

    Output: (id_a, id_b, sim, margin_ppm, is_confident
    [margin_ppm >= threshold_ppm]) for every surviving candidate pair;
    with ``include_rank`` also ``pair_rank`` (the pair's BEST endpoint
    rank — a pair survives cap C exactly when pair_rank <= C, which is
    what the cap-tuning profile sweeps).
    Scale: one explode-based symmetric pass over the pair stream (the
    upstream blocking chain executes ONCE — no self-union), one
    per-endpoint window, then cap-bounded checkpoint + stats joins.
    """
    if cand_cap is not None and cand_cap < k:
        raise ValueError(
            f"cand_cap={cand_cap} < k={k}: the top-k stats are taken from "
            "the capped candidate list, so the cap must keep at least k "
            "rows per endpoint"
        )
    sim6 = F.round(F.col("sim") * 1000000).cast("long")
    # symmetric expansion via explode, NOT union: a union would consume
    # the (lazy) blocking chain twice, re-executing it per leg
    sym = (
        pairs.select("id_a", "id_b", "sim", sim6.alias("sim6"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("x"),
                        F.col("id_b").alias("n"),
                        F.col("sim").alias("sim"),
                        F.col("sim6").alias("sim6"),
                    ),
                    F.struct(
                        F.col("id_b").alias("x"),
                        F.col("id_a").alias("n"),
                        F.col("sim").alias("sim"),
                        F.col("sim6").alias("sim6"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
    )
    w = Window.partitionBy("x").orderBy(F.col("sim6").desc(), F.col("n"))
    ranked = sym.withColumn("r", F.row_number().over(w))
    if cand_cap is not None:
        ranked = ranked.filter(F.col("r") <= cand_cap)
    # the capped frame feeds THREE consumers (stats + the pair rebuild +
    # the scored join) — materialize it once or the blocking chain
    # re-executes per consumer; post-cap it holds <= cand_cap * n rows
    ranked = reliable_checkpoint(ranked)
    stats = (
        ranked.filter(F.col("r") <= k)
        .groupBy("x")
        .agg(F.sum("sim6").alias("s"), F.count("*").alias("c"))
    )
    # rebuild the undirected pair set from the surviving directed rows: a
    # pair inside both endpoints' caps appears twice — collapse to one,
    # keeping the pair's BEST endpoint rank when the caller profiles the
    # cap (min over the <=2 directed rows; "pair survives cap C" is
    # exactly pair_rank <= C, which is what the cap profile sweeps)
    p6 = (
        ranked.select(
            F.least("x", "n").alias("id_a"),
            F.greatest("x", "n").alias("id_b"),
            "sim",
            "sim6",
            "r",
        )
        .groupBy("id_a", "id_b", "sim", "sim6")
        .agg(F.min("r").alias("pair_rank"))
    )
    if not include_rank:
        p6 = p6.drop("pair_rank")
    scored = p6.join(
        stats.select(
            F.col("x").alias("id_a"), F.col("s").alias("s_a"), F.col("c").alias("c_a")
        ),
        "id_a",
    ).join(
        stats.select(
            F.col("x").alias("id_b"), F.col("s").alias("s_b"), F.col("c").alias("c_b")
        ),
        "id_b",
    )
    den = F.col("s_a") * F.col("c_b") + F.col("s_b") * F.col("c_a")
    num = F.lit(2) * F.col("sim6") * F.col("c_a") * F.col("c_b") * F.lit(1000000)
    extra = ["pair_rank"] if include_rank else []
    return (
        scored.filter((F.col("sim6") > 0) & (den > 0))
        .select(
            "id_a",
            "id_b",
            "sim",
            num.alias("_n"),
            den.alias("_d"),
            *extra,
        )
        .select(
            "id_a",
            "id_b",
            "sim",
            F.expr("_n DIV _d").alias("margin_ppm"),
            *extra,
        )
        .select(
            "id_a",
            "id_b",
            "sim",
            "margin_ppm",
            (F.col("margin_ppm") >= threshold_ppm).alias("is_confident"),
            *extra,
        )
    )

"""The budget-derived IVF cell cap, exercised in a BINDING regime.

At every shipped scale sqrt(n) <= 161 << IVF_MAX_CELLS = 65536, so the
budget derivation is result-neutral there but the budget BRANCH
(max_cells=None -> the module constant) never actually capped anything;
only the forced-cap arms of the cell-budget profile did. These pins run
the blocking chain on a synthetic corpus (generated, not shipped) with
the budget constant patched small enough to bind (sqrt(400) = 20 > 6),
asserting that the budget path produces the capped cell count, behaves
identically to an explicit forced cap of the same size, and inflates
the candidate volume exactly as the sum(|cell|^2) model predicts — the
n^2/cap regime the production budget defers to ~4.3B vectors.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import cupertino_nvr_spark.llm.similarity as sim
from cupertino_nvr_spark.llm.dedup import (
    embedding_candidate_ids,
    embedding_cell_members,
)
from cupertino_nvr_spark.llm.similarity import ivf_stride

N = 400
DIM = 4
SMALL_BUDGET = 6


def _corpus(spark):
    """Deterministic synthetic vectors: 400 rows, 4 dims, values from a
    pure integer formula so every run builds the identical corpus."""
    dims = [
        (((F.col("vec_id") * 7 + j * 13) % 97) / F.lit(97.0)).cast("double")
        for j in range(DIM)
    ]
    return spark.range(N).select(
        F.col("id").alias("vec_id"), F.array(*dims).alias("embedding")
    )


def test_stride_math_binds_at_the_cap():
    """Pure arithmetic: below the cap the stride targets sqrt(n); at a
    binding cap it targets the cap itself."""
    assert ivf_stride(N) == N // 20  # natural sqrt(400) = 20 cells
    assert ivf_stride(N, SMALL_BUDGET) == N // SMALL_BUDGET
    # the shipped budget never binds at any shipped scale
    assert ivf_stride(26_230) == 26_230 // 161  # sf1 aug corpus size
    # ... and binds exactly at the documented ~4.3B-vector inflection
    assert ivf_stride(sim.IVF_MAX_CELLS**2 + 1, sim.IVF_MAX_CELLS) == (
        (sim.IVF_MAX_CELLS**2 + 1) // sim.IVF_MAX_CELLS
    )


def test_budget_path_binds_and_equals_forced_cap(spark, monkeypatch):
    """With the budget constant patched below sqrt(n), the DEFAULT
    (max_cells=None) chain must flow the budget into the stride: cell
    count capped (strictly fewer sampled centroids than the natural
    sqrt(n) build) and the candidate SET byte-identical to an explicit
    forced cap of the same size — proving the budget branch is the same
    code path the profile's forced arms measure, not a lookalike."""
    corpus = _corpus(spark)
    natural_cells = (
        embedding_cell_members(corpus, n_rows=N)
        .select("cell_id")
        .distinct()
        .count()
    )
    natural_cands = embedding_candidate_ids(corpus, n_rows=N).count()
    forced = sorted(
        (r.id_a, r.id_b)
        for r in embedding_candidate_ids(
            corpus, max_cells=SMALL_BUDGET, n_rows=N
        ).collect()
    )

    monkeypatch.setattr(sim, "IVF_MAX_CELLS", SMALL_BUDGET)
    budget_cells = (
        embedding_cell_members(corpus, n_rows=N)
        .select("cell_id")
        .distinct()
        .count()
    )
    budget_cands = sorted(
        (r.id_a, r.id_b)
        for r in embedding_candidate_ids(corpus, n_rows=N).collect()
    )

    # the budget binds: strictly coarser than the natural sqrt(n) build
    assert budget_cells < natural_cells
    assert budget_cells <= SMALL_BUDGET
    # the budget path IS the forced-cap path at the same size
    assert budget_cands == forced
    # cost axis: the binding cap inflates the sum(|cell|^2) term
    assert len(budget_cands) > natural_cands
    assert natural_cands > 0

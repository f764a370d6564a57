"""Semantics pins for two definition changes, beyond the oracle hash gate
(which proves engine parity, not intent):

- docs_classifier_calibration's explicit underflow/overflow bins (a
  form that clamped out-of-range mass into edge bins 0/19, whose labels
  still claimed 0.01 width, let an edge bin's mean sit outside its own
  [bin_lo, bin_hi) bounds); bin assignment runs on the fixed-point kp6
  integer (the float expression put keep_prob exactly 0.60 in bin 19
  and a doc within 5e-7 below an edge in the lower bin while its kp6
  counted toward the upper), so the bin rule and the kp6-based mean
  agree by construction.
- embedding_ivf_cell_budget_profile's axes: candidate volume must GROW
  as the forced cap squeezes the production blocking into fewer cells,
  while the production near-dup pairs stay co-located.
"""

from __future__ import annotations

import pytest

from cupertino_nvr_spark.llm.similarity import IVF_MAX_CELLS
from cupertino_nvr_spark.plans import REGISTRY

SF01 = "/root/testdata/sf0.1"
SF = "/root/testdata/sf0.001"


def test_calibration_bins_are_honest(spark):
    """Every labeled bin's fixed-point mean must sit inside its own
    declared bounds; out-of-range mass lands in open-ended bins -1/20
    whose open side is NULL, never folded into a mislabeled edge bin.
    sf0.1 is the smallest shipped scale where the overflow bin is
    non-empty (kp6 >= 600000 exists), so the contract is exercised, not
    just vacuously true. Bounds carry a 5e-7 slack on the OPEN side
    only: mean_keep_prob is ROUND(sum(kp6)/n/1e6, 6), and rounding a
    true mean within half an ulp-of-6-decimals of the boundary can land
    exactly on it, so a strict < on the underflow mean would be
    brittle; the slack replaces it."""
    rows = (
        REGISTRY["docs_classifier_calibration"].spark(spark, SF01).collect()
    )
    by_bin = {r.bin: r for r in rows}
    assert 20 in by_bin, "sf0.1 must exercise the overflow bin"
    for r in rows:
        assert -1 <= r.bin <= 20
        if r.bin == -1:
            # underflow: every member has kp6 < 400000, so the true mean
            # is strictly below 0.40 and the rounded mean at most 0.40
            assert r.bin_lo is None and r.bin_hi == pytest.approx(0.40)
            assert r.mean_keep_prob <= 0.40 + 1e-9
        elif r.bin == 20:
            # overflow: every member has kp6 >= 600000, so the mean
            # (rounded or not) cannot fall below 0.60
            assert r.bin_hi is None and r.bin_lo == pytest.approx(0.60)
            assert r.mean_keep_prob >= 0.60 - 1e-9
        else:
            # the r12 failure mode: an edge bin whose mean escapes its
            # own labeled width
            assert r.bin_lo is not None and r.bin_hi is not None
            assert r.bin_lo - 1e-9 <= r.mean_keep_prob < r.bin_hi + 1e-9


def test_cell_budget_profile_axes(spark):
    """The profile's reason to exist: a binding cap must INFLATE the
    candidate volume (the sum(|cell|^2) term) monotonically as cells
    shrink, and the production row must sit at recall 1.0 with every
    production pair co-located under every coarser setting too (bigger
    cells merge neighborhoods, never split them apart on this corpus).
    The production label is the IMPORTED budget constant (a hardcoded
    65536 would silently diverge from a budget re-derivation)."""
    rows = {
        r.max_cells: r
        for r in REGISTRY["embedding_ivf_cell_budget_profile"]
        .spark(spark, SF)
        .collect()
    }
    assert set(rows) == {8, 16, 32, IVF_MAX_CELLS}
    prod = rows[IVF_MAX_CELLS]
    assert prod.recall_vs_default == pytest.approx(1.0)
    assert prod.n_base_hit > 0
    # cost axis: fewer cells -> more candidates (strict where the cap binds)
    assert rows[8].n_candidates > rows[16].n_candidates
    assert rows[16].n_candidates >= rows[32].n_candidates
    assert rows[8].n_cells < rows[16].n_cells <= rows[32].n_cells
    # quality axis on this corpus: production pairs survive coarser blocking
    for cap in (8, 16, 32):
        assert rows[cap].n_base_hit == prod.n_base_hit

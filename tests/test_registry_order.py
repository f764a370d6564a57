"""Pins the registry's order: the flagship query leads.

entry() runs asof_ttl_overlay, and the declared query list is an ordered
view over REGISTRY, so both must start with it.
"""

from __future__ import annotations

from cupertino_nvr_spark.plans import REGISTRY, all_queries

FLAGSHIP = "asof_ttl_overlay"


def test_flagship_registers_first():
    assert next(iter(all_queries())) == FLAGSHIP


def test_registry_itself_keeps_registration_order():
    """all_queries() is an ordered view, not an in-place REGISTRY
    mutation: the flagship module registers first, so REGISTRY's own first
    key must still be the flagship and REGISTRY must contain every
    declared name."""
    assert set(all_queries()) <= set(REGISTRY)
    assert next(iter(REGISTRY)) == FLAGSHIP

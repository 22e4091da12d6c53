"""Registration guard for the r10 promotion registrations
(queries/promotions_r10.py): the five are registered with their DuckDB
oracles attached and, while never driver-checked, head the priority
window. Their oracle parity runs with every other registration in
tests/test_queries_parity.py::test_query."""

from __future__ import annotations

from kafka_map_reduce_spark.queries.promotions_r10 import R10_REGISTRATIONS


def test_promotions_are_registered_at_the_window_head():
    """The r10 registration contract: all five promotions are in
    REGISTRY with their oracle SQL attached, and — WHILE never driver-
    checked — they occupy the head of the priority window
    (never-checked-first, per test_registry_contract.py::
    test_never_checked_outranks_stale). Once CORRECTNESS artifacts
    carry their rows (r10 did: all five hash-green on first check) the
    head requirement retires and later rounds rotate them like any
    other checked query; the registration + oracle pins are permanent."""
    from kafka_map_reduce_spark.registry import _PRIORITY, REGISTRY
    from tests.test_registry_contract import checked_queries

    names = [n for n, _f, _o in R10_REGISTRATIONS]
    unregistered = [n for n in names if n not in REGISTRY]
    assert not unregistered, f"r10 promotions missing: {unregistered}"
    for n, _f, oracle in R10_REGISTRATIONS:
        assert REGISTRY[n].oracle == oracle, f"{n}: oracle mismatch"
    if not set(names) <= checked_queries():
        assert list(_PRIORITY[: len(names)]) == names

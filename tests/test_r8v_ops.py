"""Semantic pins for the round-8 closing batch 2: conversion effort,
zero-day share, double-charge screen and value-range audit."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def _event(i, s, u, e, v):
    return (i, _D0 + timedelta(seconds=s), u, e, v, "{}")


def test_events_to_first_purchase_hand(spark, tmp_path):
    # user 1: click, view, purchase -> 2 before; user 2: purchase first -> 0
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, 0, 1, "click", 1.0), (2, 10, 1, "view", 1.0),
         (3, 20, 1, "purchase", 1.0), (4, 0, 2, "purchase", 1.0),
         (5, 10, 2, "click", 1.0)]],
    )
    out = {
        r["events_before_purchase"]: r["n_buyers"]
        for r in registry.QUERIES["events_to_first_purchase"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {2: 1, 0: 1}


def test_zero_day_share_hand(spark, tmp_path):
    # clicks on days 0 and 4 -> span 5, active 2, zero share 3/5
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, 0, 1, "click", 1.0), (2, 4 * 86400, 1, "click", 1.0)]],
    )
    [r] = registry.QUERIES["zero_day_share_by_type"](
        spark, str(tmp_path)
    ).collect()
    assert (r["active_days"], r["span_days"]) == (2, 5)
    assert r["zero_share_e6"] == 3 * 1000000 // 5


def test_double_charge_hand(spark, tmp_path):
    # cust 1: same 10.00 total 3 days apart (pair!) plus one 9 days
    # apart (outside the window); cust 2 clean
    rows = [
        (1, 1, 10.0, 0), (2, 1, 10.0, 3), (3, 1, 10.0, 12),
        (4, 2, 10.0, 0),
    ]
    write_tables(tmp_path, orders=[
        (ok, ck, "O", v, _D0 + timedelta(days=d), "1-URGENT")
        for ok, ck, v, d in rows
    ])
    [r] = registry.QUERIES["double_charge_candidates"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_candidate_pairs"], r["n_customers"]) == (1, 1)


def test_value_range_audit_hand(spark, tmp_path):
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, 0, 1, "click", 0.0), (2, 1, 1, "click", -5.0),
         (3, 2, 1, "click", 2000000.0), (4, 3, 1, "click", 3.5)]],
    )
    [r] = registry.QUERIES["value_range_audit"](spark, str(tmp_path)).collect()
    assert (r["n"], r["n_zero"], r["n_negative"], r["n_huge"], r["n_null"]) \
        == (4, 1, 1, 1, 0)

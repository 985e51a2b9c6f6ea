"""Semantic pins for the round-8 sixteenth batch: two-level shares,
dwell time, weekly ARPU, daily value ribbon and kNN label voting."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def test_share_of_parent_two_level_hand(spark, tmp_path):
    # category STANDARD: brand A 3.00, brand B 1.00; category PROMO: C 4.00
    write_tables(tmp_path, part=[
        (1, "p", "A", "STANDARD X", 1, 1.0),
        (2, "p", "B", "STANDARD Y", 1, 1.0),
        (3, "p", "C", "PROMO Z", 1, 1.0),
    ])
    write_tables(tmp_path, lineitem=[
        (1, 1, 1, 1, 1.0, 3.0, 0.0, 0.0, "N", "O", _D0),
        (2, 2, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _D0),
        (3, 3, 1, 1, 1.0, 4.0, 0.0, 0.0, "N", "O", _D0),
    ])
    rows = {
        (r["category"], r["p_brand"]): (r["share_of_cat_e6"], r["cat_share_e6"])
        for r in registry.QUERIES["share_of_parent_two_level"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[("STANDARD", "A")] == (750000, 500000)
    assert rows[("STANDARD", "B")] == (250000, 500000)
    assert rows[("PROMO", "C")] == (1000000, 500000)


def _event(i, s, u, e, v):
    return (i, _D0 + timedelta(seconds=s), u, e, v, "{}")


def test_dwell_time_hand(spark, tmp_path):
    # user 1: click@0 -> view@30 -> purchase@30 (instant) -> (end)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, 0, 1, "click", 1.0), (2, 30, 1, "view", 1.0),
         (3, 30, 1, "purchase", 1.0)]],
    )
    rows = {
        r["event_type"]: (r["n_dwells"], r["total_dwell_s"], r["n_instant"])
        for r in registry.QUERIES["dwell_time_by_type"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows["click"] == (1, 30, 0)
    assert rows["view"] == (1, 0, 1)       # same-second transition
    assert rows["purchase"] == (0, None, 0)  # last event, no successor


def test_arpu_weekly_hand(spark, tmp_path):
    # week 0: users 1 (purchase 5.00) and 2 (click only) -> ARPU 2.50
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, 0, 1, "purchase", 5.0), (2, 60, 2, "click", 9.0)]],
    )
    [r] = registry.QUERIES["arpu_weekly"](spark, str(tmp_path)).collect()
    assert (r["active_users"], r["revenue_c"]) == (2, 500)
    assert r["arpu_e4"] == 500 * 10000 // 2


def test_daily_ribbon_hand(spark, tmp_path):
    write_tables(tmp_path, orders=[
        (k, 1, "O", float(v), _D0, "1-URGENT")
        for k, v in enumerate([1.0, 2.0, 3.0, 4.0], start=1)
    ])
    [r] = registry.QUERIES["daily_value_ribbon"](spark, str(tmp_path)).collect()
    # DISC quartiles of {1,2,3,4}: p25=1, p50=2, p75=3
    assert (r["n"], r["p25_c"], r["p50_c"], r["p75_c"]) == (4, 100, 200, 300)


def test_knn_vote_planted_clusters(spark, tmp_path):
    # probe vec_id 0 (label 0) sits among label-0 neighbors; vec 50
    # (label 1) among label-1 neighbors -> both classes 100% accurate
    rows = []
    for i in range(8):
        rows.append((i * 2, [1.0 + i * 0.001, 0.0], 0))       # cluster A
        rows.append((i * 2 + 1, [0.0, 1.0 + i * 0.001], 1))   # cluster B
    rows.append((0 + 50, [0.0, 1.5], 1))  # vec 50: probe in cluster B
    write_tables(tmp_path, embeddings=rows)
    out = {
        r["probe_label"]: (r["n_probes"], r["n_correct"], r["acc_e6"])
        for r in registry.QUERIES["knn_label_vote_accuracy"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {0: (1, 1, 1000000), 1: (1, 1, 1000000)}

"""Semantic pins for the round-8 eleventh batch: temporal
co-occurrence, deterministic argmin/argmax, ordered listagg, basket
brand diversity and the dominant-period detector."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def _event(i, s, u, e):
    return (i, _D0 + timedelta(seconds=s), u, e, 1.0, "{}")


def test_cooccurrence_band(spark, tmp_path):
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, 0, 1, "click"), (2, 30, 1, "view"), (3, 200, 1, "purchase")]],
    )
    rows = registry.QUERIES["event_cooccurrence_60s"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    [r] = rows
    assert (r["type_a"], r["type_b"], r["n_pairs"], r["n_users"]) == (
        "click", "view", 1, 1,
    )


def test_argminmax_tiebreak(spark, tmp_path):
    write_tables(tmp_path, customer=[(1, "a", 1, 10.0, "X"), (2, "b", 1, 10.0, "X"), (3, "c", 1, 5.0, "X")])
    [r] = registry.QUERIES["agg_argminmax"](spark, str(tmp_path)).collect()
    # balance tie at 10.0 resolves to the LARGER custkey for max
    assert (r["richest_key"], r["poorest_key"], r["n"]) == (2, 3, 3)


def test_listagg_ordered(spark, tmp_path):
    write_tables(tmp_path, customer=[(1, "a", 1, 5.0, "X"), (2, "b", 1, 10.0, "X"), (3, "c", 1, 1.0, "X")])
    [r] = registry.QUERIES["agg_listagg_ordered"](
        spark, str(tmp_path)
    ).collect()
    assert r["top_names"] == "b,a,c"
    assert r["n"] == 3


def test_order_brand_diversity(spark, tmp_path):
    write_tables(tmp_path, part=[(1, "p", "A", "t", 1, 1.0), (2, "p", "B", "t", 1, 1.0)])
    write_tables(tmp_path, lineitem=[
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _D0),
        (1, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _D0),
        (1, 2, 1, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", _D0),
        (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _D0),
    ])
    rows = {
        r["n_brands"]: r["n_orders"]
        for r in registry.QUERIES["order_brand_diversity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {2: 1, 1: 1}


def test_dominant_period_alternating(spark, tmp_path):
    # 20-day series alternating 1, 5 events -> perfect period 2;
    # even lags tie at r2 = 1e6 and the packed key picks the SHORTEST
    rows = []
    eid = 0
    for day in range(20):
        n = 5 if day % 2 else 1
        for _ in range(n):
            eid += 1
            rows.append((eid, day * 86400 + eid % 60, 1, "click"))
    write_tables(tmp_path, events=[_event(*r) for r in rows])
    [r] = registry.QUERIES["dominant_period_by_type"](
        spark, str(tmp_path)
    ).collect()
    assert r["best_lag"] == 2
    assert r["best_r2_e6"] == 1000000

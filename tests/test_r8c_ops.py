"""Semantic pins for the round-8 time-series batch: CCF lag moments,
Cutler RSI, Bollinger breach, anchored VWAP and the day-of-week naive
backtest — each on a handcrafted series with a hand-computed answer."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def _daily_orders(day_revenues):
    """One order per day with the given totalprice (whole dollars)."""
    return [
        (i + 1, 1, "O", float(rev), _D0 + timedelta(days=i), "1-URGENT")
        for i, rev in enumerate(day_revenues)
    ]


def _counted_events(per_day_type_counts):
    """per_day_type_counts: {(day, event_type): n} -> n events that day."""
    rows = []
    eid = 0
    for (day, etype), n in sorted(per_day_type_counts.items()):
        for _ in range(n):
            eid += 1
            rows.append(
                (eid, _D0 + timedelta(days=day, minutes=eid % 60), 1, etype,
                 1.0, "{}")
            )
    return rows


def test_rsi_hand_series(spark, tmp_path):
    # revenue 10, 15, 5, 5 -> deltas +5, -10, 0
    write_tables(tmp_path, orders=_daily_orders([10, 15, 5, 5]))
    rows = {
        r["day_idx"]: r
        for r in registry.QUERIES["rsi_cutler_daily"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(rows) == 3  # first day has no prior -> no delta row
    days = sorted(rows)
    d1, d2, d3 = (rows[d] for d in days)
    assert (d1["s_gain"], d1["s_loss"], d1["rsi_e6"]) == (5, 0, 1000000)
    assert (d2["s_gain"], d2["s_loss"]) == (5, 10)
    assert d2["rsi_e6"] == 5 * 1000000 // 15
    # flat day extends the window, adds nothing
    assert (d3["s_gain"], d3["s_loss"], d3["n_win"]) == (5, 10, 3)


def test_rsi_flat_market_is_neutral(spark, tmp_path):
    write_tables(tmp_path, orders=_daily_orders([7, 7, 7]))
    rows = registry.QUERIES["rsi_cutler_daily"](spark, str(tmp_path)).collect()
    assert rows and all(r["rsi_e6"] == 500000 for r in rows)


def test_bollinger_flat_series_never_breaches(spark, tmp_path):
    write_tables(tmp_path, orders=_daily_orders([9] * 25))
    rows = registry.QUERIES["bollinger_breach_daily"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 25
    assert all(not r["breach"] for r in rows)


def test_bollinger_spike_breaches(spark, tmp_path):
    # 10 quiet days then a 100x spike: the spike day must breach
    write_tables(
        tmp_path, orders=_daily_orders([10, 11, 10, 11, 10, 11, 10, 11, 10, 11, 1000])
    )
    rows = {
        r["day_idx"]: r
        for r in registry.QUERIES["bollinger_breach_daily"](
            spark, str(tmp_path)
        ).collect()
    }
    spike = rows[max(rows)]
    assert spike["breach"]
    quiet = [r for d, r in rows.items() if d != max(rows)]
    assert all(not r["breach"] for r in quiet)


def test_ccf_perfect_lag1_alignment(spark, tmp_path):
    # clicks on days 0..3 = 1,2,3,4; purchases on days 1..4 = 1,2,3,4
    # -> at lag 1 the series align perfectly (r = 1); moments pin it
    counts = {(i, "click"): i + 1 for i in range(4)}
    counts.update({(i + 1, "purchase"): i + 1 for i in range(4)})
    write_tables(tmp_path, events=_counted_events(counts))
    rows = {
        r["lag"]: r
        for r in registry.QUERIES["ccf_lag_terms"](
            spark, str(tmp_path)
        ).collect()
    }
    l1 = rows[1]
    # purchase value=1.0 each -> whole-dollar y equals the count
    assert l1["n_pairs"] == 4
    assert l1["s_x"] == 10 and l1["s_y"] == 10
    assert l1["s_xy"] == 1 + 4 + 9 + 16
    assert l1["s_xx"] == l1["s_yy"] == 30
    # lag 0 pairs x(d) with y(d): days 1..3 -> x=2,3,4 vs y=1,2,3
    l0 = rows[0]
    assert l0["n_pairs"] == 3 and l0["s_xy"] == 2 + 6 + 12


def test_vwap_anchored_hand_values(spark, tmp_path):
    rows = [
        # (orderkey, partkey, suppkey, line, qty, extprice, day)
        (1, 1, 1, 1, 2.0, 10.0, 0, "A"),
        (2, 1, 1, 1, 2.0, 30.0, 1, "A"),
        (3, 1, 1, 1, 5.0, 5.0, 0, "R"),
    ]
    full = [
        (ok, pk, sk, ln, q, p, 0.0, 0.0, fl, "O", _D0 + timedelta(days=d))
        for ok, pk, sk, ln, q, p, d, fl in rows
    ]
    write_tables(tmp_path, lineitem=full)
    out = {
        (r["l_returnflag"], r["day_idx"]): r["avwap_e4"]
        for r in registry.QUERIES["vwap_anchored_daily"](
            spark, str(tmp_path)
        ).collect()
    }
    days = sorted(d for f, d in out if f == "A")
    # day 0: 10/2 = 5.0 -> 50000; day 1: (10+30)/(2+2) = 10.0 -> 100000
    assert out[("A", days[0])] == 50000
    assert out[("A", days[1])] == 100000
    assert out[("R", days[0])] == 10000  # 5/5 = 1.0


def test_forecast_dow_naive_exact_wape(spark, tmp_path):
    # clicks: day 0 -> 10, day 7 -> 8: forecast 10, actual 8, wape 2/8
    counts = {(0, "click"): 10, (7, "click"): 8}
    write_tables(tmp_path, events=_counted_events(counts))
    rows = registry.QUERIES["forecast_dow_naive_terms"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_days"], r["s_abs_err"], r["s_actual"], r["s_fcst"]) == (
        1, 2, 8, 10,
    )
    assert r["wape_e6"] == 2 * 1000000 // 8

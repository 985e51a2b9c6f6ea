"""Semantic pins for the round-8 fifth batch: drawdown, up/down
streaks, Poisson overdispersion, monthly brand momentum and the promo
difference-in-differences cells — handcrafted inputs, hand-computed
answers."""

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


def _line(ok, pk, price, ship):
    return (ok, pk, 1, 1, 1.0, float(price), 0.0, 0.0, "N", "O", ship)


def _part(k, ptype, brand):
    return (k, "p", brand, ptype, 1, 1.0)


def test_drawdown_hand_series(spark, tmp_path):
    write_tables(tmp_path, orders=_daily_orders([10, 20, 15, 5]))
    rows = sorted(
        registry.QUERIES["drawdown_daily"](spark, str(tmp_path)).collect(),
        key=lambda r: r["day_idx"],
    )
    assert [r["peak"] for r in rows] == [10, 20, 20, 20]
    assert [r["dd_e6"] for r in rows] == [0, 0, 250000, 750000]


def test_updown_streaks_hand_series(spark, tmp_path):
    # deltas: +1, +1, -1, -1, 0 -> streaks up(2), down(2), flat(1)
    write_tables(tmp_path, orders=_daily_orders([1, 2, 3, 2, 1, 1]))
    rows = {
        (r["dir"], r["len"]): r["n_streaks"]
        for r in registry.QUERIES["updown_streaks"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {(1, 2): 1, (-1, 2): 1, (0, 1): 1}


def test_poisson_dispersion_hand_counts(spark, tmp_path):
    # 'click': 1 event on day 0, 3 on day 1 -> var/mean = 2/2 = 1.0
    rows = []
    eid = 0
    for day, n in ((0, 1), (1, 3)):
        for _ in range(n):
            eid += 1
            rows.append(
                (eid, _D0 + timedelta(days=day, minutes=eid), 1, "click",
                 1.0, "{}")
            )
    write_tables(tmp_path, events=rows)
    [r] = registry.QUERIES["poisson_dispersion_audit"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_days"], r["s_n"], int(r["s_nn"])) == (2, 4, 10)
    assert r["dispersion_e6"] == 1000000


def test_momentum_rank_monthly_hand_grid(spark, tmp_path):
    jan, feb = datetime(2024, 1, 15), datetime(2024, 2, 15)
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [
            (1, 1, 10.0, jan), (2, 1, 20.0, feb),   # brand A
            (3, 2, 30.0, jan), (4, 2, 15.0, feb),   # brand B
        ]],
        part=[_part(*r) for r in [(1, "STANDARD X", "A"), (2, "STANDARD Y", "B")]],
    )
    rows = {
        (r["p_brand"], r["month_idx"]): r
        for r in registry.QUERIES["momentum_rank_monthly"](
            spark, str(tmp_path)
        ).collect()
    }
    m1, m2 = 2024 * 12 + 1, 2024 * 12 + 2
    assert rows[("A", m1)]["rnk"] == 2 and rows[("B", m1)]["rnk"] == 1
    assert rows[("A", m2)]["rnk"] == 1 and rows[("B", m2)]["rnk"] == 2
    assert rows[("A", m1)]["mom_delta_c"] is None
    assert rows[("A", m2)]["mom_delta_c"] == 1000
    assert rows[("B", m2)]["mom_delta_c"] == -1500


def test_promo_uplift_did_cells(spark, tmp_path):
    pre, post = datetime(1995, 6, 1), datetime(1996, 6, 1)
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [
            (1, 1, 1.0, pre), (2, 1, 3.0, post),    # treated (PROMO)
            (3, 2, 2.0, pre), (4, 2, 2.5, post),    # control
        ]],
        part=[_part(*r) for r in [(1, "PROMO ANODIZED", "A"), (2, "STANDARD X", "B")]],
    )
    [r] = registry.QUERIES["promo_uplift_did"](spark, str(tmp_path)).collect()
    assert (r["pre_treat_c"], r["post_treat_c"]) == (100, 300)
    assert (r["pre_ctrl_c"], r["post_ctrl_c"]) == (200, 250)
    assert r["n_lines"] == 4

"""Semantic pins for the round-8 eighth batch: NTH_VALUE frames,
calendar dimension generation, DISC vs CONT percentiles, exact 3rd/4th
moments and the try_* arithmetic contract."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


_TS = datetime(1995, 6, 1)


def _lines(rows):
    """rows: (quantity, price, flag), one order and part per line."""
    return [
        (i + 1, i + 1, 1, 1, float(q), float(p), 0.0, 0.0, fl, "O", _TS)
        for i, (q, p, fl) in enumerate(rows)
    ]


def test_nth_value_hand_customers(spark, tmp_path):
    # segment X: balances 30 > 20 > 10 -> 3rd richest is custkey 3;
    # segment Y: only 2 rows -> NULL
    write_tables(tmp_path, customer=[
        (1, "a", 1, 30.0, "X"), (2, "b", 1, 20.0, "X"),
        (3, "c", 1, 10.0, "X"),
        (4, "d", 1, 9.0, "Y"), (5, "e", 1, 8.0, "Y"),
    ])
    rows = {
        r["c_mktsegment"]: (r["third_custkey"], r["n_rows"])
        for r in registry.QUERIES["window_nth_value"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {"X": (3, 3), "Y": (None, 2)}


def test_calendar_dim_2024(spark, tmp_path):
    rows = registry.QUERIES["calendar_dim_generate"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 366  # leap year
    by_idx = {r["day_idx"]: r for r in rows}
    jan1 = by_idx[19723]  # 2024-01-01 epoch day
    assert (jan1["y"], jan1["m"], jan1["dom"], jan1["dow"]) == (2024, 1, 1, 0)
    feb29 = by_idx[19723 + 31 + 28]
    assert (feb29["m"], feb29["dom"], feb29["is_month_end"]) == (2, 29, True)
    assert sum(1 for r in rows if r["is_month_end"]) == 12


def test_percentile_disc_vs_cont_even_n(spark, tmp_path):
    # quantities 1,2,3,4: DISC p50 = 2 (first value reaching 0.5);
    # CONT p50 = 2.5 (interpolated)
    write_tables(
        tmp_path,
        lineitem=_lines([(1, 1, "N"), (2, 1, "N"), (3, 1, "N"), (4, 1, "N")]),
    )
    [r] = registry.QUERIES["percentile_disc_vs_cont"](
        spark, str(tmp_path)
    ).collect()
    assert (r["p50_disc_c"], r["p50_cont_c"]) == (200, 250)


def test_moments34_hand_values(spark, tmp_path):
    # quantities 1 and 2 -> cents 100, 200
    write_tables(tmp_path, lineitem=_lines([(1, 1, "N"), (2, 1, "N")]))
    [r] = registry.QUERIES["moments34_terms"](spark, str(tmp_path)).collect()
    assert (r["n"], r["s1"]) == (2, 300)
    assert int(r["s2"]) == 100**2 + 200**2
    assert int(r["s3"]) == 100**3 + 200**3
    assert int(r["s4"]) == 100**4 + 200**4


def test_try_arithmetic_contract(spark, tmp_path):
    # one row at quantity 25 (divide-by-zero -> NULL), two clean rows
    write_tables(
        tmp_path,
        lineitem=_lines([(25, 7, "N"), (10, 7, "N"), (30, 7, "N")]),
    )
    [r] = registry.QUERIES["try_arithmetic_nulls"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_rows"], r["n_div_null"], r["n_div_ok"]) == (3, 1, 2)
    assert r["n_add_overflow_null"] == 3

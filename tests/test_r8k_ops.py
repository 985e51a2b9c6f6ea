"""Semantic pins for the round-8 tenth batch: repeat-purchase rate,
single-source risk buckets, nation trade balance, BG/NBD inputs and
the linenumber contiguity audit."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def _line(ok, pk, sk, ln, p):
    return (ok, pk, sk, ln, 1.0, float(p), 0.0, 0.0, "N", "O", _D0)


def _order(ok, ck, d):
    return (ok, ck, "O", 1.0, _D0 + timedelta(days=d), "1-URGENT")


def test_repeat_purchase_rate(spark, tmp_path):
    # brand A: cust 1 buys in orders 1+2 (repeat), cust 2 only order 3
    write_tables(tmp_path, part=[(1, "p", "A", "t", 1, 1.0)])
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, 0), (2, 1, 5), (3, 2, 0)]])
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 1, 1, 1, 10.0), (2, 1, 1, 1, 10.0), (3, 1, 1, 1, 10.0)]],
    )
    [r] = registry.QUERIES["repeat_purchase_rate_by_brand"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_cust"], r["n_repeat"], r["n_orders"]) == (2, 1, 3)
    assert r["repeat_e6"] == 500000


def test_single_source_risk_buckets(spark, tmp_path):
    # part 1: one supplier (rev 10); part 2: two suppliers (rev 5)
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 1, 7, 1, 10.0), (2, 2, 7, 1, 2.0), (3, 2, 8, 1, 3.0)]],
    )
    rows = {
        r["supp_bucket"]: (r["n_parts"], r["rev_c"])
        for r in registry.QUERIES["single_source_parts_risk"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {1: (1, 1000), 2: (1, 500)}


def test_nation_trade_balance_hand(spark, tmp_path):
    # nation 1 sells 10.00; nation 2's customer buys all 10.00
    write_tables(tmp_path, supplier=[(7, "s", 1, 0.0)])
    write_tables(tmp_path, customer=[(5, "c", 2, 0.0, "X")])
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 5, 0)]])
    write_tables(tmp_path, lineitem=[_line(*r) for r in [(1, 1, 7, 1, 10.0)]])
    rows = {
        r["nkey"]: (r["sell_c"], r["buy_c"], r["balance_c"])
        for r in registry.QUERIES["nation_trade_balance"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {1: (1000, 0, 1000), 2: (0, 1000, -1000)}


def test_bgnbd_inputs_hand(spark, tmp_path):
    # cust 1: orders at days 0, 10, 30; cust 2: one order at day 20
    # horizon = day 30
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [(1, 1, 0), (2, 1, 10), (3, 1, 30), (4, 2, 20)]],
    )
    rows = {
        r["o_custkey"]: (r["x"], r["t_x_days"], r["cap_t_days"])
        for r in registry.QUERIES["bgnbd_input_terms"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {1: (2, 30, 30), 2: (0, 0, 10)}


def test_linenumber_contiguity(spark, tmp_path):
    # order 1: lines 1,2 (ok); order 2: lines 1,3 (gap);
    # order 3: lines 1,1 (dup, and max!=n is False: n=2, mx=1 -> noncontig)
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [
            (1, 1, 1, 1, 1.0), (1, 1, 1, 2, 1.0),
            (2, 1, 1, 1, 1.0), (2, 1, 1, 3, 1.0),
            (3, 1, 1, 1, 1.0), (3, 1, 1, 1, 1.0),
        ]],
    )
    [r] = registry.QUERIES["linenumber_contiguity_audit"](
        spark, str(tmp_path)
    ).collect()
    assert r["n_orders"] == 3
    assert r["n_noncontig"] == 2   # order 2 (gap) and order 3 (mx=1 != n=2)
    assert r["n_dup_linenum"] == 1
    assert r["max_linenumber"] == 3

"""Semantic pins for the round-8 coda: 7v28 trend acceleration and
the weekly movers board."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def test_trend_accel_flat_series_reads_1e6(spark, tmp_path):
    # 30 identical days -> once both windows are saturated, accel = 1e6
    write_tables(tmp_path, orders=[
        (i + 1, 1, "O", 100.0, _D0 + timedelta(days=i), "1-URGENT")
        for i in range(30)
    ])
    rows = sorted(
        registry.QUERIES["trend_accel_7v28"](spark, str(tmp_path)).collect(),
        key=lambda r: r["day_idx"],
    )
    last = rows[-1]
    assert (last["s7"], last["s28"]) == (700, 2800)
    assert last["accel_e6"] == 1000000
    # early days: s7 window fills faster than s28 -> accel > 1e6
    assert rows[0]["accel_e6"] == 4000000  # day 1: s7 = s28 = 100


def test_top_movers_hand(spark, tmp_path):
    # part 1: weeks 100->200 (delta +10000c); part 2: 100->50 (-5000c)
    lines = [
        (1, 1, 100.0, 0), (2, 1, 200.0, 7),
        (3, 2, 100.0, 0), (4, 2, 50.0, 7),
    ]
    write_tables(tmp_path, lineitem=[
        (ok, pk, 1, 1, 1.0, v, 0.0, 0.0, "N", "O", _D0 + timedelta(days=d))
        for ok, pk, v, d in lines
    ])
    rows = registry.QUERIES["top_movers_wow_parts"](
        spark, str(tmp_path)
    ).collect()
    assert [(r["l_partkey"], r["delta_c"]) for r in rows] == [
        (1, 10000), (2, -5000),
    ]

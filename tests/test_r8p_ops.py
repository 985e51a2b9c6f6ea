"""Semantic pins for the round-8 fifteenth batch: lagged features,
hour-of-week matrix, two-way ANOVA cells, binary encodings and
captive customers."""

from __future__ import annotations

import base64
from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)  # a Monday


def test_lag_features_hand_series(spark, tmp_path):
    rows = []
    eid = 0
    for day, n in ((0, 2), (1, 3), (8, 4)):  # day 8 = lag7 of day 1
        for _ in range(n):
            eid += 1
            rows.append((eid, _D0 + timedelta(days=day, minutes=eid), 1,
                         "click", 1.0, "{}"))
    write_tables(tmp_path, events=rows)
    out = {
        r["day_idx"] - 19723: (r["n"], r["n_lag1"], r["n_lag7"], r["delta1"])
        for r in registry.QUERIES["lag_features_daily"](
            spark, str(tmp_path)
        ).collect()
    }
    # LAG is row-based over the sparse grid: day 8's lag1 is day 1
    assert out[0] == (2, None, None, None)
    assert out[1] == (3, 2, None, 1)
    assert out[8] == (4, 3, None, 1)


def test_hour_of_week_monday_zero(spark, tmp_path):
    write_tables(tmp_path, events=[
        (1, _D0 + timedelta(hours=9), 1, "click", 1.0, "{}"),
        (2, _D0 + timedelta(days=6, hours=23), 2, "click", 1.0, "{}"),
    ])
    rows = {
        (r["dow"], r["hr"]): (r["n"], r["n_users"])
        for r in registry.QUERIES["hour_of_week_matrix"](
            spark, str(tmp_path)
        ).collect()
    }
    # 2024-01-01 is a Monday -> dow 0; +6 days is Sunday -> dow 6
    assert rows == {(0, 9): (1, 1), (6, 23): (1, 1)}


def test_anova_cells_hand(spark, tmp_path):
    write_tables(tmp_path, lineitem=[
        (1, 1, 1, 1, 5.0, 3.0, 0.0, 0.0, "N", "O", _D0),
        (2, 1, 1, 1, 5.0, 4.0, 0.0, 0.0, "N", "O", _D0),
    ])
    [r] = registry.QUERIES["anova_two_way_terms"](
        spark, str(tmp_path)
    ).collect()
    assert (r["qty_band"], r["disc_band"], r["n"]) == (0, 0, 2)
    assert r["s_rev"] == 700
    assert int(r["ss_rev"]) == 300**2 + 400**2


def test_binary_encoding_matches_python(spark, tmp_path):
    text = "roundtrip me exactly!"
    write_tables(tmp_path, documents=[(1, text, "en", "w", len(text))])
    [r] = registry.QUERIES["binary_encoding_roundtrip"](
        spark, str(tmp_path)
    ).collect()
    assert r["b64"] == base64.b64encode(text.encode()).decode()
    assert r["hex8"] == text[:8].encode().hex()
    assert r["b64_roundtrip"] is True and r["hex_roundtrip"] is True


def test_captive_customers_majority(spark, tmp_path):
    # cust 1 spends 6.00 with supp 7 and 4.00 with supp 8 -> captive of 7
    write_tables(tmp_path, orders=[(1, 1, "O", 10.0, _D0, "1-URGENT")])
    write_tables(tmp_path, lineitem=[
        (1, 1, 7, 1, 1.0, 6.0, 0.0, 0.0, "N", "O", _D0),
        (1, 1, 8, 2, 1.0, 4.0, 0.0, 0.0, "N", "O", _D0),
    ])
    rows = {
        r["l_suppkey"]: (r["n_customers"], r["n_captive"], r["supplier_rev_c"])
        for r in registry.QUERIES["captive_customer_share"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {7: (1, 1, 600), 8: (1, 0, 400)}

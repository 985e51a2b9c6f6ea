"""Semantic pins for the round-8 last batch: feature-target terms,
monthly median revenue, 3-D cube flags, multi-column distinct and
inverse-percentile lookup."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def test_feature_target_terms_hand(spark, tmp_path):
    write_tables(tmp_path, lineitem=[(1, 1, 1, 1, 2.0, 5.0, 0.1, 0.0, "N", "O", _D0)])
    rows = {
        r["feature"]: (r["s_x"], r["s_y"], int(r["s_xy"]))
        for r in registry.QUERIES["feature_target_corr_terms"](
            spark, str(tmp_path)
        ).collect()
    }
    # quantity 2.0 -> 20000 e4; revenue 5.00 -> 500 cents
    assert rows["quantity"] == (20000, 500, 20000 * 500)
    assert rows["discount"] == (1000, 500, 1000 * 500)
    assert rows["tax"] == (0, 500, 0)


def test_monthly_median_hand(spark, tmp_path):
    # Jan days: 10, 30, 20 dollars -> median day 20.00
    write_tables(tmp_path, orders=[
        (k, 1, "O", float(v), _D0 + timedelta(days=k - 1), "1-URGENT")
        for k, v in [(1, 10.0), (2, 30.0), (3, 20.0)]
    ])
    [r] = registry.QUERIES["monthly_median_daily_rev"](
        spark, str(tmp_path)
    ).collect()
    assert (r["month_idx"], r["n_days"], r["median_daily_rev_c"]) == (
        2024 * 12 + 1, 3, 2000,
    )


def test_cube3_levels(spark, tmp_path):
    write_tables(tmp_path, lineitem=[
        (1, 1, 1, 1, 5.0, 1.0, 0.0, 0.0, "N", "O", _D0),
        (2, 1, 1, 1, 30.0, 1.0, 0.0, 0.0, "R", "F", _D0),
    ])
    rows = registry.QUERIES["cube3_grouping_flags"](
        spark, str(tmp_path)
    ).collect()
    # 2 distinct rows x 8 levels, but shared levels collapse:
    # grand total row has all flags = 1 and n = 2
    grand = [r for r in rows
             if (r["g_flag"], r["g_status"], r["g_band"]) == (1, 1, 1)]
    assert len(grand) == 1 and grand[0]["n"] == 2
    leaf = [r for r in rows
            if (r["g_flag"], r["g_status"], r["g_band"]) == (0, 0, 0)]
    assert len(leaf) == 2 and all(r["n"] == 1 for r in leaf)


def test_count_distinct_multi_hand(spark, tmp_path):
    rows = [(1, 0, 1, "click"), (2, 1, 1, "view"), (3, 2, 2, "click"),
            (4, 3, 1, "click")]
    write_tables(tmp_path, events=[
        (i, _D0 + timedelta(seconds=s), u, e, 1.0, "{}")
        for i, s, u, e in rows
    ])
    [r] = registry.QUERIES["count_distinct_multi"](
        spark, str(tmp_path)
    ).collect()
    assert (r["d_type"], r["d_user"], r["d_pair"], r["n_rows"]) == (2, 2, 3, 4)


def test_value_percentile_lookup_hand(spark, tmp_path):
    vals = [5000.0, 50000.0, 150000.0, 250000.0]
    write_tables(tmp_path, orders=[(k + 1, 1, "O", v, _D0, "1-URGENT") for k, v in enumerate(vals)])
    [r] = registry.QUERIES["value_percentile_lookup"](
        spark, str(tmp_path)
    ).collect()
    assert r["below_10k_e6"] == 250000
    assert r["below_100k_e6"] == 500000
    assert r["below_200k_e6"] == 750000

"""Semantic pins for the round-8 final batch: ratio-metric terms,
id/time monotonicity, top-N revenue share, empty-aggregate shapes and
ISO week boundaries."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def _event(i, s, u, e, v):
    return (i, _D0 + timedelta(seconds=s), u, e, v, "{}")


def test_ratio_metric_terms_hand(spark, tmp_path):
    # arm 0: user 2 -> x=300 cents, y=2 events; arm 1: user 1 -> x=0, y=1
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, 0, 2, "purchase", 3.0), (2, 10, 2, "click", 1.0),
         (3, 0, 1, "click", 9.0)]],
    )
    rows = {
        r["arm"]: r
        for r in registry.QUERIES["ratio_metric_terms"](
            spark, str(tmp_path)
        ).collect()
    }
    a0 = rows[0]
    assert (a0["n_users"], a0["s_x"], a0["s_y"]) == (1, 300, 2)
    assert (int(a0["s_xx"]), int(a0["s_yy"]), int(a0["s_xy"])) == (
        90000, 4, 600,
    )
    assert (rows[1]["s_x"], rows[1]["s_y"]) == (0, 1)


def test_id_time_monotonicity_hand(spark, tmp_path):
    # user 1: ids 5 then 3 in time order -> one inversion; user 2 clean
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(5, 0, 1, "click", 1.0), (3, 10, 1, "click", 1.0),
         (7, 0, 2, "click", 1.0), (8, 10, 2, "click", 1.0)]],
    )
    [r] = registry.QUERIES["id_time_monotonicity_audit"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_users"], r["n_inversions"], r["n_users_with_inversions"]) == (
        2, 1, 1,
    )


def test_topn_share_hand(spark, tmp_path):
    write_tables(tmp_path, lineitem=[
        (1, pk, 1, 1, 1.0, float(v), 0.0, 0.0, "N", "O", _D0)
        for pk, v in [(1, 6.0), (2, 3.0), (3, 1.0)]
    ])
    rows = registry.QUERIES["topn_revenue_share"](
        spark, str(tmp_path)
    ).collect()
    assert [(r["l_partkey"], r["rev_c"], r["share_e6"]) for r in rows] == [
        (1, 600, 600000), (2, 300, 300000), (3, 100, 100000),
    ]


def test_empty_agg_shapes(spark, tmp_path):
    write_tables(tmp_path, customer=[(1, "a", 1, 10.0, "X")])
    [r] = registry.QUERIES["empty_agg_contract"](spark, str(tmp_path)).collect()
    assert (r["global_count"], r["global_sum_null"], r["n_groups"]) == (
        0, True, 0,
    )


def test_iso_week_boundaries(spark, tmp_path):
    rows = {
        r["day_idx"]: (r["iso_year"], r["iso_week"])
        for r in registry.QUERIES["iso_week_boundary_contract"](
            spark, str(tmp_path)
        ).collect()
    }
    jan1_2021 = (datetime(2021, 1, 1) - datetime(1970, 1, 1)).days
    dec30_2024 = (datetime(2024, 12, 30) - datetime(1970, 1, 1)).days
    assert rows[jan1_2021] == (2020, 53)   # belongs to the PRIOR iso year
    assert rows[dec30_2024] == (2025, 1)   # belongs to the NEXT iso year

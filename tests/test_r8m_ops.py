"""Semantic pins for the round-8 twelfth batch: FILTER-clause
aggregates, add_months clamping, per-user streak islands, sorted set
aggregation and the digest surface."""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def test_filter_clause_hand_orders(spark, tmp_path):
    rows = [(1, "F", 10.0), (2, "O", 20.0), (3, "F", 5.0)]
    write_tables(tmp_path, orders=[(ok, 1, st, tp, _D0, "1-URGENT") for ok, st, tp in rows])
    [r] = registry.QUERIES["agg_filter_clause"](spark, str(tmp_path)).collect()
    assert (r["n"], r["n_f"], r["rev_f_c"], r["rev_x_c"]) == (3, 2, 1500, 0)


def test_month_add_clamp(spark, tmp_path):
    rows = {
        r["day_idx"]: r
        for r in registry.QUERIES["month_add_clamp_contract"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(rows) == 12
    jan31 = 19723 + 30  # 2024-01-31
    feb29 = 19723 + 31 + 28
    assert rows[jan31]["plus1m_idx"] == feb29          # clamps, no overflow
    assert rows[jan31]["lands_month_end"] is True
    # Apr 30 + 1 month = May 30, NOT May 31 -> not a month end
    apr30 = 19723 + 31 + 29 + 31 + 29
    assert rows[apr30]["lands_month_end"] is False


def test_user_longest_streak_hand(spark, tmp_path):
    # user 1 active days 0,1,2 and 10 -> best 3; user 2 day 5 -> best 1
    rows = [(1, 0), (1, 1), (1, 2), (1, 10), (2, 5)]
    write_tables(tmp_path, events=[
        (i + 1, _D0 + timedelta(days=d, minutes=i), u, "click", 1.0, "{}")
        for i, (u, d) in enumerate(rows)
    ])
    out = {
        r["streak_days"]: r["n_users"]
        for r in registry.QUERIES["user_longest_streak"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {3: 1, 1: 1}


def test_collect_set_sorted(spark, tmp_path):
    write_tables(tmp_path, customer=[
        (1, "a", 1, 0.0, "HOUSEHOLD"), (2, "b", 1, 0.0, "AUTOMOBILE"),
        (3, "c", 1, 0.0, "HOUSEHOLD"),
    ])
    [r] = registry.QUERIES["agg_collect_set_sorted"](
        spark, str(tmp_path)
    ).collect()
    assert r["segments"] == "AUTOMOBILE,HOUSEHOLD"
    assert r["n"] == 3


def test_hash_functions_match_python(spark, tmp_path):
    text = "hello spark"
    write_tables(tmp_path, documents=[(1, text, "en", "w", len(text))])
    [r] = registry.QUERIES["hash_functions_contract"](
        spark, str(tmp_path)
    ).collect()
    assert r["md5_hex"] == hashlib.md5(text.encode()).hexdigest()
    assert r["sha256_hex"] == hashlib.sha256(text.encode()).hexdigest()

"""Mathematical invariants of the round-7h statistical operators on
seeded random inputs — the property layer above test_r7h_ops.py's
hand-computed pins.  One generated table serves many operators per
seed (a Spark job per hypothesis example would be prohibitively
slow, per tests/test_properties.py's convention), and every
invariant below is an identity of the STATISTIC, not of the data:

* Gini and HHI live in [0, 1e6) / (0, 1e6]; HHI >= top1_share^2.
* AUC label-flip anti-symmetry: u2(pos) + u2(flipped) = 2 * np * nn.
* KS distance is bounded by its own denominator.
* Winsorized sums are bracketed by n*lo and n*hi; clip counts are
  consistent with the fences.
* Runs partition the day count; Kendall terms partition the pair
  count; ordinal patterns partition the window count.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _gen_events(spark, tmp_path, seed, n=400, n_types=3):
    rng = np.random.default_rng(seed)
    base = datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                base + timedelta(minutes=int(rng.integers(0, 60 * 24 * 28))),
                int(rng.integers(1, 20)),
                f"t{int(rng.integers(0, n_types))}",
                float(np.round(rng.gamma(2.0, 50.0), 2)),
                "{}",
            )
        )
    write_tables(tmp_path, events=rows)


def _gen_orders_customers(spark, tmp_path, seed, n_cust=40):
    rng = np.random.default_rng(seed)
    custs = [
        (i, f"c{i}", 1, 0.0, "SEG" + str(int(rng.integers(0, 2))))
        for i in range(1, n_cust + 1)
    ]
    write_tables(tmp_path, customer=custs)
    orders = []
    for ok in range(1, 4 * n_cust):
        orders.append(
            (
                ok,
                int(rng.integers(1, n_cust + 1)),
                "O",
                float(np.round(rng.uniform(1, 5000), 2)),
                datetime(2024, 1, 1) + timedelta(days=int(rng.integers(0, 300))),
                "1-URGENT",
            )
        )
    write_tables(tmp_path, orders=orders)


def test_gini_hhi_bounds_random(spark, tmp_path):
    for seed in (7, 23):
        _gen_orders_customers(spark, tmp_path, seed)
        gini = registry.QUERIES["gini_revenue_inequality"](
            spark, str(tmp_path)
        ).collect()
        assert gini
        for r in gini:
            assert 0 <= r.gini_e6 < 1000000
        hhi = registry.QUERIES["hhi_concentration"](spark, str(tmp_path)).collect()
        for r in hhi:
            assert 0 < r.hhi_e6 <= 1000000
            assert 0 < r.top1_share_e6 <= 1000000
            # HHI >= top1^2 (sum of squares >= largest square);
            # 1 unit of slack for the two truncating divisions
            assert r.hhi_e6 + 1 >= r.top1_share_e6**2 // 1000000


def test_auc_label_flip_antisymmetry(spark, tmp_path):
    """u2 computed for lang='en' plus u2 with every label flipped
    must tile exactly 2 * n_pos * n_neg (ties split evenly)."""
    rng = np.random.default_rng(11)
    rows = [
        (
            i,
            "x",
            "en" if rng.random() < 0.4 else "fr",
            "s",
            int(rng.integers(1, 60)),
        )
        for i in range(300)
    ]
    write_tables(tmp_path, documents=rows)
    r1 = registry.QUERIES["auc_mann_whitney"](spark, str(tmp_path)).collect()[0]
    flipped = [
        (i, x, "fr" if lang == "en" else "en", s, nc)
        for (i, x, lang, s, nc) in rows
    ]
    write_tables(tmp_path, documents=flipped)
    r2 = registry.QUERIES["auc_mann_whitney"](spark, str(tmp_path)).collect()[0]
    assert (r1.n_pos, r1.n_neg) == (r2.n_neg, r2.n_pos)
    assert r1.u2 + r2.u2 == 2 * r1.n_pos * r1.n_neg


def test_ks_winsorize_mad_runs_invariants(spark, tmp_path):
    for seed in (3, 19):
        _gen_events(spark, tmp_path, seed)
        for r in registry.QUERIES["ks_split_drift"](spark, str(tmp_path)).collect():
            assert 0 <= r.d_scaled <= r.n_train * r.n_test
            assert 0 <= r.d_e6 <= 1000000
        for r in registry.QUERIES["winsorize_clip_stats"](
            spark, str(tmp_path)
        ).collect():
            assert r.lo_cents <= r.hi_cents
            assert r.n * r.lo_cents <= r.sum_winsorized <= r.n * r.hi_cents
            assert 0 <= r.n_clipped_low + r.n_clipped_high <= r.n
        for r in registry.QUERIES["mad_robust_outliers"](
            spark, str(tmp_path)
        ).collect():
            assert r.mad_cents >= 0
            assert 0 <= r.n_outliers <= r.n
        for r in registry.QUERIES["runs_test_counts"](
            spark, str(tmp_path)
        ).collect():
            assert r.n_above + r.n_below == r.n_days
            assert 1 <= r.n_runs <= r.n_days


def test_kendall_ordinal_partition_counts(spark, tmp_path):
    _gen_events(spark, tmp_path, 5)
    kend = registry.QUERIES["kendall_tau_terms"](spark, str(tmp_path)).collect()
    for r in kend:
        assert (
            r.concordant + r.discordant + r.tied
            == r.n_days * (r.n_days - 1) // 2
        )
    daily_counts = {r.event_type: r.n_days for r in kend}
    pats = registry.QUERIES["ordinal_pattern_counts"](
        spark, str(tmp_path)
    ).collect()
    per_type = {}
    for r in pats:
        per_type[r.event_type] = per_type.get(r.event_type, 0) + r.n
    for et, total in per_type.items():
        assert total == daily_counts[et] - 2


def test_winsorize_reduces_or_keeps_spread(spark, tmp_path):
    """Winsorization can only pull mass inward: the clipped sum sits
    between the raw sum with the tail mass floored at lo and capped
    at hi — implied by the bracket test above — and equals the raw
    sum when nothing clips."""
    _gen_events(spark, tmp_path, 29, n=40, n_types=1)
    row = registry.QUERIES["winsorize_clip_stats"](spark, str(tmp_path)).collect()[0]
    if row.n_clipped_low == 0 and row.n_clipped_high == 0:
        assert row.sum_winsorized == row.sum_cents
    else:
        assert row.sum_winsorized != row.sum_cents or (
            row.lo_cents == row.hi_cents
        )

"""Semantic pins for the round-9 additions: price/volume bridge
identity, XYZ class boundaries, SSE changepoint election, session
entry/exit pairing, curriculum round-robin positions, MMR diversity
preference, and the temporal-split straddler count — each on a
handcrafted input with a hand-computed answer."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _line(ok, pk, q, ep, d):
    return (ok, pk, 1, 1, float(q), float(ep), 0.0, 0.0, "N", "O", d)


def _part(pk, b):
    return (pk, f"part{pk}", b, "TYPE", 1, 1.0)


def _event(i, ts, u, et, v):
    return (i, ts, u, et, float(v), "{}")


def test_price_volume_bridge_identity_and_sign(spark, tmp_path):
    """Volume effect uses base-month unit economics with the sign
    factored out of the truncating division; effects sum exactly to
    the revenue delta."""
    write_tables(tmp_path, part=[_part(*r) for r in [(1, "B1")]])
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [
            # base month: qty 10, revenue 10.00
            (1, 1, 10, 10.0, datetime(2024, 1, 5)),
            # last month: qty 5, revenue 9.00
            (2, 1, 5, 9.0, datetime(2024, 2, 5)),
        ]],
    )
    [r] = registry.QUERIES["price_volume_bridge"](spark, str(tmp_path)).collect()
    assert (r["q0"], r["q1"]) == (10, 5)
    assert (r["rev0_cents"], r["rev1_cents"]) == (1000, 900)
    assert r["delta_cents"] == -100
    # volume at base economics: -(1000 * 5 DIV 10) = -500
    assert r["volume_effect_cents"] == -500
    assert r["price_effect_cents"] == 400
    assert r["volume_effect_cents"] + r["price_effect_cents"] == r["delta_cents"]


def test_xyz_classes_split_on_active_week_cv(spark, tmp_path):
    """cv^2 = 0 weekly demand lands in X; a 3-week (1,1,28) profile
    (cv^2 = 1.62) lands in Z."""
    d = [datetime(2024, 1, 1), datetime(2024, 1, 8), datetime(2024, 1, 15)]
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 1, 10, 1.0, d[0]), (2, 1, 10, 1.0, d[1]), (3, 1, 10, 1.0, d[2]),
         (4, 2, 1, 1.0, d[0]), (5, 2, 1, 1.0, d[1]), (6, 2, 28, 1.0, d[2])]],
    )
    rows = {
        r["xyz_class"]: (r["n_parts"], r["total_qty"])
        for r in registry.QUERIES["xyz_demand_variability"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {"X": (1, 30), "Z": (1, 30)}


def test_best_split_finds_the_level_shift(spark, tmp_path):
    """Three days at $100 then three at $400: the argmax SSE-reduction
    boundary is the last low day."""
    base = datetime(2024, 1, 1, 12)
    rows = []
    for i, v in enumerate([100, 100, 100, 400, 400, 400]):
        rows.append((i, base.replace(day=1 + i), 1, "view", v))
    write_tables(tmp_path, events=[_event(*r) for r in rows])
    [r] = registry.QUERIES["best_split_sse_terms"](spark, str(tmp_path)).collect()
    day3 = int(datetime(2024, 1, 3).timestamp() // 86400)
    assert r["n_days"] == 6
    assert r["best_split_day"] == day3
    # (S_l=300,n=3 ; S_r=1200,n=3 -> 30e6 + 480e6) DIV 6 days
    assert r["best_obj_e3"] == 85_000_000
    assert r["base_obj_e3"] == 62_500_000


def test_session_entry_exit_pairs(spark, tmp_path):
    """Two sessions for one user: (view -> click) then a lone
    purchase 2h later."""
    t0 = datetime(2024, 3, 1, 10, 0, 0)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, t0, 7, "view", 1),
            (2, t0.replace(minute=10), 7, "click", 1),
            (3, t0.replace(hour=13), 7, "purchase", 1),
        ]],
    )
    rows = {
        (r["entry_type"], r["exit_type"]): r["n_sessions"]
        for r in registry.QUERIES["session_entry_exit_matrix"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {("view", "click"): 1, ("purchase", "purchase"): 1}


def test_curriculum_positions_deal_round_robin(spark, tmp_path):
    """20 docs, 10 deciles of 2: positions 1..10 take each decile's
    best doc in decile order, 11..20 the runners-up."""
    docs = [(i, "x" * 10, "en", "s", 1000 - i) for i in range(20)]
    write_tables(tmp_path, documents=docs)
    rows = registry.QUERIES["curriculum_interleave_order"](
        spark, str(tmp_path)
    ).collect()
    assert [r["position"] for r in rows] == list(range(1, 21))
    assert [r["doc_id"] for r in rows] == [
        0, 2, 4, 6, 8, 10, 12, 14, 16, 18, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19
    ]


def test_mmr_prefers_diverse_over_duplicate(spark, tmp_path):
    """An exact duplicate of pick #1 scores rel - 1.0; a slightly less
    relevant but genuinely different vector wins pick #2."""
    vecs = [
        (0, [1.0, 0.0, 0.0], 0),    # query
        (1, [1.0, 0.1, 0.0], 0),    # most relevant -> pick 1
        (2, [1.0, 0.1, 0.0], 0),    # exact duplicate of 1
        (3, [1.0, -0.5, 0.0], 0),   # diverse -> should be pick 2
    ]
    write_tables(tmp_path, embeddings=[(i, [float(x) for x in v], l) for i, v, l in vecs])
    rows = registry.QUERIES["mmr_diverse_topk"](spark, str(tmp_path)).collect()
    picks = [r["vec_id"] for r in rows]
    assert picks[0] == 1
    assert picks[1] == 3, picks  # the duplicate (2) must NOT be second


def test_time_split_straddlers(spark, tmp_path):
    """min day 1, max day 9 -> boundary 5; one of the two test-side
    users also appears in train."""
    d1 = datetime(2024, 1, 1, 12)
    d9 = datetime(2024, 1, 9, 12)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, d1, 1, "view", 1), (2, d9, 1, "view", 1),
         (3, d1, 2, "view", 1), (4, d9, 3, "view", 1)]],
    )
    [r] = registry.QUERIES["time_split_boundary_audit"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_train_rows"], r["n_test_rows"]) == (2, 2)
    assert (r["users_train"], r["users_test"], r["users_both"]) == (2, 2, 1)
    assert r["straddle_share_e6"] == 500_000


def test_bootstrap_replicates_shape(spark, sf_dir):
    """16 deterministic replicates; each mean must sit inside the raw
    value range and n_eff inside [0, 2n]."""
    rows = registry.QUERIES["bootstrap_mean_ci_terms"](spark, sf_dir).collect()
    assert len(rows) == 16
    assert [r["replicate"] for r in rows] == list(range(16))
    from instructions_mr_spark.queries._util import t as _t

    stats = _t(spark, sf_dir, "orders").selectExpr(
        "MIN(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)) AS lo",
        "MAX(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)) AS hi",
        "COUNT(*) AS n",
    ).collect()[0]
    for r in rows:
        assert 0 < r["n_eff"] <= 2 * stats["n"]
        assert stats["lo"] <= r["mean_cents"] <= stats["hi"]
        assert r["mean_cents"] == r["sum_cents"] // r["n_eff"]


def test_engagement_decay_dyadic_weights(spark, tmp_path):
    """Events 0/1/2 weeks before the anchor weigh 1e6 / 5e5 / 25e4."""
    mx = datetime(2024, 6, 30, 12)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, mx, 1, "view", 1),                      # age 0w -> 1e6
            (2, datetime(2024, 6, 23, 12), 1, "view", 1),  # 7d -> 5e5
            (3, datetime(2024, 6, 16, 12), 2, "view", 1),  # 14d -> 25e4
        ]],
    )
    rows = {
        r["band"]: (r["n_users"], r["sum_score_e6"])
        for r in registry.QUERIES["engagement_decay_scores"](
            spark, str(tmp_path)
        ).collect()
    }
    # user1: 1.5e6 -> band 3; user2: 25e4 -> band 0
    assert rows == {3: (1, 1_500_000), 0: (1, 250_000)}


def test_nzv_tie_rule_and_flag(spark, tmp_path):
    """A constant-ish column flags nzv; a two-way tie reports
    freq_ratio exactly 1e6."""
    rows = []
    # l_tax: 90x 0.0, 10x 0.1  -> top share 900000, not > 900000 -> but
    # distinct 2 < 5 -> nzv anyway; l_discount: 50x 0.0, 50x 0.2 -> tie
    for i in range(100):
        tax = 0.0 if i < 90 else 0.1
        disc = 0.0 if i < 50 else 0.2
        rows.append((i, 1, 1, 1, 1.0, 1.0, disc, tax, "N", "O",
                     datetime(2024, 1, 1)))
    write_tables(tmp_path, lineitem=rows)
    write_tables(tmp_path, part=[(1, "p", "B", "T", 5, 1.0)])
    write_tables(tmp_path, events=[
        _event(1, datetime(2024, 1, 1), 1, "view", v) for v in (1, 2, 3, 4, 5, 6)
    ])
    out = {
        r["col"]: r
        for r in registry.QUERIES["near_zero_variance_audit"](
            spark, str(tmp_path)
        ).collect()
    }
    tax = out["lineitem.l_tax"]
    assert (tax["n_distinct"], tax["top_share_e6"]) == (2, 900_000)
    assert tax["freq_ratio_e6"] == 9_000_000
    assert tax["nzv_flag"]  # distinct < 5
    disc = out["lineitem.l_discount"]
    assert disc["freq_ratio_e6"] == 1_000_000  # exact tie
    psize = out["part.p_size"]
    assert psize["freq_ratio_e6"] == -1  # single distinct value
    ev = out["events.value"]
    assert not ev["nzv_flag"] and ev["n_distinct"] == 6


def test_clip_calibration_rank_definition(spark, tmp_path):
    """With n=100 values 1..100 (e6-scaled), p01 = rank 1 and p99 =
    rank 99 under the ceil(q*n) convention."""
    vecs = [(i, [float(i + 1)], 0) for i in range(100)]
    write_tables(tmp_path, embeddings=vecs)
    [r] = registry.QUERIES["embedding_clip_calibration"](
        spark, str(tmp_path)
    ).collect()
    assert (r["dim"], r["n"]) == (1, 100)
    assert r["p01_e6"] == 1_000_000
    assert r["p99_e6"] == 99_000_000


def test_winnowing_density_guarantee(spark, sf_dir):
    """Winnowing invariants on real docs: every window selects
    something, one selection covers at most w consecutive windows —
    so ceil(n_windows / w) <= n_fingerprints <= n_windows."""
    import math

    from instructions_mr_spark.queries.text import _WIN_W

    rows = registry.QUERIES["winnowing_fingerprints"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n_windows = r["n_grams"] - _WIN_W + 1
        assert 1 <= r["n_fingerprints"] <= n_windows
        assert r["n_fingerprints"] >= math.ceil(n_windows / _WIN_W)


def test_simhash_bit_bias_invariants(spark, sf_dir):
    """16 rows per source; n_set <= n_docs; bias_e6 = |2*n_set - n| *
    1e6 DIV n recomputed row-by-row."""
    rows = registry.QUERIES["simhash_bit_bias_by_source"](spark, sf_dir).collect()
    assert rows
    per_source = {}
    for r in rows:
        per_source.setdefault(r["source"], []).append(r)
        assert 0 <= r["n_set"] <= r["n_docs"]
        assert r["bias_e6"] == abs(2 * r["n_set"] - r["n_docs"]) * 1_000_000 // r["n_docs"]
    assert all(len(v) == 16 for v in per_source.values())

"""Semantic pins for the second round-8 batch: Kaplan-Meier
retention, STL daily residuals, Markov stationary power iteration,
log-log elasticity terms, A-Res weighted sampling, RRF rank fusion,
the ORC round trip, and 2-round label propagation — each on a
handcrafted input with a hand-computed answer."""

from __future__ import annotations

import hashlib
import math
from datetime import datetime, timedelta
from decimal import Decimal

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _order(ok, ck, tp, d):
    return (ok, ck, "O", tp, d, "1-URGENT")


def _event(eid, ts, uid, et):
    return (eid, ts, uid, et, 1.0, "{}")


def _part(pk, b, rp):
    return (pk, f"part#{pk}", b, "TYPE_A", 1, rp)


def _line(ok, pk, sk, qty):
    return (ok, pk, sk, 1, qty, 1.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))


def _doc(did, txt):
    return (did, txt, "en", "s", len(txt))


def test_kaplan_meier_hand_curve(spark, tmp_path):
    """3 customers: tenures 10 (event), 50 (event), 200 (censored at
    the horizon).  KM: S(10) = 2/3, S(50) = 1/3 — emitted as running
    10-dp ln sums; the censored tenure row is filtered (no events)."""
    d0 = datetime(2024, 1, 1)
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [
            (1, 1, 1.0, d0), (2, 1, 1.0, d0 + timedelta(days=10)),
            (3, 2, 1.0, d0), (4, 2, 1.0, d0 + timedelta(days=50)),
            (5, 3, 1.0, d0), (6, 3, 1.0, d0 + timedelta(days=200)),
        ]],
    )
    rows = registry.QUERIES["kaplan_meier_retention"](
        spark, str(tmp_path)
    ).collect()
    assert [(r.tenure_days, r.n_risk, r.n_events) for r in rows] == [
        (10, 3, 1),
        (50, 2, 1),
    ]
    assert rows[0].ln_surv_r10 == -0.4054651081  # ln(2/3)
    assert rows[1].ln_surv_r10 == -1.0986122887  # ln(2/3)+ln(1/2)


def test_stl_flat_series_zero_residuals(spark, tmp_path):
    """7 consecutive days at 100 cents: trend = 100 at every offset
    (partial edge windows still average 100), seasonal = 0, residual
    = 0 everywhere."""
    d0 = datetime(2024, 1, 1)
    write_tables(
        tmp_path,
        orders=[_order(i + 1, 1, 1.0, d0 + timedelta(days=i)) for i in range(7)],
    )
    rows = registry.QUERIES["stl_residual_daily"](spark, str(tmp_path)).collect()
    assert len(rows) == 7
    for r in rows:
        assert r.cents == 100 and r.trend_c == 100
        assert r.seasonal_c == 0 and r.resid_c == 0


def test_markov_two_state_alternator(spark, tmp_path):
    """A->B and B->A with probability 1: the uniform start vector is
    already stationary, so v3 = (500000, 500000) exactly."""
    t0 = datetime(2024, 1, 1)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, t0, 1, "A"),
            (2, t0 + timedelta(minutes=1), 1, "B"),
            (3, t0 + timedelta(minutes=2), 1, "A"),
            (4, t0, 2, "B"),
            (5, t0 + timedelta(minutes=1), 2, "A"),
        ]],
    )
    rows = registry.QUERIES["markov_stationary_power"](
        spark, str(tmp_path)
    ).collect()
    assert {(r.state, r.v_e6) for r in rows} == {("A", 500000), ("B", 500000)}


def test_markov_absorbing_state(spark, tmp_path):
    """A->B only, B dangles (self-loop): all of A's mass reaches B by
    step 1 and stays; v3 = (0, 1000000)."""
    t0 = datetime(2024, 1, 1)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [(1, t0, 1, "A"), (2, t0 + timedelta(minutes=1), 1, "B")]],
    )
    rows = registry.QUERIES["markov_stationary_power"](
        spark, str(tmp_path)
    ).collect()
    assert {(r.state, r.v_e6) for r in rows} == {("A", 0), ("B", 1000000)}


def test_elasticity_unit_price_terms(spark, tmp_path):
    """Two parts of one brand at price 1.0 (x = ln 1 = 0), one unit
    sold each (y = ln 2): sx = sxx = sxy = 0, sy = 2 ln 2."""
    write_tables(tmp_path, part=[_part(*r) for r in [(101, "B1", 1.0), (102, "B1", 1.0)]])
    write_tables(tmp_path, lineitem=[_line(*r) for r in [(1, 101, 1, 1.0), (2, 102, 1, 1.0)]])
    r = registry.QUERIES["elasticity_loglog_terms"](
        spark, str(tmp_path)
    ).collect()
    assert len(r) == 1 and r[0].p_brand == "B1" and r[0].n_parts == 2
    assert r[0].sx == 0 and r[0].sxx == 0 and r[0].sxy == 0
    assert r[0].sy == 1.3862943612  # 2 * round(ln 2, 10)


def test_ares_matches_python_replay(spark, tmp_path):
    """The engine's top-20 must equal a from-scratch Python replay of
    the A-Res key (md5-uniform, 10-dp rounded -ln, integer DIV by
    cents) — pinning hash portability AND the arithmetic."""
    d = datetime(2024, 1, 1)
    write_tables(
        tmp_path,
        orders=[_order(ok, 1, float(ok), d) for ok in range(1, 31)],
    )
    expected = []
    for ok in range(1, 31):
        h = int(hashlib.md5(f"{ok}#71".encode()).hexdigest()[:15], 16)
        u = (h + 1) / 1152921504606846976.0
        lnneg = Decimal(str(round(-math.log(u), 10)))
        cents = ok * 100
        expected.append((int(lnneg * 10**16) // cents, ok))
    expected.sort()
    rows = registry.QUERIES["sample_weighted_ares"](
        spark, str(tmp_path)
    ).collect()
    assert [(r.ares_key, r.o_orderkey) for r in rows] == expected[:20]


def test_rrf_tie_breaks_by_doc_id(spark, tmp_path):
    """doc1 (tf rank 1, len rank 3) and doc2 (tf rank 3, len rank 1)
    fuse to the same RRF score (1e9//61 + 1e9//63); doc1 wins the tie
    on doc_id.  doc3 (rank 2 twice) scores 2 * 1e9//62, strictly
    less."""
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, "join join merge aa"), (2, "join"), (3, "sort merge")]],
    )
    rows = registry.QUERIES["rank_fusion_rrf"](spark, str(tmp_path)).collect()
    assert [r.doc_id for r in rows] == [1, 2, 3]
    s_13 = 10**9 // 61 + 10**9 // 63
    assert rows[0].rrf_e9 == s_13 and rows[1].rrf_e9 == s_13
    assert rows[2].rrf_e9 == 2 * (10**9 // 62)


def test_orc_roundtrip_bit_exact(spark, tmp_path):
    """Rows written to ORC come back exactly, including negative
    DOUBLE balances."""
    data = [(1, "alpha", 3, -12.34), (2, "beta", 5, 9999.99)]
    write_tables(tmp_path, supplier=data)
    rows = registry.QUERIES["orc_roundtrip"](spark, str(tmp_path)).collect()
    assert sorted((r.s_suppkey, r.s_name, r.s_nationkey, r.s_acctbal) for r in rows) == data


def test_label_propagation_star(spark, tmp_path):
    """Parts {1,2} both supplied by supplier 1 (node 1e9+1): round 1
    gives parts the supplier's label and the supplier label 1 (min of
    the tied part labels); round 2 flips — parts converge on label 1,
    the supplier re-adopts the parts' round-1 label.  Communities:
    {1: 2 members, 1000000001: 1}."""
    write_tables(tmp_path, lineitem=[_line(*r) for r in [(1, 1, 1, 1.0), (2, 2, 1, 1.0)]])
    rows = registry.QUERIES["label_propagation_2round"](
        spark, str(tmp_path)
    ).collect()
    assert [(r.community, r.n_members) for r in rows] == [
        (1, 2),
        (1000000001, 1),
    ]


def test_theil_sen_hand_slopes(spark, tmp_path):
    """Days 0/1/2 at 100/200/400 cents: pairwise slopes 1e8, 1.5e8,
    2e8 — the median straddle is (1.5e8, 1.5e8)."""
    d0 = datetime(2024, 1, 1)
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [
            (1, 1, 1.0, d0),
            (2, 1, 2.0, d0 + timedelta(days=1)),
            (3, 1, 4.0, d0 + timedelta(days=2)),
        ]],
    )
    r = registry.QUERIES["theil_sen_slope"](spark, str(tmp_path)).collect()[0]
    assert r.n_pairs == 3
    assert r.slope_lo_e6 == 150000000 and r.slope_hi_e6 == 150000000


def test_ams_f2_matches_python_replay(spark, tmp_path):
    """Counts {101: 2, 202: 1}: exact F2 = 5 on every seed row, the
    estimate is S^2, and S replays from the portable md5 parity."""
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 101, 1, 1.0), (2, 101, 1, 1.0), (3, 202, 1, 1.0)]],
    )
    rows = registry.QUERIES["sketch_ams_f2"](spark, str(tmp_path)).collect()
    assert [r.seed for r in rows] == [31, 37, 41, 43]
    for r in rows:
        s = 0
        for key, cnt in ((101, 2), (202, 1)):
            h = int(hashlib.md5(f"{key}#{r.seed}".encode()).hexdigest()[:15], 16)
            s += cnt if h % 2 == 0 else -cnt
        assert r.s_value == s
        assert r.f2_estimate == s * s and r.f2_exact == 5


def test_k_core_complete_bipartite_stable(spark, tmp_path):
    """K_{2,2} is its own 2-core: every node has degree 2, so the
    trace is flat at (4 nodes, 4 edges) for all three rounds."""
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 1, 1, 1.0), (2, 1, 2, 1.0), (3, 2, 1, 1.0), (4, 2, 2, 1.0)]],
    )
    rows = registry.QUERIES["k_core_peel3"](spark, str(tmp_path)).collect()
    assert [(r.round, r.n_nodes, r.n_edges) for r in rows] == [
        (1, 4, 4.0),
        (2, 4, 4.0),
        (3, 4, 4.0),
    ]


def test_k_core_star_collapses(spark, tmp_path):
    """A star (supplier serving parts 1 and 2) has leaf degrees 1:
    round 1 keeps only the hub but no edges survive; rounds 2-3 are
    empty."""
    write_tables(tmp_path, lineitem=[_line(*r) for r in [(1, 1, 1, 1.0), (2, 2, 1, 1.0)]])
    rows = registry.QUERIES["k_core_peel3"](spark, str(tmp_path)).collect()
    assert [(r.round, r.n_nodes, r.n_edges) for r in rows] == [
        (1, 1, 0.0),
        (2, 0, 0.0),
        (3, 0, 0.0),
    ]


def test_reciprocal_best_match_mutual_only(spark, tmp_path):
    """s1(10.00)-c1(10.50) are mutual nearest (50 cents); s2's best
    is also c1, so s2 matches nothing."""
    write_tables(
        tmp_path,
        supplier=[(1, "s1", 1, 10.0), (2, "s2", 1, 20.0)],
    )
    cust = [(1, "c1", 1, 10.5, "A"), (2, "c2", 1, 30.0, "A")]
    write_tables(tmp_path, customer=cust)
    rows = registry.QUERIES["reciprocal_best_match"](
        spark, str(tmp_path)
    ).collect()
    assert [(r.s_suppkey, r.c_custkey, r.dist_cents) for r in rows] == [
        (1, 1, 50)
    ]


def test_markov_removal_symmetric_channels(spark, tmp_path):
    """u1 click->purchase, u2 view->purchase, u3 click->(nothing):
    base P(conv) = 2/3 (e6: 666666); removing either channel leaves
    exactly half the conversion mass, so both get removal effect
    500000 and a 50/50 attribution split."""
    t0 = datetime(2024, 1, 1)

    def ev(i, uid, minutes, typ):
        return (i, t0 + timedelta(minutes=minutes), uid, typ)

    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            ev(1, 1, 0, "click"), ev(2, 1, 1, "purchase"),
            ev(3, 2, 0, "view"), ev(4, 2, 1, "purchase"),
            ev(5, 3, 0, "click"),
        ]],
    )
    rows = registry.QUERIES["attribution_markov_removal"](
        spark, str(tmp_path)
    ).collect()
    assert [
        (r.channel, r.conv_base_e6, r.conv_removed_e6,
         r.removal_effect_e6, r.attribution_e6)
        for r in rows
    ] == [
        ("click", 666666, 333333, 500000, 500000),
        ("view", 666666, 333333, 500000, 500000),
    ]


def test_ppr_star_hand_walk(spark, tmp_path):
    """Parts {1,2} under one supplier, seed part 1: four quantized
    damped steps give p1 = 465190625 e9-units and p2 = 315190625
    (hand-traced, including the per-step restart re-injection)."""
    write_tables(tmp_path, lineitem=[_line(*r) for r in [(1, 1, 1, 1.0), (2, 2, 1, 1.0)]])
    rows = registry.QUERIES["ppr_recommend_parts"](
        spark, str(tmp_path)
    ).collect()
    assert [(r.part, r.ppr_e9) for r in rows] == [
        (1, 465190625),
        (2, 315190625),
    ]

"""Semantic pins for the round-7h additions: Gini revenue
inequality, HHI concentration, rank-sum AUC, weekly DAU/WAU
stickiness, and the order-total reconciliation audit — each on a
handcrafted input with a hand-computed answer."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _customer(ck, seg):
    return (ck, f"Customer#{ck}", 1, 0.0, seg)


def _order(ok, ck, tp):
    return (ok, ck, "O", tp, datetime(2024, 1, 1), "1-URGENT")


def _line(ok, ep):
    """Discount and tax are zero, so the line charge IS the extended price."""
    return (ok, 1, 1, 1, 1.0, ep, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))


def _event(eid, ts, uid):
    return (eid, ts, uid, "view", 1.0, "{}")


def _doc(did, lang, nc):
    return (did, "x", lang, "s", nc)


def test_gini_hand_value(spark, tmp_path):
    """Revenues 10/20/30/40 in one segment: G = (2*30000 - 5*10000)
    / (4*10000) = 0.25; a second all-equal segment reads 0."""
    write_tables(
        tmp_path,
        customer=[_customer(*r) for r in [(1, "A"), (2, "A"), (3, "A"), (4, "A"), (5, "B"), (6, "B")]],
    )
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [
            (1, 1, 10.0),
            (2, 2, 20.0),
            (3, 3, 30.0),
            (4, 4, 40.0),
            (5, 5, 7.0),
            (6, 6, 7.0),
        ]],
    )
    got = {
        r.segment: r
        for r in registry.QUERIES["gini_revenue_inequality"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["A"].gini_e6 == 250000
    assert got["A"].n_customers == 4 and got["A"].total_cents == 10000
    assert got["B"].gini_e6 == 0


def test_hhi_hand_value(spark, tmp_path):
    """Shares 1/4, 1/4, 1/2: HHI = 2*(1/16) + 1/4 = 0.375; top-1
    share = 0.5."""
    write_tables(tmp_path, customer=[_customer(*r) for r in [(1, "A"), (2, "A"), (3, "A")]])
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, 10.0), (2, 2, 10.0), (3, 3, 20.0)]])
    row = registry.QUERIES["hhi_concentration"](spark, str(tmp_path)).collect()[0]
    assert row.hhi_e6 == 375000
    assert row.top1_share_e6 == 500000
    assert row.n_customers == 3 and row.total_cents == 4000


def test_auc_ties_half_credit(spark, tmp_path):
    """pos lengths {3, 5}, neg lengths {1, 3}: U = 3.5 of 4 pairs
    (the 3-3 tie pays half) -> AUC 0.875."""
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, "en", 3), (2, "en", 5), (3, "fr", 1), (4, "de", 3)]],
    )
    row = registry.QUERIES["auc_mann_whitney"](spark, str(tmp_path)).collect()[0]
    assert (row.n_pos, row.n_neg, row.u2, row.auc_e6) == (2, 2, 7, 875000)


def test_dau_wau_hand_value(spark, tmp_path):
    """u1 active two days, u2 one day, same week: sum_dau = 3 over
    2 active days, WAU = 2 -> stickiness 3/(2*2) = 0.75."""
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 1),
            (2, datetime(2024, 1, 1, 11), 1),
            (3, datetime(2024, 1, 2, 10), 1),
            (4, datetime(2024, 1, 1, 12), 2),
        ]],
    )
    row = registry.QUERIES["dau_wau_stickiness"](spark, str(tmp_path)).collect()[0]
    assert (row.wau, row.n_days, row.sum_dau, row.stickiness_e6) == (
        2,
        2,
        3,
        750000,
    )


def test_recon_exact_tolerance_and_orphan_header(spark, tmp_path):
    """Order 1 reconciles exactly, order 2 is off by 50 cents
    (within 1%% of $100), order 3 has no lines at all (off by its
    full $50)."""
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [(1, 1, 20.0), (2, 1, 100.0), (3, 1, 50.0)]],
    )
    write_tables(tmp_path, lineitem=[_line(*r) for r in [(1, 20.0), (2, 99.5)]])
    row = registry.QUERIES["recon_order_totals"](spark, str(tmp_path)).collect()[0]
    assert (
        row.n_orders,
        row.n_exact,
        row.n_within_1pct,
        row.max_abs_diff_cents,
    ) == (3, 1, 2, 5000)


def _line_full(ok, pk, ln, q, rf, sd):
    return (ok, pk, 1, ln, float(q), 10.0, 0.0, 0.0, rf, "O", sd)


def _valued_event(eid, ts, v):
    return (eid, ts, 1, "view", v, "{}")


def test_hits_two_iterations_hand_values(spark, tmp_path):
    """Edges 1->2, 1->3, 2->3 (each pair in two orders): a1 = indeg
    (2:1, 3:2); h1(1)=3, h1(2)=2; a2(2)=3, a2(3)=5; h2(1)=8,
    h2(2)=5."""
    write_tables(
        tmp_path,
        lineitem=[_line_full(*r) for r in [
            (1, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (1, 2, 2, 1, "N", datetime(2024, 1, 1)),
            (1, 3, 3, 1, "N", datetime(2024, 1, 1)),
            (2, 1, 1, 1, "N", datetime(2024, 1, 2)),
            (2, 2, 2, 1, "N", datetime(2024, 1, 2)),
            (2, 3, 3, 1, "N", datetime(2024, 1, 2)),
        ]],
    )
    got = registry.QUERIES["graph_hits_unnormalized"](
        spark, str(tmp_path)
    ).collect()
    rows = [(r.part, r.authority2, r.hub2) for r in got]
    assert rows == [(3, 5, 0), (2, 3, 5), (1, 0, 8)]


def test_itemset3_counts_only_repeated_triples(spark, tmp_path):
    """Orders 1 and 2 share basket {1,2,3}; order 3's {1,2,4} triple
    appears once -> only (1,2,3) with support 2 survives."""
    write_tables(
        tmp_path,
        lineitem=[_line_full(*r) for r in [
            (1, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (1, 2, 2, 1, "N", datetime(2024, 1, 1)),
            (1, 3, 3, 1, "N", datetime(2024, 1, 1)),
            (2, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (2, 2, 2, 1, "N", datetime(2024, 1, 1)),
            (2, 3, 3, 1, "N", datetime(2024, 1, 1)),
            (3, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (3, 2, 2, 1, "N", datetime(2024, 1, 1)),
            (3, 4, 3, 1, "N", datetime(2024, 1, 1)),
        ]],
    )
    got = registry.QUERIES["itemset3_support"](spark, str(tmp_path)).collect()
    assert [(r.part_a, r.part_b, r.part_c, r.support) for r in got] == [
        (1, 2, 3, 2)
    ]


def test_inventory_running_balance(spark, tmp_path):
    """Draw 5, restock 10, draw 3 -> balances -5, +5, +2: min -5,
    one below-zero move, mass 2."""
    write_tables(
        tmp_path,
        lineitem=[_line_full(*r) for r in [
            (1, 7, 1, 5, "N", datetime(2024, 1, 1)),
            (2, 7, 1, 10, "R", datetime(2024, 1, 2)),
            (3, 7, 1, 3, "N", datetime(2024, 1, 3)),
        ]],
    )
    row = registry.QUERIES["inventory_stockout_scan"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (row.part, row.n_moves, row.min_balance, row.n_below_zero,
            row.balance_mass) == (7, 3, -5, 1, 2)


def test_kendall_terms_hand_values(spark, tmp_path):
    """Daily cents 1, 3, 2 -> pairs (1,3) and (1,2) concordant,
    (3,2) discordant."""
    write_tables(
        tmp_path,
        events=[_valued_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 0.01),
            (2, datetime(2024, 1, 2, 10), 0.03),
            (3, datetime(2024, 1, 3, 10), 0.02),
        ]],
    )
    row = registry.QUERIES["kendall_tau_terms"](spark, str(tmp_path)).collect()[0]
    assert (row.n_days, row.concordant, row.discordant, row.tied) == (3, 2, 1, 0)


def test_ordinal_pattern_code(spark, tmp_path):
    """Window (1, 3, 2): up, down, up -> code 2*9 + 0*3 + 2 = 20."""
    write_tables(
        tmp_path,
        events=[_valued_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 0.01),
            (2, datetime(2024, 1, 2, 10), 0.03),
            (3, datetime(2024, 1, 3, 10), 0.02),
        ]],
    )
    got = registry.QUERIES["ordinal_pattern_counts"](
        spark, str(tmp_path)
    ).collect()
    assert [(r.pattern, r.n) for r in got] == [(20, 1)]


def test_bellman_ford_weighted_costs(spark, tmp_path):
    """Edges (1,2) w=4 and (2,3) w=1 (weights 1+(a+b)%%5), seed 1:
    best costs 0, 4, 5 -> one vertex at each."""
    write_tables(
        tmp_path,
        lineitem=[_line_full(*r) for r in [
            (1, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (1, 2, 2, 1, "N", datetime(2024, 1, 1)),
            (2, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (2, 2, 2, 1, "N", datetime(2024, 1, 1)),
            (3, 2, 1, 1, "N", datetime(2024, 1, 1)),
            (3, 3, 2, 1, "N", datetime(2024, 1, 1)),
            (4, 2, 1, 1, "N", datetime(2024, 1, 1)),
            (4, 3, 2, 1, "N", datetime(2024, 1, 1)),
        ]],
    )
    got = sorted(
        (r.cost, r.n_vertices)
        for r in registry.QUERIES["bellman_ford_bounded"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [(0, 1), (4, 1), (5, 1)]


def test_ngram_novelty_first_seen(spark, tmp_path):
    """Doc 1 introduces both its grams; doc 2 repeats one of them;
    doc 3 (other source) only repeats -> A 3/4 novel, B 0/1."""
    docs = [
        (1, "a b c d", "en", "A", 7),
        (2, "a b c x", "en", "A", 7),
        (3, "a b c", "en", "B", 5),
    ]
    write_tables(tmp_path, documents=docs)
    got = {
        r.source: r
        for r in registry.QUERIES["ngram_novelty_rate"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got["A"].n_grams, got["A"].n_novel, got["A"].novelty_e6) == (
        4,
        3,
        750000,
    )
    assert (got["B"].n_grams, got["B"].n_novel, got["B"].novelty_e6) == (1, 0, 0)


def test_decile_lift_hand_values(spark, tmp_path):
    """10 docs, length-descending ids, the two longest are 'en':
    decile 1 and 2 each hold one positive -> cumulative lift 5x
    through decile 2, then decaying."""
    rows = [
        (i, "x", ("en" if i <= 2 else "fr"), "s", 11 - i) for i in range(1, 11)
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        r.decile: r
        for r in registry.QUERIES["decile_lift_table"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got) == 10 and all(got[d].n_docs == 1 for d in got)
    assert got[1].pos_rate_e6 == 1000000 and got[1].cum_lift_e6 == 5000000
    assert got[2].cum_lift_e6 == 5000000
    assert got[3].cum_lift_e6 == 3333333
    assert got[10].cum_lift_e6 == 1000000


def test_winsorize_fences_and_sums(spark, tmp_path):
    """Cents 1..20: lo fence 1, hi fence 19 -> only the 20 clips,
    sum drops from 210 to 209."""
    write_tables(
        tmp_path,
        events=[_valued_event(i, datetime(2024, 1, 1, 10, i), i / 100.0) for i in range(1, 21)],
    )
    row = registry.QUERIES["winsorize_clip_stats"](spark, str(tmp_path)).collect()[0]
    assert (row.n, row.lo_cents, row.hi_cents) == (20, 1, 19)
    assert (row.sum_cents, row.sum_winsorized) == (210, 209)
    assert (row.n_clipped_low, row.n_clipped_high) == (0, 1)


def test_acf_lag1_moments(spark, tmp_path):
    """Daily dollars 1, 2, 3: lag-1 pairs (1,2),(2,3) -> s_xy 8,
    s_x 3, s_y 5, s_xx 5, s_yy 13; no lag-7 pairs exist."""
    write_tables(
        tmp_path,
        events=[_valued_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 1.0),
            (2, datetime(2024, 1, 2, 10), 2.0),
            (3, datetime(2024, 1, 3, 10), 3.0),
        ]],
    )
    got = registry.QUERIES["acf_lag_terms"](spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0].lag == 1
    r = got[0]
    assert (r.n_pairs, r.s_xy, r.s_x, r.s_y, r.s_xx, r.s_yy) == (2, 8, 3, 5, 5, 13)


def test_chi2_terms_hand_values(spark, tmp_path):
    """Cells (en,A)=2, (en,B)=1, (fr,A)=1: expected shares 2.25 /
    0.75 / 0.75; contributions 1/36, 1/12, 1/12."""
    rows = [
        (1, "x", "en", "A", 5),
        (2, "x", "en", "A", 5),
        (3, "x", "en", "B", 5),
        (4, "x", "fr", "A", 5),
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        (r.lang, r.source): r
        for r in registry.QUERIES["chi2_lang_source_terms"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[("en", "A")].observed == 2
    assert got[("en", "A")].expected_e6 == 2250000
    assert got[("en", "A")].contrib_e6 == 27777
    assert got[("en", "B")].expected_e6 == 750000
    assert got[("en", "B")].contrib_e6 == 83333
    assert got[("fr", "A")].contrib_e6 == 83333


def _part(pk, br):
    return (pk, f"part{pk}", br, "TYPE", 1, 1.0)


def _line_priced(ok, pk, ep, sd):
    return (ok, pk, 1, 1, 1.0, ep, 0.0, 0.0, "N", "O", sd)


def test_brand_share_shift_hand_values(spark, tmp_path):
    """Early half: both brands $100 (50/50).  Late half: only B1
    ($300) -> B1 gains 50 points, B2 loses 50."""
    write_tables(tmp_path, part=[_part(*r) for r in [(1, "B1"), (2, "B2")]])
    write_tables(
        tmp_path,
        lineitem=[_line_priced(*r) for r in [
            (1, 1, 100.0, datetime(2024, 1, 1)),
            (2, 2, 100.0, datetime(2024, 1, 1)),
            (3, 1, 300.0, datetime(2024, 1, 11)),
        ]],
    )
    got = {
        r.brand: r
        for r in registry.QUERIES["brand_share_shift"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got["B1"].early_share_e6, got["B1"].late_share_e6,
            got["B1"].delta_e6) == (500000, 1000000, 500000)
    assert (got["B2"].early_share_e6, got["B2"].late_share_e6,
            got["B2"].delta_e6) == (500000, 0, -500000)


def test_backlog_aging_buckets(spark, tmp_path):
    """Ages 0, 200, 400, 1200 days vs the newest open order land in
    buckets 0, 1, 2 and the capped 6."""
    base = datetime(2024, 12, 31)
    from datetime import timedelta

    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [(1, 1, 10.0)]],
    )
    rows = [
        (1, 1, "O", 10.0, base, "1-URGENT"),
        (2, 1, "O", 10.0, base - timedelta(days=200), "1-URGENT"),
        (3, 1, "O", 10.0, base - timedelta(days=400), "1-URGENT"),
        (4, 1, "O", 10.0, base - timedelta(days=1200), "1-URGENT"),
        (5, 1, "F", 10.0, base - timedelta(days=900), "1-URGENT"),
    ]
    write_tables(tmp_path, orders=rows)
    got = sorted(
        (r.age_bucket, r.n_orders)
        for r in registry.QUERIES["backlog_aging_buckets"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [(0, 1), (1, 1), (2, 1), (6, 1)]


def test_filter_waterfall_stages(spark, tmp_path):
    """4 docs: one passes everything, one fails words, one fails
    length, one fails language -> 4, 3, 2, 1 down the gates."""
    long_text = " ".join(f"w{i}" for i in range(25))
    rows = [
        (1, long_text, "en", "A", 150),
        (2, "short text", "en", "A", 150),
        (3, long_text, "en", "A", 50),
        (4, long_text, "fr", "A", 150),
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        r.stage: r
        for r in registry.QUERIES["filter_waterfall_attrition"](
            spark, str(tmp_path)
        ).collect()
    }
    assert [(got[s].n_surviving, got[s].survival_e6) for s in range(4)] == [
        (4, 1000000),
        (3, 750000),
        (2, 500000),
        (1, 250000),
    ]


def test_stream_topk_types_batch_twin(spark, tmp_path):
    """One hour with counts a=3, b=2, c=1, d=1 -> top-3 is a, b, c
    (alphabetical tie-break keeps d out)."""
    rows = [
        (1, datetime(2024, 1, 1, 10, 1), 1, "a", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 2), 1, "a", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 10, 3), 1, "a", 1.0, "{}"),
        (4, datetime(2024, 1, 1, 10, 4), 1, "b", 1.0, "{}"),
        (5, datetime(2024, 1, 1, 10, 5), 1, "b", 1.0, "{}"),
        (6, datetime(2024, 1, 1, 10, 6), 1, "c", 1.0, "{}"),
        (7, datetime(2024, 1, 1, 10, 7), 1, "d", 1.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = sorted(
        (r.rnk, r.event_type, r.n)
        for r in registry.QUERIES["stream_topk_types"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [(1, "a", 3), (2, "b", 2), (3, "c", 1)]


def test_runs_test_hand_values(spark, tmp_path):
    """Daily cents 1, 5, 5, 1 with median 1: signs 0,1,1,0 -> 3 runs,
    two days above, two at-or-below."""
    write_tables(
        tmp_path,
        events=[_valued_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 0.01),
            (2, datetime(2024, 1, 2, 10), 0.05),
            (3, datetime(2024, 1, 3, 10), 0.05),
            (4, datetime(2024, 1, 4, 10), 0.01),
        ]],
    )
    row = registry.QUERIES["runs_test_counts"](spark, str(tmp_path)).collect()[0]
    assert (row.n_days, row.n_above, row.n_below, row.n_runs) == (4, 2, 2, 3)


def test_interpurchase_gaps(spark, tmp_path):
    """One customer ordering on days 0, 10, 40 -> gaps 10 and 30:
    median 10, p90 30."""
    from datetime import timedelta

    base = datetime(2024, 1, 1)
    write_tables(tmp_path, customer=[_customer(*r) for r in [(1, "A")]])
    rows = [
        (1, 1, "O", 10.0, base, "1-URGENT"),
        (2, 1, "O", 10.0, base + timedelta(days=10), "1-URGENT"),
        (3, 1, "O", 10.0, base + timedelta(days=40), "1-URGENT"),
    ]
    write_tables(tmp_path, orders=rows)
    row = registry.QUERIES["interpurchase_gap_profile"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (row.n_gaps, row.median_gap_days, row.p90_gap_days) == (2, 10, 30)


def test_wow_revenue_delta(spark, tmp_path):
    """Week totals 100 then 150 cents -> delta +50, ratio 1.5e6."""
    write_tables(
        tmp_path,
        events=[_valued_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 1.00),
            (2, datetime(2024, 1, 15, 10), 1.50),
        ]],
    )
    got = registry.QUERIES["wow_revenue_delta"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.prev_cents, r.cur_cents, r.delta_cents, r.ratio_e6) == (
        100,
        150,
        50,
        1500000,
    )


def test_shipment_latency_audit(spark, tmp_path):
    """Gaps 10 and 100 days: one SLA breach of two lines."""
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, 10.0)]])
    write_tables(
        tmp_path,
        lineitem=[_line_priced(*r) for r in [
            (1, 1, 10.0, datetime(2024, 1, 11)),
            (1, 1, 10.0, datetime(2024, 4, 10)),
        ]],
    )
    row = registry.QUERIES["shipment_latency_audit"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (row.n_lines, row.sum_gap_days, row.max_gap_days, row.n_over_90,
            row.late_share_e6) == (2, 110, 100, 1, 500000)


def test_hash_shard_balance_matches_reference_digest(spark, tmp_path):
    """The shard assignment IS the portable md5-60 digest mod 32 —
    pin one key against a pure-python recompute, and the load factor
    of a single-row table is 32e6 on its shard."""
    import hashlib

    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, 10.0)]])
    expected_shard = int(hashlib.md5(b"1#13").hexdigest()[:15], 16) % 32
    got = registry.QUERIES["hash_shard_balance"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert (got[0].shard, got[0].n, got[0].load_e6) == (
        expected_shard,
        1,
        32000000,
    )


def test_attribution_linear_even_split(spark, tmp_path):
    """Journey view, click, view -> purchase: 3333 bp each with the
    remainder (1 bp) on the last touch -> view 6667, click 3333."""
    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 1), 1, "click", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 10, 2), 1, "view", 1.0, "{}"),
        (4, datetime(2024, 1, 1, 10, 3), 1, "purchase", 1.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.channel: r
        for r in registry.QUERIES["attribution_linear"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got["view"].n_touches, got["view"].credit_bp) == (2, 6667)
    assert (got["click"].n_touches, got["click"].credit_bp) == (1, 3333)


def test_user_acquisition_curve(spark, tmp_path):
    """u1 appears day 1; u1 and u2 day 2 -> new 1/1, cumulative 1/2."""
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 1),
            (2, datetime(2024, 1, 2, 10), 1),
            (3, datetime(2024, 1, 2, 11), 2),
        ]],
    )
    got = sorted(
        (r.n_active, r.n_new, r.cum_users)
        for r in registry.QUERIES["user_acquisition_curve"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [(1, 1, 1), (2, 1, 2)]


def test_discount_volume_curve(spark, tmp_path):
    """Band 5%% holds qty 3+5 (avg 4), band 0%% holds qty 1."""
    rows = [
        (1, 1, 1, 1, 3.0, 10.0, 0.05, 0.0, "N", "O", datetime(2024, 1, 1)),
        (2, 1, 1, 1, 5.0, 10.0, 0.05, 0.0, "N", "O", datetime(2024, 1, 1)),
        (3, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1)),
    ]
    write_tables(tmp_path, lineitem=rows)
    got = {
        r.discount_pct: r
        for r in registry.QUERIES["discount_volume_curve"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got[5].n_lines, got[5].sum_qty, got[5].qty_per_line_e6) == (
        2,
        8,
        4000000,
    )
    assert (got[0].n_lines, got[0].sum_qty, got[0].qty_per_line_e6) == (
        1,
        1,
        1000000,
    )


def test_source_vocab_overlap_jaccard(spark, tmp_path):
    """Vocab A = {a,b,c}, B = {b,c,d}: 2 shared of 4 union = 0.5."""
    rows = [
        (1, "a b c", "en", "A", 5),
        (2, "b c d", "en", "B", 5),
    ]
    write_tables(tmp_path, documents=rows)
    got = registry.QUERIES["source_vocab_overlap"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.source_a, r.source_b, r.n_vocab_a, r.n_vocab_b, r.n_shared,
            r.jaccard_e6) == ("A", "B", 3, 3, 2, 500000)


def test_dim_coverage_audit(spark, tmp_path):
    """Customer 2 of 2 never ordered -> 50%%; the single part and
    supplier are both referenced -> 100%%."""
    write_tables(tmp_path, customer=[_customer(*r) for r in [(1, "A"), (2, "A")]])
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, 10.0)]])
    write_tables(tmp_path, part=[_part(*r) for r in [(1, "B1")]])
    write_tables(
        tmp_path,
        lineitem=[_line_priced(*r) for r in [(1, 1, 10.0, datetime(2024, 1, 1))]],
    )
    write_tables(tmp_path, supplier=[(1, "Supplier#1", 1, 0.0)])
    got = {
        r.dim: r
        for r in registry.QUERIES["dim_coverage_audit"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got["customer"].n_rows, got["customer"].n_referenced,
            got["customer"].coverage_e6) == (2, 1, 500000)
    assert got["part"].coverage_e6 == 1000000
    assert got["supplier"].coverage_e6 == 1000000


def test_set_ops_bag_multiplicities(spark, tmp_path):
    """Customer nks {1,1,2}, supplier nks {1,3}: INTERSECT ALL keeps
    one copy of 1; EXCEPT ALL keeps the surplus 1 and the 2."""
    write_tables(tmp_path, customer=[_customer(*r) for r in [(1, "A"), (2, "A"), (3, "A")]])
    write_tables(tmp_path, customer=[
        (1, "c1", 1, 0.0, "A"),
        (2, "c2", 1, 0.0, "A"),
        (3, "c3", 2, 0.0, "A"),
    ])
    write_tables(tmp_path, supplier=[(1, "s1", 1, 0.0), (2, "s2", 3, 0.0)])
    got = sorted(
        (r.op, r.nk, r.n)
        for r in registry.QUERIES["set_ops_bag_semantics"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [
        ("except_all", 1, 1),
        ("except_all", 2, 1),
        ("intersect_all", 1, 1),
    ]


def test_cart_abandonment_daily(spark, tmp_path):
    """Day 1: u1 clicks and buys, u2 clicks only, u3 only views ->
    2 clickers, 1 converted, 50%% abandonment."""
    rows = [
        (1, datetime(2024, 1, 1, 10), 1, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 11), 1, "purchase", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 10), 2, "click", 1.0, "{}"),
        (4, datetime(2024, 1, 1, 10), 3, "view", 1.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = registry.QUERIES["cart_abandonment_daily"](
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_clickers, r.n_converted, r.abandonment_e6) == (2, 1, 500000)


def test_brand_return_rates(spark, tmp_path):
    """Brand B1: one returned line of two (rate 0.5, 1000 cents
    back); B2 clean."""
    write_tables(tmp_path, part=[_part(*r) for r in [(1, "B1"), (2, "B2")]])
    rows = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "R", "O", datetime(2024, 1, 1)),
        (2, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1)),
        (3, 2, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1)),
    ]
    write_tables(tmp_path, lineitem=rows)
    got = {
        r.brand: r
        for r in registry.QUERIES["brand_return_rates"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got["B1"].n_lines, got["B1"].n_returned, got["B1"].return_rate_e6,
            got["B1"].returned_cents) == (2, 1, 500000, 1000)
    assert (got["B2"].n_returned, got["B2"].return_rate_e6) == (0, 0)


def test_priceband_segment_mix_shares(spark, tmp_path):
    """Segment A buys $30 in band 90 and $10 in band 91 -> shares
    750000 / 250000 within the segment."""
    write_tables(tmp_path, customer=[_customer(*r) for r in [(1, "A")]])
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, 40.0)]])
    write_tables(tmp_path, part=[
        (1, "p1", "B1", "T", 1, 905.0),
        (2, "p2", "B1", "T", 1, 915.0),
    ])
    write_tables(
        tmp_path,
        lineitem=[_line_priced(*r) for r in [
            (1, 1, 30.0, datetime(2024, 1, 1)),
            (1, 2, 10.0, datetime(2024, 1, 1)),
        ]],
    )
    got = {
        r.price_band: r
        for r in registry.QUERIES["priceband_segment_mix"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got[90].rev_cents, got[90].seg_share_e6) == (3000, 750000)
    assert (got[91].rev_cents, got[91].seg_share_e6) == (1000, 250000)


def test_sentence_length_profile(spark, tmp_path):
    """Sentences of 2, 2 and 4 words: median 2, p90 4, 8 words
    total."""
    rows = [(1, "a b. c d. e f g h.", "en", "s", 18)]
    write_tables(tmp_path, documents=rows)
    row = registry.QUERIES["sentence_length_profile"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (row.n_sentences, row.sum_words, row.median_words, row.p90_words) == (
        3,
        8,
        2,
        4,
    )


def test_copurchase_lift_hand_values(spark, tmp_path):
    """Pair (1,2) in 2 of 4 baskets; item counts 3 and 2:
    conf 2/3 and 1, lift 2*4/(3*2) = 4/3."""
    write_tables(
        tmp_path,
        lineitem=[_line_full(*r) for r in [
            (1, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (1, 2, 2, 1, "N", datetime(2024, 1, 1)),
            (2, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (2, 2, 2, 1, "N", datetime(2024, 1, 1)),
            (3, 1, 1, 1, "N", datetime(2024, 1, 1)),
            (4, 3, 1, 1, "N", datetime(2024, 1, 1)),
        ]],
    )
    got = registry.QUERIES["copurchase_lift"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.part_a, r.part_b, r.support) == (1, 2, 2)
    assert (r.conf_ab_e6, r.conf_ba_e6, r.lift_e6) == (666666, 1000000, 1333333)


def test_segment_migration_antidiagonal(spark, tmp_path):
    """Early ranks c1>c2>c3 reverse to c3>c2>c1 late: pure
    anti-diagonal migration matrix."""
    from datetime import timedelta

    base = datetime(2024, 1, 1)
    rows = [
        (1, 1, "O", 3.0, base, "1-URGENT"),
        (2, 2, "O", 2.0, base, "1-URGENT"),
        (3, 3, "O", 1.0, base, "1-URGENT"),
        (4, 1, "O", 1.0, base + timedelta(days=10), "1-URGENT"),
        (5, 2, "O", 2.0, base + timedelta(days=10), "1-URGENT"),
        (6, 3, "O", 3.0, base + timedelta(days=10), "1-URGENT"),
    ]
    write_tables(tmp_path, orders=rows)
    got = sorted(
        (r.tier_early, r.tier_late, r.n_customers)
        for r in registry.QUERIES["segment_migration_matrix"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [(0, 2, 1), (1, 1, 1), (2, 0, 1)]


def test_user_activity_depth(spark, tmp_path):
    """u1 on 2 days, u2 on 1 day -> histogram {2: 1 user, 1: 1
    user}."""
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 1),
            (2, datetime(2024, 1, 2, 10), 1),
            (3, datetime(2024, 1, 1, 10), 2),
        ]],
    )
    got = sorted(
        (r.n_active_days, r.n_users)
        for r in registry.QUERIES["user_activity_depth"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [(1, 1), (2, 1)]


def test_basket_value_curve(spark, tmp_path):
    """Two 1-line baskets ($10, $30) and one 2-line basket ($50)."""
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 10.0), (2, 20.0), (2, 30.0), (3, 30.0)]],
    )
    got = {
        r.basket_size: r
        for r in registry.QUERIES["basket_value_curve"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got[1].n_orders, got[1].rev_cents, got[1].avg_order_cents_e6) == (
        2,
        4000,
        2000000000,
    )
    assert (got[2].n_orders, got[2].rev_cents, got[2].avg_order_cents_e6) == (
        1,
        5000,
        5000000000,
    )


def test_session_duration_profile(spark, tmp_path):
    """Sessions of 600s, 0s, 0s: median 0, p90 600, 4 events in 3
    sessions."""
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10, 0), 1),
            (2, datetime(2024, 1, 1, 10, 10), 1),
            (3, datetime(2024, 1, 1, 11, 30), 1),
            (4, datetime(2024, 1, 1, 9, 0), 2),
        ]],
    )
    row = registry.QUERIES["session_duration_profile"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (row.n_sessions, row.n_events, row.median_dur_s, row.p90_dur_s) == (
        3,
        4,
        0,
        600,
    )


def test_part_supplier_redundancy(spark, tmp_path):
    """Part 1 dual-sourced ($30), part 2 single-sourced ($10):
    redundancy buckets split revenue 75/25."""
    rows = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1)),
        (2, 1, 2, 1, 1.0, 20.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1)),
        (3, 2, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1)),
    ]
    write_tables(tmp_path, lineitem=rows)
    got = {
        r.n_suppliers: r
        for r in registry.QUERIES["part_supplier_redundancy"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (got[2].n_parts, got[2].rev_cents, got[2].rev_share_e6) == (
        1,
        3000,
        750000,
    )
    assert (got[1].n_parts, got[1].rev_cents, got[1].rev_share_e6) == (
        1,
        1000,
        250000,
    )


def test_moving_7d_range_frame_ages_out(spark, tmp_path):
    """Cents 100/200/300 on days 1, 3, 10: the day-10 trailing sum
    is 300 alone — a ROWS frame would wrongly carry 600."""
    write_tables(
        tmp_path,
        events=[_valued_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 1.00),
            (2, datetime(2024, 1, 3, 10), 2.00),
            (3, datetime(2024, 1, 10, 10), 3.00),
        ]],
    )
    got = sorted(
        (r.day_idx, r.cents, r.trailing_7d_cents)
        for r in registry.QUERIES["moving_7d_revenue"](
            spark, str(tmp_path)
        ).collect()
    )
    assert [g[1:] for g in got] == [(100, 100), (200, 300), (300, 300)]


def test_weekend_lift(spark, tmp_path):
    """Sat event worth 200 vs two weekday events worth 100 total:
    per-event lift 4x."""
    write_tables(
        tmp_path,
        events=[_valued_event(*r) for r in [
            (1, datetime(2024, 1, 6, 10), 2.00),
            (2, datetime(2024, 1, 8, 10), 0.40),
            (3, datetime(2024, 1, 8, 11), 0.60),
        ]],
    )
    row = registry.QUERIES["weekend_lift"](spark, str(tmp_path)).collect()[0]
    assert (row.weekend_cents, row.weekday_cents, row.weekend_events,
            row.weekday_events, row.per_event_lift_e6) == (200, 100, 1, 2, 4000000)


def test_greedy_set_cover_rounds(spark, tmp_path):
    """A {ab,bc} ties C {xy,yz} (A wins alphabetically), C adds 2
    new, B adds nothing -> round 3 has no productive pick."""
    rows = [
        (1, "a b c", "en", "A", 5),
        (2, "a b", "en", "B", 3),
        (3, "x y z", "en", "C", 5),
    ]
    write_tables(tmp_path, documents=rows)
    got = sorted(
        (r.round, r.source, r.gain)
        for r in registry.QUERIES["greedy_set_cover_sources"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [(1, "A", 2), (2, "C", 2)]


def test_hamilton_allocations_sum_exactly(spark, tmp_path):
    """Three equal sources: base 3333 each, the single leftover unit
    goes to the alphabetically-first remainder -> 3334+3333+3333."""
    rows = [
        (1, "x", "en", "A", 1),
        (2, "x", "en", "B", 1),
        (3, "x", "en", "C", 1),
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        r.source: r
        for r in registry.QUERIES["budget_apportion_hamilton"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["A"].alloc == 3334
    assert got["B"].alloc == 3333 and got["C"].alloc == 3333
    assert sum(r.alloc for r in got.values()) == 10000


def test_rolling_retention_7d(spark, tmp_path):
    """u1 returns on day 5 of 7-day window; u2 never; day-5 cohort
    is right-censored."""
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, datetime(2024, 1, 1, 10), 1),
            (2, datetime(2024, 1, 5, 10), 1),
            (3, datetime(2024, 1, 1, 11), 2),
        ]],
    )
    got = sorted(
        (r.n_users, r.n_retained, r.retention_e6)
        for r in registry.QUERIES["rolling_retention_7d"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [(1, 0, 0), (2, 1, 500000)]

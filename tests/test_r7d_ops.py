"""Semantic pins for the round-7d additions: ANN recall evaluation,
time-series linear interpolation, and Cohen's-kappa label agreement —
each on a handcrafted input with a hand-computed answer."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


def test_ann_recall_perfect_when_one_bucket(spark, tmp_path):
    """All 20 vectors share sign-bucket 15 -> the IVF candidate set is
    the whole corpus, so IVF top-10 == exact top-10 for every probe:
    n_hits = k = 10 and n_candidates = 19 (self excluded)."""
    rows = [
        (i, [float(i + 1), float(i + 1), float(i + 1), float(i + 1)], 0)
        for i in range(20)
    ]
    write_tables(tmp_path, embeddings=rows)
    got = registry.QUERIES["ann_recall_at_k"](spark, str(tmp_path)).collect()
    assert len(got) == 16
    for r in got:
        assert r.k == 10
        assert r.n_candidates == 19
        assert r.n_hits == 10


def test_ann_recall_drops_when_neighbor_crosses_bucket(spark, tmp_path):
    """16 near-orthogonal probes in bucket 15 plus one vector (id 16)
    that is probe 0's nearest neighbor but lives in bucket 0: probe
    0's exact top-10 contains id 16, the IVF candidates cannot, so
    n_hits drops to 9 for probe 0 and stays 10 for the rest."""
    eps = 0.001
    rows = []
    for i in range(16):
        v = [eps, eps, eps, eps] + [0.0] * 16
        v[4 + i] = 1.0
        rows.append((i, v, 0))
    plant = [-eps, -eps, -eps, -eps] + [0.0] * 16
    plant[4] = 1.0  # same direction as probe 0
    rows.append((16, plant, 0))
    write_tables(tmp_path, embeddings=rows)
    got = {r.qid: r for r in registry.QUERIES["ann_recall_at_k"](spark, str(tmp_path)).collect()}
    assert got[0].n_candidates == 15 and got[0].n_hits == 9
    for q in range(1, 16):
        assert got[q].n_hits == 10


def test_ts_linear_interpolate_bridges_interior_gap(spark, tmp_path):
    """Type A observes 1.00 at hour 0 and 4.00 at hour 3 -> hours 1, 2
    interpolate to exactly 2.00 and 3.00 (value_e6 2e6 / 3e6).  Two
    readings inside hour 0 elect the LATER one (ts-ordered argmax)."""
    h = lambda hr, m=0: datetime(2024, 1, 1, hr, m)
    rows = [
        (1, h(0, 5), 1, "A", 9.99, "{}"),  # superseded within hour 0
        (2, h(0, 50), 1, "A", 1.00, "{}"),  # last of hour 0 wins
        (3, h(3), 1, "A", 4.00, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        (r.event_type, r.hour_start.hour): r
        for r in registry.QUERIES["ts_linear_interpolate"](spark, str(tmp_path)).collect()
    }
    assert len(got) == 4
    assert got[("A", 0)].src == "obs" and got[("A", 0)].value_e6 == 1_000_000
    assert got[("A", 1)].src == "interp" and got[("A", 1)].value_e6 == 2_000_000
    assert got[("A", 2)].src == "interp" and got[("A", 2)].value_e6 == 3_000_000
    assert got[("A", 3)].src == "obs" and got[("A", 3)].value_e6 == 4_000_000


def test_ts_linear_interpolate_edges_stay_null(spark, tmp_path):
    """A series observed only at hour 2 of a 0..3 grid has no bracketing
    pair anywhere else: hours 0, 1, 3 are 'edge' with NULL value."""
    h = lambda hr: datetime(2024, 1, 1, hr)
    rows = [
        (1, h(0), 1, "A", 1.00, "{}"),
        (2, h(3), 1, "A", 1.00, "{}"),  # A spans the grid
        (3, h(2), 1, "B", 7.50, "{}"),  # B observed once
    ]
    write_tables(tmp_path, events=rows)
    got = {
        (r.event_type, r.hour_start.hour): r
        for r in registry.QUERIES["ts_linear_interpolate"](spark, str(tmp_path)).collect()
    }
    assert got[("B", 2)].src == "obs" and got[("B", 2)].value_e6 == 7_500_000
    for hr in (0, 1, 3):
        assert got[("B", hr)].src == "edge" and got[("B", hr)].value_e6 is None


def test_label_agreement_kappa_half(spark, tmp_path):
    """Sign-bucket labeler: all-negative dims -> bucket 0 -> pred 0,
    [+,-,-,-] -> bucket 1 -> pred 1.  Gold labels agree on 3 of 4 rows
    with margins rows=(2,2), cols=(3,1): pe_num = 2*3 + 2*1 = 8, so
    kappa = (4*3 - 8) / (16 - 8) = 0.5 -> kappa_e6 = 500000."""
    neg = [-1.0, -1.0, -1.0, -1.0]
    pos1 = [1.0, -1.0, -1.0, -1.0]
    rows = [
        (0, neg, 0),   # pred 0, label 0: agree
        (1, pos1, 1),  # pred 1, label 1: agree
        (2, pos1, 1),  # pred 1, label 1: agree
        (3, neg, 1),   # pred 0, label 1: disagree
    ]
    write_tables(tmp_path, embeddings=rows)
    r = registry.QUERIES["label_agreement_kappa"](spark, str(tmp_path)).collect()[0]
    assert r.n == 4 and r.diag_agree == 3 and r.pe_num == 8
    assert r.kappa_e6 == 500_000


def _line(ok, pk, sk, ln):
    return (ok, pk, sk, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))


def _order(ok, ck, pr):
    return (ok, ck, "O", 1.0, datetime(2024, 1, 1), pr)


def test_clustering_coeff_square_with_diagonal(spark, tmp_path):
    """Square 1-2-3-4 plus diagonal 1-3: triangles (1,2,3) and
    (1,3,4).  Hub vertices 1 and 3 (deg 3, 2 triangles) get
    lcc = 4/6 -> 666666 truncated; corner vertices 2 and 4 (deg 2,
    1 triangle) are fully closed: lcc_e6 = 1000000."""
    rows = []
    ok = 0
    for a, b in [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)]:
        for _ in range(2):  # each edge needs support >= 2
            ok += 1
            rows.append((ok, 100 + a, 1, 1))
            rows.append((ok, 100 + b, 1, 2))
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    got = {
        r.v: r
        for r in registry.QUERIES["graph_clustering_coeff"](spark, str(tmp_path)).collect()
    }
    assert len(got) == 4
    assert (got[101].deg, got[101].n_tri, got[101].lcc_e6) == (3, 2, 666_666)
    assert (got[103].deg, got[103].n_tri, got[103].lcc_e6) == (3, 2, 666_666)
    assert (got[102].deg, got[102].n_tri, got[102].lcc_e6) == (2, 1, 1_000_000)
    assert (got[104].deg, got[104].n_tri, got[104].lcc_e6) == (2, 1, 1_000_000)


def test_fd_candidate_audit_detects_violations(spark, tmp_path):
    """Orders: unique orderkeys make o_orderkey->o_custkey hold;
    customer 1 uses two priorities so o_custkey->o_orderpriority
    breaks with max fan-out 2.  Lineitem: (orderkey, linenumber) is
    unique so the composite FD holds; part 101 ships from two
    suppliers so l_partkey->l_suppkey breaks in exactly one group."""
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [(1, 1, "1-URGENT"), (2, 1, "2-HIGH"), (3, 2, "1-URGENT")]],
    )
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 101, 1, 1), (1, 101, 2, 2), (2, 102, 1, 1)]],
    )
    got = {
        r.fd: r
        for r in registry.QUERIES["fd_candidate_audit"](spark, str(tmp_path)).collect()
    }
    assert got["o_orderkey->o_custkey"].holds
    assert got["o_orderkey->o_custkey"].n_groups == 3
    r2 = got["o_custkey->o_orderpriority"]
    assert (r2.n_groups, r2.n_violations, r2.max_variants, r2.holds) == (2, 1, 2, False)
    assert got["l_orderkey,l_linenumber->l_partkey"].holds
    r4 = got["l_partkey->l_suppkey"]
    assert (r4.n_groups, r4.n_violations, r4.max_variants, r4.holds) == (2, 1, 2, False)


def _order_rev(ok, ck, tp):
    return (ok, ck, "O", tp, datetime(2024, 1, 1), "1-URGENT")


def test_pareto_revenue_share_deciles(spark, tmp_path):
    """10 customers with revenues 100..10 -> one per decile in rank
    order; total 550.00.  Decile 1 holds the 100.00 customer:
    share_e6 = 10000*1e6 // 55000 = 181818; the last cumulative share
    is exactly 1e6."""
    rows = [(i, i, float(110 - 10 * i)) for i in range(1, 11)]
    write_tables(tmp_path, orders=[_order_rev(*r) for r in rows])
    got = {
        r.decile: r
        for r in registry.QUERIES["pareto_revenue_share"](spark, str(tmp_path)).collect()
    }
    assert len(got) == 10
    assert got[1].n_customers == 1 and got[1].rev_cents == 10000
    assert got[1].share_e6 == 181_818 and got[1].cum_share_e6 == 181_818
    assert got[10].rev_cents == 1000
    assert got[10].cum_share_e6 == 1_000_000


def test_funnel_time_to_convert(spark, tmp_path):
    """User 1 views at 10:00 and purchases at 10:30 -> 1800s latency.
    User 2 only views.  User 3's purchase precedes their first view,
    so they stay unconverted (the at-or-after rule)."""
    h = lambda hr, m=0: datetime(2024, 1, 1, hr, m)
    rows = [
        (1, h(10), 1, "view", 0.0, "{}"),
        (2, h(10, 30), 1, "purchase", 0.0, "{}"),
        (3, h(10), 2, "view", 0.0, "{}"),
        (4, h(9), 3, "purchase", 0.0, "{}"),
        (5, h(10), 3, "view", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.user_bucket: r
        for r in registry.QUERIES["funnel_time_to_convert"](spark, str(tmp_path)).collect()
    }
    assert got[1].n_viewers == 1 and got[1].n_converted == 1
    assert got[1].min_delta_us == 1800 * 1_000_000
    assert got[1].sum_delta_us == 1800 * 1_000_000
    assert got[2].n_converted == 0 and got[2].min_delta_us is None
    assert got[3].n_converted == 0


def test_attribution_position_based_u_shape(spark, tmp_path):
    """User 1's first journey click,view,click,view -> purchase:
    first click 4000 bp, two middles 1000 bp each, last view 4000 bp.
    Second journey is a single view -> 10000 bp.  User 2's touches
    never convert and earn nothing.  Totals: click 5000 bp over 2
    touches, view 15000 bp over 3 touches."""
    m = lambda mi: datetime(2024, 1, 1, 10, mi)
    rows = [
        (1, m(0), 1, "click", 0.0, "{}"),
        (2, m(1), 1, "view", 0.0, "{}"),
        (3, m(2), 1, "click", 0.0, "{}"),
        (4, m(3), 1, "view", 0.0, "{}"),
        (5, m(4), 1, "purchase", 0.0, "{}"),
        (6, m(5), 1, "view", 0.0, "{}"),
        (7, m(6), 1, "purchase", 0.0, "{}"),
        (8, m(0), 2, "click", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.channel: r
        for r in registry.QUERIES["attribution_position_based"](spark, str(tmp_path)).collect()
    }
    assert (got["click"].n_touches, got["click"].credit_bp) == (2, 5000)
    assert (got["view"].n_touches, got["view"].credit_bp) == (3, 15000)


def test_sketch_quantile_merge_uniform(spark, tmp_path):
    """Ten values 0..90 in steps of 10 land one per 10.00-wide bin:
    p50 reads bin 4 (cum 5 of 10), p90 bin 8, p99 bin 9 — each
    reported as the bin's lower bound in cents."""
    h = datetime(2024, 1, 1, 10)
    rows = [(i, h, 1, "view", float(10 * i), "{}") for i in range(10)]
    write_tables(tmp_path, events=rows)
    r = registry.QUERIES["sketch_quantile_merge"](spark, str(tmp_path)).collect()[0]
    assert (r.n, r.n_bins) == (10, 10)
    assert r.p50_lo_cents == 4000
    assert r.p90_lo_cents == 8000
    assert r.p99_lo_cents == 9000


def test_trend_slope_by_type(spark, tmp_path):
    """Type A grows 1,2,3 events over hours 0,1,2 -> slope exactly 1
    (num=den=6); type B is flat at 2 -> slope 0."""
    h = lambda hr: datetime(2024, 1, 1, hr)
    rows = []
    eid = 0
    for hr, cnt in [(0, 1), (1, 2), (2, 3)]:
        for _ in range(cnt):
            eid += 1
            rows.append((eid, h(hr), 1, "A", 0.0, "{}"))
    for hr in (0, 1):
        for _ in range(2):
            eid += 1
            rows.append((eid, h(hr), 2, "B", 0.0, "{}"))
    write_tables(tmp_path, events=rows)
    got = {
        r.event_type: r
        for r in registry.QUERIES["trend_slope_by_type"](spark, str(tmp_path)).collect()
    }
    assert (got["A"].n_hours, got["A"].slope_num, got["A"].slope_den) == (3, 6, 6)
    assert got["A"].slope_e6 == 1_000_000
    assert got["B"].slope_e6 == 0


def test_ann_multiprobe_recovers_hamming1_neighbor(spark, tmp_path):
    """Plant probe 0's nearest neighbor in the bucket ONE sign flip
    away (bucket 14 vs 15): the single-bucket scan misses it
    (n_hits 9) but multiprobe's hamming<=1 candidate set recovers it
    (n_hits 10, candidates = 15 same-bucket probes + the plant)."""
    eps = 0.001
    rows = []
    for i in range(16):
        v = [eps, eps, eps, eps] + [0.0] * 16
        v[4 + i] = 1.0
        rows.append((i, v, 0))
    plant = [-eps, eps, eps, eps] + [0.0] * 16  # bucket 14
    plant[4] = 1.0  # same direction as probe 0
    rows.append((16, plant, 0))
    write_tables(tmp_path, embeddings=rows)
    single = {r.qid: r for r in registry.QUERIES["ann_recall_at_k"](spark, str(tmp_path)).collect()}
    multi = {r.qid: r for r in registry.QUERIES["ann_recall_multiprobe"](spark, str(tmp_path)).collect()}
    assert single[0].n_hits == 9 and single[0].n_candidates == 15
    assert multi[0].n_hits == 10 and multi[0].n_candidates == 16


def test_segment_bitmap_intersect_counts(spark, tmp_path):
    """Users 0..41: evens click (21), multiples of 3 purchase (14),
    multiples of 6 do both (7), either = 21+14-7 = 28.  Users span a
    32-bit word boundary so multi-word merging is exercised."""
    h = datetime(2024, 1, 1, 10)
    rows = []
    eid = 0
    for u in range(42):
        if u % 2 == 0:
            eid += 1
            rows.append((eid, h, u, "click", 0.0, "{}"))
            eid += 1
            rows.append((eid, h, u, "click", 0.0, "{}"))  # dup event
        if u % 3 == 0:
            eid += 1
            rows.append((eid, h, u, "purchase", 0.0, "{}"))
    write_tables(tmp_path, events=rows)
    r = registry.QUERIES["segment_bitmap_intersect"](spark, str(tmp_path)).collect()[0]
    assert (r.n_click, r.n_purchase, r.n_both, r.n_either) == (21, 14, 7, 28)


def test_dedup_cluster_size_hist(spark, tmp_path):
    """Docs 0,1,2 share one near-dup text and 10,11 another: cluster
    sizes 3 and 2 -> one histogram row each, removable = size-1."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    other = "completely different words describing entirely other topics here " * 3
    rows = [
        (0, base, "en", "web", len(base)),
        (1, base + " tail", "en", "web", len(base) + 5),
        (2, base + " coda", "en", "web", len(base) + 5),
        (10, other, "en", "web", len(other)),
        (11, other + " tail", "en", "web", len(other) + 5),
        (20, "unrelated tiny snippet of text", "en", "web", 30),
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        r.size: r
        for r in registry.QUERIES["dedup_cluster_size_hist"](spark, str(tmp_path)).collect()
    }
    assert got[3].n_clusters == 1 and got[3].n_docs == 3 and got[3].n_removable == 2
    assert got[2].n_clusters == 1 and got[2].n_docs == 2 and got[2].n_removable == 1
    assert 1 not in got  # singletons are not in the dup graph


def test_features_point_in_time_exclusive_frame(spark, tmp_path):
    """Customer 1 orders 10.00 then 20.00 then 30.00: each row sees
    only STRICTLY PRIOR history — the third order carries 2 priors and
    3000 prior cents; the first carries zero (no leakage)."""
    rows = [(1, 1, 10.0), (2, 1, 20.0), (3, 1, 30.0), (9, 2, 99.0)]
    full = [
        (ok, ck, "O", tp, datetime(2024, 1, ok), "1-URGENT") for ok, ck, tp in rows
    ]
    write_tables(tmp_path, orders=full)
    got = {
        r.o_orderkey: r
        for r in registry.QUERIES["features_point_in_time"](spark, str(tmp_path)).collect()
    }
    assert (got[1].prior_n_orders, got[1].prior_spend_cents) == (0, 0)
    assert (got[2].prior_n_orders, got[2].prior_spend_cents) == (1, 1000)
    assert (got[3].prior_n_orders, got[3].prior_spend_cents) == (2, 3000)
    assert (got[9].prior_n_orders, got[9].prior_spend_cents) == (0, 0)


def test_session_path_topk(spark, tmp_path):
    """Two users open with view>click>purchase, one with click alone
    (session of one event), one session is truncated to its first 3
    steps even though it has 4 events."""
    m = lambda u, mi: datetime(2024, 1, 1, 10, mi)
    rows = []
    eid = 0
    for u in (1, 2):
        for i, typ in enumerate(["view", "click", "purchase", "error"]):
            eid += 1
            rows.append((eid, m(u, i), u, typ, 0.0, "{}"))
    eid += 1
    rows.append((eid, m(3, 0), 3, "click", 0.0, "{}"))
    write_tables(tmp_path, events=rows)
    got = {
        r.path: r.n_sessions
        for r in registry.QUERIES["session_path_topk"](spark, str(tmp_path)).collect()
    }
    assert got == {"view>click>purchase": 2, "click": 1}


def test_join_size_estimate_identity(spark, tmp_path):
    """Histogram prediction equals executed join count: 2 orders with
    3 and 1 lineitems -> 4 rows, max key contribution 3."""
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, "1-URGENT"), (2, 1, "1-URGENT")]])
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 101, 1, 1), (1, 102, 1, 2), (1, 103, 1, 3), (2, 101, 1, 1)]],
    )
    r = registry.QUERIES["join_size_estimate"](spark, str(tmp_path)).collect()[0]
    assert (r.actual_rows, r.predicted_rows, r.max_key_rows) == (4, 4, 3)
    assert r.exact_match


def test_negative_sampling_determinism_and_filter(spark, tmp_path):
    """Two runs produce identical counts (hash-seeded, not random);
    every kept negative avoids the customer's own positives, and each
    positive draws exactly two candidates."""
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, "1-URGENT"), (2, 2, "1-URGENT")]])
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 101, 1, 1), (1, 102, 1, 2), (2, 103, 1, 1)]],
    )
    q = registry.QUERIES["negative_sampling_pairs"]
    a = sorted(map(tuple, q(spark, str(tmp_path)).collect()))
    b = sorted(map(tuple, q(spark, str(tmp_path)).collect()))
    assert a == b
    got = {r[0]: r for r in a}
    assert got[1][1] == 2 and got[1][2] == 4  # cust 1: 2 positives, 4 candidates
    assert got[2][1] == 1 and got[2][2] == 2
    for bucket, npos, ncand, nkept in a:
        assert 0 <= nkept <= ncand


def test_dedup_quality_bias_buckets(spark, tmp_path):
    """Short unique doc (bucket 0) is kept; two long near-dups
    (bucket 5) lose one to the near-dup drop."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 12
    rows = [
        (0, "tiny unique snippet", "en", "web", 19),
        (1, base, "en", "web", 600),
        (2, base + " tail", "en", "web", 605),
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        r.len_bucket: r
        for r in registry.QUERIES["dedup_quality_bias"](spark, str(tmp_path)).collect()
    }
    assert got[0].n_docs == 1 and got[0].n_kept == 1
    assert got[5].n_docs == 2 and got[5].n_kept == 1 and got[5].n_dropped_near == 1


def test_window_ewma_dyadic_halving(spark, tmp_path):
    """Type A: counts 4 then 8 over two hours.  Hour 0: only itself
    -> ewma = 4 (num 512 = 4*128, den 128).  Hour 1: (8*128 + 4*64)
    / (128 + 64) = 1280/192 -> e6 = 6666666 (truncated); the newest
    observation carries double the weight of the previous one."""
    h = lambda hr: datetime(2024, 1, 1, hr)
    rows = []
    eid = 0
    for hr, cnt in [(0, 4), (1, 8)]:
        for _ in range(cnt):
            eid += 1
            rows.append((eid, h(hr), 1, "A", 0.0, "{}"))
    write_tables(tmp_path, events=rows)
    got = {
        r.hour_start.hour: r
        for r in registry.QUERIES["window_ewma_dyadic"](spark, str(tmp_path)).collect()
    }
    assert (got[0].ewma_num, got[0].ewma_den, got[0].ewma_e6) == (512, 128, 4_000_000)
    assert (got[1].ewma_num, got[1].ewma_den) == (1280, 192)
    assert got[1].ewma_e6 == 6_666_666


def test_skyline_price_size(spark, tmp_path):
    """Parts: (100c,5), (200c,10), (150c,10), (100c,5) dup, (300c,8).
    Skyline = both (100c,5) twins (tie, neither dominates) and
    (150c,10); (200c,10) loses to (150c,10) and (300c,8) to it too."""
    rows = [
        (1, "a", "B", "T", 5, 1.00),
        (2, "b", "B", "T", 10, 2.00),
        (3, "c", "B", "T", 10, 1.50),
        (4, "d", "B", "T", 5, 1.00),
        (5, "e", "B", "T", 8, 3.00),
    ]
    write_tables(tmp_path, part=rows)
    got = [
        (r.p_partkey, r.price_cents, r.size)
        for r in registry.QUERIES["skyline_price_size"](spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 100, 5), (4, 100, 5), (3, 150, 10)]


def test_percentile_exact_twophase(spark, tmp_path):
    """Ten values 0.01..0.10: p50 = 5th value (0.05 -> 5 cents), p90
    the 9th, p99 the 10th — exact discrete order statistics."""
    h = datetime(2024, 1, 1, 10)
    rows = [(i, h, 1, "view", (i + 1) / 100.0, "{}") for i in range(10)]
    write_tables(tmp_path, events=rows)
    r = registry.QUERIES["percentile_exact_twophase"](spark, str(tmp_path)).collect()[0]
    assert (r.n, r.p50_cents, r.p90_cents, r.p99_cents) == (10, 5, 9, 10)


def test_time_weighted_avg_step_function(spark, tmp_path):
    """Value 1.00 held for 30s then 3.00 for 10s (final reading closes
    the window): TWAP = (100*30 + 300*10)/40 = 150 cents — a plain AVG
    of the three readings would say 166."""
    base = datetime(2024, 1, 1, 10, 0, 0)
    from datetime import timedelta
    rows = [
        (1, base, 1, "A", 1.00, "{}"),
        (2, base + timedelta(seconds=30), 1, "A", 3.00, "{}"),
        (3, base + timedelta(seconds=40), 1, "A", 1.00, "{}"),  # closes
    ]
    write_tables(tmp_path, events=rows)
    r = registry.QUERIES["time_weighted_avg"](spark, str(tmp_path)).collect()[0]
    assert (r.twap_num, r.twap_den, r.twap_cents) == (100 * 30 + 300 * 10, 40, 150)


def test_ann_recall_truncated_dims_detects_prefix_loss(spark, tmp_path):
    """Vectors whose identity lives in dims 17+ are indistinguishable
    to the 16-dim prefix: probe 0's truncated ranking still recovers
    some of the full top-10 but the planted far-suffix neighbor
    ordering shifts.  Sanity: when all information is IN the prefix
    (first test block), recall is perfect."""
    rows = [
        (i, [float(i + 1)] * 16 + [0.0] * 48, 0) for i in range(20)
    ]  # prefix-only structure, cosine 1.0 everywhere
    write_tables(tmp_path, embeddings=rows)
    got = registry.QUERIES["ann_recall_truncated_dims"](spark, str(tmp_path)).collect()
    assert len(got) == 16
    for r in got:
        assert r.n_hits == 10 and r.k == 10


def test_abc_classification_boundaries(spark, tmp_path):
    """Parts with revenue 80, 15, 5 (cents 8000/1500/500): running
    shares hit exactly 80% and 95%, so the three parts land in A, B,
    C respectively (boundary is inclusive by the integer rule)."""
    rows = [
        (1, 101, 1, 1, 80.0),
        (2, 102, 1, 1, 15.0),
        (3, 103, 1, 1, 5.0),
    ]
    full = [
        (ok, pk, sk, ln, 1.0, price, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))
        for ok, pk, sk, ln, price in rows
    ]
    write_tables(tmp_path, lineitem=full)
    got = {
        r.abc_class: r
        for r in registry.QUERIES["abc_classification"](spark, str(tmp_path)).collect()
    }
    assert (got["A"].n_parts, got["A"].class_cents) == (1, 8000)
    assert (got["B"].n_parts, got["B"].class_cents) == (1, 1500)
    assert (got["C"].n_parts, got["C"].class_cents) == (1, 500)


def test_cdc_chunk_stats_insertion_locality(spark, tmp_path):
    """The content-defined property: inserting one word into a doc
    changes only the chunk containing it — total chunk count shifts
    by at most one, and docs with identical text chunk identically."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (0, base.strip(), "en", "web", len(base)),
        (1, base.strip(), "en", "web", len(base)),  # identical twin
        (2, ("alpha beta gamma INSERTED delta epsilon zeta eta theta iota kappa "
             + base).strip(), "en", "web", len(base) + 9),
    ]
    write_tables(tmp_path, documents=rows)
    got = registry.QUERIES["cdc_chunk_stats"](spark, str(tmp_path)).collect()
    total_docs = sum(r.n_docs for r in got)
    assert total_docs == 3
    # twins share a chunk count, so some histogram row holds >= 2 docs
    assert max(r.n_docs for r in got) >= 2
    for r in got:
        assert r.n_chunks >= 1 and r.total_words > 0


def test_experiment_assignment_srm(spark, tmp_path):
    """Assignment is deterministic (two runs identical); every user
    is in exactly one arm; the flag fires only past 10% imbalance."""
    h = datetime(2024, 1, 1, 10)
    rows = [(i, h, i, "view", 0.0, "{}") for i in range(200)]
    write_tables(tmp_path, events=rows)
    q = registry.QUERIES["experiment_assignment_srm"]
    a = sorted(map(tuple, q(spark, str(tmp_path)).collect()))
    b = sorted(map(tuple, q(spark, str(tmp_path)).collect()))
    assert a == b
    assert len(a) == 4
    total = sum(r[1] + r[2] for r in a)
    assert total == 200
    for stratum, nc, nt, flag in a:
        assert flag == (abs(nc - nt) * 10 > nc + nt)


def test_schema_merge_scan_evolution(spark, tmp_path):
    """v1 rows (even ids) surface NULL for the evolved column; v2 rows
    carry exactly 2x cents; nothing is lost in the merged read."""
    h = datetime(2024, 1, 1, 10)
    rows = [(i, h, 1, "view", 1.00, "{}") for i in range(6)]
    write_tables(tmp_path, events=rows)
    got = {
        r.batch: r
        for r in registry.QUERIES["schema_merge_scan"](spark, str(tmp_path)).collect()
    }
    assert got["v1"].n == 3 and got["v1"].n_null_extra == 3
    assert got["v1"].extra_cents_sum == 0
    assert got["v2"].n == 3 and got["v2"].n_null_extra == 0
    assert got["v2"].extra_cents_sum == 3 * 200


def test_incremental_agg_merge_identity(spark, tmp_path):
    """Merged state+delta equals the full recompute on every group."""
    h = datetime(2024, 1, 1, 10)
    rows = [(i, h, 1, "view" if i % 2 else "click", float(i), "{}") for i in range(20)]
    write_tables(tmp_path, events=rows)
    got = registry.QUERIES["incremental_agg_merge"](spark, str(tmp_path)).collect()
    assert got
    for r in got:
        assert r.merge_ok
        assert r.n_full == r.n_merged and r.cents_full == r.cents_merged


def test_rolling_corr_terms_perfect_correlation(spark, tmp_path):
    """y = x exactly over 3 hours (1,2,3 of each type): at the last
    hour n=3, Sx=Sy=6, Sxy=Sxx=Syy=14, corr_num = 3*14-36 = 6 > 0 and
    equals both variance terms (r = 1)."""
    h = lambda hr: datetime(2024, 1, 1, hr)
    rows = []
    eid = 0
    for hr, cnt in [(0, 1), (1, 2), (2, 3)]:
        for typ in ("click", "purchase"):
            for _ in range(cnt):
                eid += 1
                rows.append((eid, h(hr), 1, typ, 0.0, "{}"))
    write_tables(tmp_path, events=rows)
    got = {
        r.hour_start.hour: r
        for r in registry.QUERIES["rolling_corr_terms"](spark, str(tmp_path)).collect()
    }
    r2 = got[2]
    assert (r2.n, r2.sx, r2.sy, r2.sxy, r2.sxx, r2.syy) == (3, 6, 6, 14, 14, 14)
    assert r2.corr_num == 6
    assert r2.corr_num == r2.n * r2.sxx - r2.sx * r2.sx  # r == 1


def test_event_disorder_histogram(spark, tmp_path):
    """Arrival order 10:00, 10:05, then a stale 10:04:30 reading:
    the third event arrives 30s behind the seen max -> bucket 3
    (<1m); the first two are in order (bucket 0)."""
    t0 = datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, t0, 1, "A", 0.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 5), 1, "A", 0.0, "{}"),
        (3, datetime(2024, 1, 1, 10, 4, 30), 1, "A", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.disorder_bucket: r.n
        for r in registry.QUERIES["event_disorder_histogram"](spark, str(tmp_path)).collect()
    }
    assert got == {0: 2, 3: 1}


def test_rare_category_collapse(spark, tmp_path):
    """200 rows: category 'big' has 150 (kept), 'mid' 48 (kept at
    exactly-threshold 1/100 boundary needs n*100 >= total -> 48*100
    >= 200 yes), two singletons fold into __other__ with
    n_source_values = 2."""
    h = datetime(2024, 1, 1, 10)
    rows = []
    eid = 0
    for k, cnt in [("big", 150), ("mid", 48), ("r1", 1), ("r2", 1)]:
        for _ in range(cnt):
            eid += 1
            rows.append((eid, h, 1, "view", 0.0, '{"k": "%s"}' % k))
    write_tables(tmp_path, events=rows)
    got = {
        r.category: r
        for r in registry.QUERIES["rare_category_collapse"](spark, str(tmp_path)).collect()
    }
    assert got["big"].n_rows == 150 and got["big"].n_source_values == 1
    assert got["mid"].n_rows == 48
    assert got["__other__"].n_rows == 2 and got["__other__"].n_source_values == 2


def test_seasonality_profile_peak_flag(spark, tmp_path):
    """Two hours on one epoch-day: the busier hour carries the peak
    flag, integer dow/hour indices match the epoch arithmetic."""
    rows = []
    eid = 0
    for hr, cnt in [(10, 3), (11, 1)]:
        for _ in range(cnt):
            eid += 1
            rows.append((eid, datetime(2024, 1, 1, hr), 1, "view", 0.0, "{}"))
    write_tables(tmp_path, events=rows)
    got = {
        r.hour_of_day: r
        for r in registry.QUERIES["seasonality_profile"](spark, str(tmp_path)).collect()
    }
    assert got[10].n == 3 and got[10].is_peak_hour
    assert got[11].n == 1 and not got[11].is_peak_hour
    assert got[10].dow_idx == got[11].dow_idx  # same day


def _part(pk, nm):
    return (pk, nm, "B", "T", 1, 1.0)


def test_entity_resolution_conflates_via_transitive_match(spark, tmp_path):
    """Clean names 'alpha gear' and 'alphagear' both sit within
    Levenshtein 2 of each other's dirty variants, so transitive
    closure puts BOTH clean names in one cluster (n_clean = 2) — the
    ambiguity best-match-only linking would hide.  'omega shaft'
    stays its own cluster (n_clean = 1)."""
    rows = [(1, "alpha gear"), (2, "alphagear"), (3, "omega shaft")]
    write_tables(tmp_path, part=[_part(*r) for r in rows])
    got = {
        r.n_clean: r
        for r in registry.QUERIES["entity_resolution_clusters"](spark, str(tmp_path)).collect()
    }
    assert 2 in got and got[2].n_clusters == 1
    assert got[1].n_clusters == 1  # omega's own cluster


def test_metric_change_contribution_additivity(spark, tmp_path):
    """Type A doubles (100 -> 200 cents), type B halves (200 -> 100):
    deltas +100 and -100, total delta 0 on every row."""
    rows = [
        (1, datetime(2024, 1, 1, 0), 1, "A", 1.00, "{}"),
        (2, datetime(2024, 1, 1, 0), 1, "B", 2.00, "{}"),
        (3, datetime(2024, 1, 2, 0), 1, "A", 2.00, "{}"),
        (4, datetime(2024, 1, 2, 0), 1, "B", 1.00, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.event_type: r
        for r in registry.QUERIES["metric_change_contribution"](spark, str(tmp_path)).collect()
    }
    assert (got["A"].cents_h1, got["A"].cents_h2, got["A"].delta_cents) == (100, 200, 100)
    assert (got["B"].cents_h1, got["B"].cents_h2, got["B"].delta_cents) == (200, 100, -100)
    assert got["A"].total_delta_cents == 0 and got["B"].total_delta_cents == 0


def test_percentile_group_twophase(spark, tmp_path):
    """Group A holds 1..10 cents values, group B a constant: exact
    per-group order statistics."""
    h = datetime(2024, 1, 1, 10)
    rows = [(i, h, 1, "A", (i + 1) / 100.0, "{}") for i in range(10)]
    rows += [(100 + i, h, 1, "B", 0.42, "{}") for i in range(4)]
    write_tables(tmp_path, events=rows)
    got = {
        r.event_type: r
        for r in registry.QUERIES["percentile_group_twophase"](spark, str(tmp_path)).collect()
    }
    assert (got["A"].n, got["A"].p50_cents, got["A"].p99_cents) == (10, 5, 10)
    assert (got["B"].n, got["B"].p50_cents, got["B"].p99_cents) == (4, 42, 42)


def test_bloom_fpr_measured_vs_theory(spark, tmp_path):
    """Inserted and probe sets are disjoint, so every full-bit match
    is a false positive; with m=4096 and few insertions the measured
    FPR must stay far below 100% and the bit count below k*n."""
    rows = [(i, "w%d" % i, "en", "web", 3) for i in range(200)]
    write_tables(tmp_path, documents=rows)
    r = registry.QUERIES["bloom_fpr_calibration"](spark, str(tmp_path)).collect()[0]
    assert r.m == 4096 and r.k == 3
    assert r.n_inserted == 100 and r.n_probes == 100
    assert 0 < r.n_bits_set <= 3 * r.n_inserted
    # theory: fpr ~ (bits/m)^3 ~ (300/4096)^3 ~ 4e-4 -> expect ~0 FPs
    assert r.n_false_positives <= 2


def test_churn_label_table(spark, tmp_path):
    """User 1 active in both halves (retained), user 2 only in H1
    (churned), user 3 only in H2 (not in the cohort at all)."""
    rows = [
        (1, datetime(2024, 1, 1), 1, "view", 0.0, "{}"),
        (2, datetime(2024, 1, 3), 1, "view", 0.0, "{}"),
        (3, datetime(2024, 1, 1), 2, "view", 0.0, "{}"),
        (4, datetime(2024, 1, 3), 3, "view", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.user_bucket: r
        for r in registry.QUERIES["churn_label_table"](spark, str(tmp_path)).collect()
    }
    assert got[1].n_active_h1 == 1 and got[1].n_churned == 0
    assert got[2].n_active_h1 == 1 and got[2].n_churned == 1
    assert 3 not in got  # never active in H1 -> not in the cohort


def test_set_sim_join_prefix_exactness(spark, tmp_path):
    """Prefix filtering misses NOTHING: the near-identical pair (9/10
    shared words -> jaccard ~0.82) is found; the disjoint doc pairs
    with nothing.  doc_ids are multiples of 10 (the op's sample)."""
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a.replace("kappa", "lambda")  # 9 shared, union 11
    rows = [
        (0, a, "en", "web", len(a)),
        (10, b, "en", "web", len(b)),
        (20, "utterly different words entirely elsewhere", "en", "web", 40),
    ]
    write_tables(tmp_path, documents=rows)
    got = [
        (r.doc_a, r.doc_b, r.jaccard_e6)
        for r in registry.QUERIES["set_sim_join_prefix"](spark, str(tmp_path)).collect()
    ]
    assert got == [(0, 10, 9 * 1_000_000 // 11)]


def test_graph_link_prediction_square(spark, tmp_path):
    """Square 1-2-3-4 (no diagonals): the two diagonal pairs (1,3)
    and (2,4) each share BOTH their neighbors -> n_common 2, jaccard
    = 2/(2+2-2) = 1.0; adjacent pairs are excluded."""
    rows = []
    ok = 0
    for a, b in [(1, 2), (2, 3), (3, 4), (1, 4)]:
        for _ in range(2):
            ok += 1
            rows.append((ok, 100 + a, 1, 1))
            rows.append((ok, 100 + b, 1, 2))
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    got = {
        (r.part_a, r.part_b): r
        for r in registry.QUERIES["graph_link_prediction"](spark, str(tmp_path)).collect()
    }
    assert set(got) == {(101, 103), (102, 104)}
    for r in got.values():
        assert r.n_common == 2 and r.jaccard_e6 == 1_000_000


def test_experiment_uplift_report_consistency(spark, tmp_path):
    """Arm populations must match the SRM query's, and converters
    count once no matter how many purchases they make."""
    h = datetime(2024, 1, 1, 10)
    rows = []
    eid = 0
    for u in range(40):
        eid += 1
        rows.append((eid, h, u, "view", 0.0, "{}"))
        if u % 4 == 0:
            for _ in range(2):  # double purchase, single converter
                eid += 1
                rows.append((eid, h, u, "purchase", 0.0, "{}"))
    write_tables(tmp_path, events=rows)
    uplift = registry.QUERIES["experiment_uplift_report"](spark, str(tmp_path)).collect()
    srm = registry.QUERIES["experiment_assignment_srm"](spark, str(tmp_path)).collect()
    pop_u = {(r.stratum): 0 for r in srm}
    for r in uplift:
        pop_u[r.stratum] = pop_u.get(r.stratum, 0) + r.n_users
        assert 0 <= r.n_converted <= r.n_users
    pop_s = {r.stratum: r.n_control + r.n_treat for r in srm}
    assert pop_u == pop_s
    assert sum(r.n_converted for r in uplift) == 10  # one per converting user


def test_attribution_time_decay_halving(spark, tmp_path):
    """Click 1h before purchase earns 2^7 = 128; view 3h before earns
    2^5 = 32; a stale click 20h before floors at 1."""
    p = datetime(2024, 1, 2, 12)
    rows = [
        (1, datetime(2024, 1, 2, 11), 1, "click", 0.0, "{}"),   # 1h -> 128
        (2, datetime(2024, 1, 2, 9), 1, "view", 0.0, "{}"),     # 3h -> 32
        (3, datetime(2024, 1, 1, 16), 1, "click", 0.0, "{}"),   # 20h -> 1
        (4, p, 1, "purchase", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        r.channel: r
        for r in registry.QUERIES["attribution_time_decay"](spark, str(tmp_path)).collect()
    }
    assert (got["click"].n_touches, got["click"].weight_total) == (2, 129)
    assert (got["view"].n_touches, got["view"].weight_total) == (1, 32)


def test_ts_gap_report_contiguous_runs(spark, tmp_path):
    """Type A observed at hours 0, 1, 4, 5: one gap run covering
    hours 2-3 (length 2); a fully-covered type reports nothing."""
    h = lambda hr: datetime(2024, 1, 1, hr)
    rows = [(i + 1, h(hr), 1, "A", 0.0, "{}") for i, hr in enumerate([0, 1, 4, 5])]
    rows += [(10 + i, h(hr), 1, "B", 0.0, "{}") for i, hr in enumerate(range(6))]
    write_tables(tmp_path, events=rows)
    got = registry.QUERIES["ts_gap_report"](spark, str(tmp_path)).collect()
    a_gaps = [r for r in got if r.event_type == "A"]
    assert len(a_gaps) == 1
    g = a_gaps[0]
    assert (g.gap_start.hour, g.gap_end.hour, g.n_hours) == (2, 3, 2)
    assert not [r for r in got if r.event_type == "B"]


def test_sequence_pattern_support_nonadjacent(spark, tmp_path):
    """Session view -> error -> purchase: (view, purchase) counts even
    though they are NOT adjacent — the containment semantics the
    transition matrix misses; reversed pair does not count."""
    m = lambda mi: datetime(2024, 1, 1, 10, mi)
    rows = [
        (1, m(0), 1, "view", 0.0, "{}"),
        (2, m(1), 1, "error", 0.0, "{}"),
        (3, m(2), 1, "purchase", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        (r.first_type, r.then_type): r
        for r in registry.QUERIES["sequence_pattern_support"](spark, str(tmp_path)).collect()
    }
    assert got[("view", "purchase")].n_sessions == 1
    assert got[("view", "error")].n_sessions == 1
    assert got[("error", "purchase")].n_sessions == 1
    assert ("purchase", "view") not in got
    assert got[("view", "purchase")].total_sessions == 1

"""Semantic pins for the round-7c analytics additions: Markov
transitions, RFM scoring, market-basket pairs, and assortment
overlap — each on a handcrafted input with a hand-computed answer."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _line(ok, pk, sk, ln):
    return (ok, pk, sk, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))


def _order(ok, ck, tp, od):
    return (ok, ck, "O", tp, od, "1-URGENT")


def _ts(m):
    return datetime(2024, 1, 1, 10, m)


def test_event_transition_matrix(spark, tmp_path):
    """User 1: A->B->A->C gives transitions A->B, B->A, A->C; the two
    A-outgoing rows split the A mass 0.5/0.5.  User 2's single event
    contributes no transition."""
    rows = [
        (1, _ts(0), 1, "A", 0.0, "{}"),
        (2, _ts(1), 1, "B", 0.0, "{}"),
        (3, _ts(2), 1, "A", 0.0, "{}"),
        (4, _ts(3), 1, "C", 0.0, "{}"),
        (5, _ts(0), 2, "A", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        (r.event_type, r.next_type): r
        for r in registry.QUERIES["event_transition_matrix"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {("A", "B"), ("B", "A"), ("A", "C")}
    assert got[("A", "B")].n == 1 and got[("A", "B")].p_e6 == 500_000
    assert got[("A", "C")].p_e6 == 500_000
    assert got[("B", "A")].p_e6 == 1_000_000


def test_event_transition_tie_breaks_on_event_id(spark, tmp_path):
    """Two same-instant events order by event_id: 1->2->3 gives
    A->B and B->C, never A->C."""
    rows = [
        (1, _ts(0), 1, "A", 0.0, "{}"),
        (2, _ts(0), 1, "B", 0.0, "{}"),
        (3, _ts(1), 1, "C", 0.0, "{}"),
    ]
    write_tables(tmp_path, events=rows)
    got = {
        (r.event_type, r.next_type)
        for r in registry.QUERIES["event_transition_matrix"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {("A", "B"), ("B", "C")}


def test_customer_rfm_segments(spark, tmp_path):
    """Five customers, one order each on consecutive days with rising
    prices: every quintile has exactly one customer, so R/F/M scores
    are fully determined.  Customer 5 (latest, priciest) is 5-x-5;
    customer 1 (oldest, cheapest) is 1-x-1; frequency ties break by
    custkey (ascending -> lower custkey gets the lower f_score)."""
    rows = [
        (k, k, 100.0 * k, datetime(2024, 1, k)) for k in range(1, 6)
    ]
    write_tables(tmp_path, orders=[_order(*r) for r in rows])
    got = {
        r.custkey: r
        for r in registry.QUERIES["customer_rfm_segments"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[5].recency_days == 0 and got[1].recency_days == 4
    assert got[5].r_score == 5 and got[1].r_score == 1
    assert got[5].m_score == 5 and got[1].m_score == 1
    assert got[5].monetary == 500.0
    # all frequencies tie at 1 -> custkey order decides the quintile
    assert [got[k].f_score for k in range(1, 6)] == [1, 2, 3, 4, 5]
    assert got[5].rfm_code == 5 * 100 + got[5].f_score * 10 + 5


def test_copurchase_pairs_support_threshold(spark, tmp_path):
    """(p1,p2) co-occurs in orders 1 and 2 -> kept with support 2;
    (p1,p3) only in order 3 -> below threshold; the duplicate p1 line
    in order 1 must not double-count."""
    rows = [
        (1, 101, 1, 1),
        (1, 101, 1, 2),  # duplicate part within the order
        (1, 102, 1, 3),
        (2, 101, 1, 1),
        (2, 102, 1, 2),
        (3, 101, 1, 1),
        (3, 103, 1, 2),
    ]
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    got = registry.QUERIES["copurchase_pairs"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert (got[0].part_a, got[0].part_b, got[0].n_orders) == (101, 102, 2)


def test_supplier_assortment_overlap(spark, tmp_path):
    """s1={p1,p2}, s2={p2,p3}: one shared part, union 3 -> jaccard
    1/3; sizes reported per side."""
    rows = [
        (1, 101, 1, 1),
        (2, 102, 1, 1),
        (3, 102, 2, 1),
        (4, 103, 2, 1),
    ]
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    got = registry.QUERIES["supplier_assortment_overlap"](
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.supp_a, r.supp_b, r.n_common, r.n_a, r.n_b) == (1, 2, 1, 2, 2)
    assert r.jaccard_e6 == 333_333


def test_triangle_count_square_with_diagonal(spark, tmp_path):
    """Co-purchase graph = square 1-2-3-4 plus diagonal 1-3 (every
    edge backed by 2 orders): exactly 2 triangles (1,2,3) and
    (1,3,4); wedges = sum d(d-1)/2 = 3+1+3+1 = 8; clustering
    3*2/8 = 0.75."""
    rows = []
    ok = 0
    for a, b in [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)]:
        for _ in range(2):  # each edge needs support >= 2
            ok += 1
            rows.append((ok, 100 + a, 1, 1))
            rows.append((ok, 100 + b, 1, 2))
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    r = registry.QUERIES["graph_triangle_count"](spark, str(tmp_path)).collect()[0]
    assert (r.n_vertices, r.n_edges, r.n_triangles, r.n_wedges) == (4, 5, 2, 8)
    assert r.clustering_e6 == 750_000


def test_t_closeness_skewed_class_flagged(spark, tmp_path):
    """Global corpus: half short docs (bucket 0), half long (bucket
    2).  Class ('en','balanced') mirrors the global distribution ->
    t = 0; class ('en','short') is all-short -> t = 0.5 (EMD of a
    point mass vs the 50/50 global over 3-bucket support), above the
    0.2 flag."""
    rows = []
    did = 0
    for _ in range(10):
        rows.append((did, "x", "en", "balanced", 10)); did += 1
        rows.append((did, "x", "en", "balanced", 110)); did += 1
        rows.append((did, "x", "en", "short", 10)); did += 1
        rows.append((did, "x", "en", "long", 110)); did += 1
    # one doc in a middle bucket so m=3 and the EMD normalizer is m-1=2
    rows.append((did, "x", "en", "balanced", 60)); did += 1
    write_tables(tmp_path, documents=rows)
    got = {
        (r.lang, r.source): r
        for r in registry.QUERIES["t_closeness_audit"](spark, str(tmp_path)).collect()
    }
    assert not got[("en", "balanced")].above_t
    assert got[("en", "short")].above_t
    assert got[("en", "long")].above_t
    assert got[("en", "short")].t_e6 > got[("en", "balanced")].t_e6


def test_join_key_skew_profile(spark, tmp_path):
    """99 singleton keys + 1 key with 101 rows: max=101, total=200,
    top1_share_e6=505000, skew_ratio_e6=101*100*1e6//200=50.5e6."""
    rows = []
    ok = 0
    for k in range(1, 100):
        ok += 1
        rows.append((ok, k, 10.0, datetime(2024, 1, 1)))
    for _ in range(101):
        ok += 1
        rows.append((ok, 1000, 10.0, datetime(2024, 1, 1)))
    write_tables(tmp_path, orders=[_order(*r) for r in rows])
    r = registry.QUERIES["join_key_skew_profile"](spark, str(tmp_path)).collect()[0]
    assert (r.distinct_keys, r.total_rows, r.max_count) == (100, 200, 101)
    assert r.top1_share_e6 == 505_000
    assert r.skew_ratio_e6 == 50_500_000
    assert r.p99_count == 101  # rank ceil(0.01*100)=1 from the top


def test_range_partition_bounds_tile_the_key_space(spark, tmp_path):
    """64 rows over keys 1..64 into 32 buckets -> every bucket gets
    exactly 2 rows and upper bounds 2,4,...,64."""
    rows = [(k, k, 1, 1) for k in range(1, 65)]
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    got = sorted(
        registry.QUERIES["range_partition_bounds"](spark, str(tmp_path)).collect(),
        key=lambda r: r.bucket,
    )
    assert len(got) == 32
    assert all(r.n_rows == 2 for r in got)
    assert [r.upper_bound for r in got] == [2 * i for i in range(1, 33)]


def test_basket_pair_guard_caps_pathological_baskets(spark):
    """Round 13 (VERDICT r12 "What's wrong" #4): the in-row basket
    pair enumeration is quadratic in basket size — a basket above
    _BASKET_PAIR_CAP must raise a loud, actionable error instead of
    silently materializing size^2/2 pair structs in one row, and a
    healthy basket must keep enumerating exactly as before."""
    import pytest

    from instructions_mr_spark.queries.analytics import (
        _BASKET_PAIR_CAP,
        _basket_pairs,
    )

    ok = spark.createDataFrame(
        [(1, [10, 20, 30])], "l_orderkey long, parts array<long>"
    )
    got = sorted(map(tuple, _basket_pairs(ok).collect()))
    assert got == [(10, 20), (10, 30), (20, 30)]

    bad = spark.createDataFrame(
        [(2, list(range(_BASKET_PAIR_CAP + 1)))],
        "l_orderkey long, parts array<long>",
    )
    with pytest.raises(Exception, match="pair-enumeration cap"):
        _basket_pairs(bad).collect()

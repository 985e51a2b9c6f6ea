"""Semantic pins for the round-7g additions: positional phrase
search, Borda rank fusion, leave-one-out target encoding, CUSUM
changepoint location, the Benford first-digit audit, and degree
assortativity — each on a handcrafted input with a hand-computed
answer."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _order(ok, tp):
    return (ok, 1, "O", tp, datetime(2024, 1, 1), "1-URGENT")


def _line(ok, pk):
    return (ok, pk, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))


def test_phrase_match_consecutive_only(spark, tmp_path):
    """Doc 1 contains 'slow hash batch' twice; doc 2 has all three
    words but never consecutively -> only doc 1 matches, count 2."""
    write_tables(
        tmp_path,
        documents=[
            (1, "slow hash batch x slow hash batch", "en", "s", 33),
            (2, "slow x hash x batch slow", "en", "s", 24),
        ],
    )
    got = registry.QUERIES["phrase_match_positions"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert (got[0].doc_id, got[0].n_occurrences) == (1, 2)


def test_rank_fusion_borda_hand_scores(spark, tmp_path):
    """Three candidates (doc 3 has no fuse term, excluded).  tf ranks:
    doc 1 (tf 3) -> 1, doc 2 (tf 2) -> 2, doc 4 (tf 1) -> 3; length
    ranks: doc 4 (5) -> 1, doc 2 (10) -> 2, doc 1 (20) -> 3.  Borda
    (2N - r_tf - r_len, N=3): doc 1 -> 2, doc 2 -> 2, doc 4 -> 2;
    fused order by rank-sum then doc_id: 1, 2, 4."""
    write_tables(
        tmp_path,
        documents=[
            (1, "join merge sort", "en", "s", 20),
            (2, "join merge", "en", "s", 10),
            (3, "table scan", "en", "s", 1),
            (4, "sort", "en", "s", 5),
        ],
    )
    got = registry.QUERIES["rank_fusion_borda"](spark, str(tmp_path)).collect()
    assert [r.doc_id for r in got] == [1, 2, 4]
    assert [r.borda_score for r in got] == [2, 2, 2]
    assert [r.tf_total for r in got] == [3, 2, 1]


def test_target_encoding_loo_excludes_self(spark, tmp_path):
    """Type A rows with cents 100, 200, 300: each row's LOO numerator
    is the sum of the OTHER two; singleton type B gets NULL
    denominator (no peers)."""
    h = datetime(2024, 1, 1, 0)
    write_tables(
        tmp_path,
        events=[
            (1, h, 1, "A", 1.00, "{}"),
            (2, h, 2, "A", 2.00, "{}"),
            (3, h, 3, "A", 3.00, "{}"),
            (4, h, 4, "B", 9.00, "{}"),
        ],
    )
    got = {
        r.event_id: r
        for r in registry.QUERIES["target_encoding_loo"](spark, str(tmp_path)).collect()
    }
    assert (got[1].loo_num_cents, got[1].loo_den) == (500, 2)
    assert (got[2].loo_num_cents, got[2].loo_den) == (400, 2)
    assert (got[3].loo_num_cents, got[3].loo_den) == (300, 2)
    assert got[4].loo_num_cents == 0
    assert got[4].loo_den is None


def test_cusum_changepoint_level_shift(spark, tmp_path):
    """Hourly counts 1,1,5,5 for type A: n=4, total=12, scaled CUSUM
    |4*pre - k*12| = 8, 16, 8, 0 -> peak 16 at the second hour (the
    last pre-shift bucket, the classic CUSUM changepoint)."""
    rows = []
    eid = 0
    for hr, cnt in [(0, 1), (1, 1), (2, 5), (3, 5)]:
        for _ in range(cnt):
            eid += 1
            rows.append((eid, datetime(2024, 1, 1, hr, 30), 1, "A", 0.0, "{}"))
    write_tables(tmp_path, events=rows)
    got = registry.QUERIES["cusum_changepoint"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.change_hour.hour, r.max_scaled_cusum) == (1, 16)
    assert (r.n_buckets, r.total_events) == (4, 12)


def test_benford_digit_audit_shares(spark, tmp_path):
    """Prices 1.00 x3 (digit 1) and 2.50 x1 (digit 2): observed
    shares 750000 / 250000 e6; expected columns are the Benford
    literals 301029 / 176091."""
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [(1, 1.00), (2, 1.00), (3, 1.00), (4, 2.50)]],
    )
    got = {
        r.digit: r
        for r in registry.QUERIES["benford_digit_audit"](spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2}
    assert (got[1].n_orders, got[1].observed_e6, got[1].benford_e6) == (
        3, 750000, 301029,
    )
    assert (got[2].n_orders, got[2].observed_e6, got[2].benford_e6) == (
        1, 250000, 176091,
    )


def test_degree_assortativity_path_graph(spark, tmp_path):
    """Path 1-2-3 (each edge supported by 2 shared orders): degrees
    1,2,1 -> m=2, s_sum=(1+2)+(2+1)=6, s_prod=2+2=4,
    s_sq=(1+4)+(4+1)=10."""
    rows = []
    for ok, (pa, pb) in [(10, (1, 2)), (11, (1, 2)), (12, (2, 3)), (13, (2, 3))]:
        rows += [(ok, pa), (ok, pb)]
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    got = registry.QUERIES["degree_assortativity_terms"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_edges, r.s_sum, r.s_prod, r.s_sq) == (2, 6, 4, 10)


def test_mad_robust_outliers_fence(spark, tmp_path):
    """Cents 100,200,200,300,10000: lower median 200, deviations
    100,0,0,100,9800 -> MAD 100, fence 300 -> exactly the 10000
    point is flagged."""
    h = datetime(2024, 1, 1, 0)
    vals = [1.00, 2.00, 2.00, 3.00, 100.00]
    write_tables(
        tmp_path,
        events=[(i, h, i, "A", v, "{}") for i, v in enumerate(vals)],
    )
    got = registry.QUERIES["mad_robust_outliers"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n, r.med_cents, r.mad_cents, r.n_outliers) == (5, 200, 100, 1)


def test_ks_split_drift_disjoint_supports(spark, tmp_path):
    """Train (ids 0-3, 80%-bucket) all at 1.00; test (ids 180-181)
    all at 2.00: ECDFs separate fully at v=100 -> D = 1 exactly
    (d_scaled = n1*n2 = 8, d_e6 = 1000000)."""
    h = datetime(2024, 1, 1, 0)
    rows = [(i, h, i, "A", 1.00, "{}") for i in range(4)]
    rows += [(i, h, i, "A", 2.00, "{}") for i in (180, 181)]
    write_tables(tmp_path, events=rows)
    got = registry.QUERIES["ks_split_drift"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_train, r.n_test, r.d_scaled, r.d_e6) == (4, 2, 8, 1000000)


def test_graph_bfs_hops_cap(spark, tmp_path):
    """Path 1-2-3-4-5-6 (each edge 2 shared orders): seed is vertex
    1, hops 0..4 each hold one vertex, vertex 6 (hop 5) is beyond
    the bound and absent."""
    rows = []
    ok = 100
    for pa, pb in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]:
        for _ in range(2):
            rows += [(ok, pa), (ok, pb)]
            ok += 1
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    got = {
        r.hop: r.n_vertices
        for r in registry.QUERIES["graph_bfs_hops"](spark, str(tmp_path)).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1}


def test_zone_map_skip_audit_layouts(spark, tmp_path):
    """Three 1-row chunks under natural orderkey layout (two fall
    wholly outside [1998-01-01, 1998-07-01) -> skippable); clustering
    collapses them into one straddling chunk -> zero skippable."""
    dated = [
        (500, datetime(1997, 6, 1)),
        (1500, datetime(1998, 3, 1)),
        (2500, datetime(1998, 9, 1)),
    ]
    full = [(ok, 1, "O", 1.0, dt, "1-URGENT") for ok, dt in dated]
    write_tables(tmp_path, orders=full)
    got = {
        r.layout: r
        for r in registry.QUERIES["zone_map_skip_audit"](spark, str(tmp_path)).collect()
    }
    nat, clu = got["natural"], got["clustered"]
    assert (nat.n_chunks, nat.n_skippable, nat.rows_skippable) == (3, 2, 2)
    assert (clu.n_chunks, clu.n_skippable, clu.rows_skippable) == (1, 0, 0)
    assert nat.rows_total == clu.rows_total == 3

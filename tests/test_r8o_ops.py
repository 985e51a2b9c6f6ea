"""Semantic pins for the round-8 fourteenth batch: LP modularity
terms, LIKE ANY/ALL, NULLS FIRST/LAST, percent_rank vs cume_dist and
greatest/least null skipping."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


_TS = datetime(1995, 6, 1)


def _line(ok, pk, sk):
    return (ok, pk, sk, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _TS)


def test_modularity_terms_two_cliques(spark, tmp_path):
    # two disjoint part-supplier stars: {p1,p2}-s1 and {p9}-s9
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 1, 1), (2, 2, 1), (3, 9, 9)]],
    )
    rows = registry.QUERIES["modularity_terms_lp"](
        spark, str(tmp_path)
    ).collect()
    # m = 3 undirected edges, 5 nodes, total degree 2m.  Synchronous
    # 2-round LPA on a BIPARTITE graph lands anti-phase (each side
    # carries the other's labels), so no edge is internal — the
    # modularity terms must honestly report that (docstring caveat).
    assert all(r["m_edges"] == 3 for r in rows)
    assert sum(r["internal_edges"] for r in rows) == 0
    assert sum(r["deg_sum"] for r in rows) == 6
    assert sum(r["n_nodes"] for r in rows) == 5
    assert len(rows) == 4  # {p1,p2}, {s1}, {p9}, {s9} label groups


def test_like_any_all_hand_parts(spark, tmp_path):
    types = [
        "PROMO ANODIZED", "STANDARD X", "ECONOMY BRUSHED NICKEL",
        "BRUSHED COPPER",
    ]
    write_tables(tmp_path, part=[(i + 1, "p", "B", ty, 1, 1.0) for i, ty in enumerate(types)])
    [r] = registry.QUERIES["like_any_all_contract"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_parts"], r["n_like_any"]) == (4, 2)
    assert r["n_like_all"] == 1       # only ECONOMY BRUSHED NICKEL
    assert r["n_not_like_all"] == 2   # the two BRUSHED-only rows


def test_nulls_ordering_hand(spark, tmp_path):
    # custkey 1 has NULL key (negative bal); 2 and 3 have 5.00 < 9.00
    write_tables(tmp_path, customer=[(1, "a", 1, -1.0, "X"), (2, "b", 1, 5.0, "X"), (3, "c", 1, 9.0, "X")])
    [r] = registry.QUERIES["nulls_ordering_contract"](
        spark, str(tmp_path)
    ).collect()
    assert r["first_nulls_last"] == 2    # smallest non-null first
    assert r["first_nulls_first"] == 1   # the NULL row leads
    assert r["n_null_keys"] == 1


def test_percent_rank_vs_cume_dist(spark, tmp_path):
    write_tables(tmp_path, customer=[(1, "a", 1, 1.0, "X"), (2, "b", 1, 2.0, "X"), (3, "c", 1, 3.0, "X")])
    rows = {
        r["c_custkey"]: (r["pr"], r["cd"])
        for r in registry.QUERIES["window_percent_rank"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[1] == (0.0, round(1 / 3, 8))
    assert rows[2] == (0.5, round(2 / 3, 8))
    assert rows[3] == (1.0, 1.0)


def test_greatest_least_null_skip(spark, tmp_path):
    # qty 30 (>25): greatest(30, price_k); qty 10: greatest(NULL, price_k)
    write_tables(tmp_path, lineitem=[_line(*r) for r in [(1, 1, 1)]])
    write_tables(tmp_path, lineitem=[
        (1, 1, 1, 1, 30.0, 5000.0, 0.0, 0.0, "N", "O", _TS),
        (2, 1, 1, 1, 10.0, 99000.0, 0.0, 0.0, "N", "O", _TS),
    ])
    [r] = registry.QUERIES["greatest_least_null_contract"](
        spark, str(tmp_path)
    ).collect()
    # row 1: greatest(30, 5) = 30 -> price loses; row 2: NULL skipped,
    # greatest = price_k = 99 -> price wins
    assert (r["n_rows"], r["n_price_wins"], r["n_all_null"]) == (2, 1, 2)

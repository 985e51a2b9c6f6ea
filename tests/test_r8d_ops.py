"""Semantic pins for the round-8 SQL-semantics batch: null-safe join,
NOT IN null trap, top-k tie disciplines, higher-order array functions
and overlapping-interval merge — each on a handcrafted input with a
hand-computed answer."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def test_join_null_safe_matches_null_buckets(spark, tmp_path):
    # customers: 2 in nation 1, 1 with negative balance (-> NULL bucket)
    write_tables(tmp_path, customer=[(1, "a", 1, 10.0, "X"), (2, "b", 1, 10.0, "X"), (3, "c", 2, -5.0, "X")])
    # suppliers: 1 in nation 1, 2 negative (-> NULL bucket)
    write_tables(tmp_path, supplier=[(1, "s", 1, 10.0), (2, "t", 9, -1.0), (3, "u", 9, -2.0)])
    rows = {
        r["nkey"]: (r["n_cust"], r["n_supp"])
        for r in registry.QUERIES["join_null_safe"](
            spark, str(tmp_path)
        ).collect()
    }
    # nation 1 matches 2x1; the NULL buckets MATCH under <=> (1 cust, 2 supp)
    assert rows == {1: (2, 1), None: (1, 2)}


def test_not_in_null_semantics_standard(spark, tmp_path):
    write_tables(tmp_path, customer=[(1, "a", 1, 0.0, "X"), (2, "b", 1, 0.0, "X"), (3, "c", 1, 0.0, "X")])
    # customer 1 has an F order; 2 has only O; 3 has none
    write_tables(tmp_path, orders=[
        (10, 1, "F", 5.0, _D0, "1-URGENT"),
        (11, 2, "O", 5.0, _D0, "1-URGENT"),
    ])
    [r] = registry.QUERIES["not_in_null_semantics"](
        spark, str(tmp_path)
    ).collect()
    # NOT IN against a null-bearing list is empty BY THE STANDARD;
    # NOT EXISTS returns the intended anti-set (customers 2, 3)
    assert (r["n_not_in"], r["n_not_exists"], r["n_in"]) == (0, 2, 1)


def test_topk_with_ties_disciplines_diverge(spark, tmp_path):
    # brand B: sizes 9, 9, 9, 9, 7, 5, 5, 3 ->
    #   rank<=3: the four 9s (rank 1 peers)          -> 4
    #   dense<=3: values 9, 7, 5 -> 4 + 1 + 2        -> 7
    #   row_number cutoff                            -> 3
    sizes = [9, 9, 9, 9, 7, 5, 5, 3]
    write_tables(tmp_path, part=[(i + 1, "p", "B", "t", s, 1.0) for i, s in enumerate(sizes)])
    [r] = registry.QUERIES["topk_with_ties"](spark, str(tmp_path)).collect()
    assert (r["n_rank_le3"], r["n_dense_le3"], r["n_rowno_le3"]) == (4, 7, 3)
    assert r["top_size"] == 9


def test_hof_lambda_suite_hand_vector(spark, tmp_path):
    write_tables(tmp_path, embeddings=[(1, [0.5, -0.25, 0.0], 0)])
    [r] = registry.QUERIES["hof_lambda_suite"](spark, str(tmp_path)).collect()
    # qe = [500, -250, 0]; 0 is not > 0 so n_pos = 1
    assert (r["n_dims"], r["n_pos"]) == (3, 1)
    assert r["sumsq_e6"] == 500 * 500 + 250 * 250
    assert (r["min_e3"], r["max_e3"]) == (-250, 500)


def test_interval_merge_overlaps_hand_islands(spark, tmp_path):
    # supplier 1: [0,5] + [3,8] overlap -> [0,8]; [10,12] separate
    # (d1 = d0 + 1 + floor(qty) % 14)
    rows = [
        (1, 1, 1, 4.0, _D0),                      # [0, 5]
        (2, 1, 1, 4.0, _D0 + timedelta(days=3)),  # [3, 8]
        (3, 1, 1, 1.0, _D0 + timedelta(days=10)),  # [10, 12]
    ]
    write_tables(tmp_path, lineitem=[
        (ok, 100 + ok, sk, ln, qty, 1.0, 0.0, 0.0, "N", "O", ship)
        for ok, ln, sk, qty, ship in rows
    ])
    [r] = registry.QUERIES["interval_merge_overlaps"](
        spark, str(tmp_path)
    ).collect()
    assert r["n_merged"] == 2
    assert r["covered_days"] == (8 - 0 + 1) + (12 - 10 + 1)
    assert r["max_span_days"] == 9

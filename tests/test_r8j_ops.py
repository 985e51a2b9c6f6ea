"""Semantic pins for the round-8 ninth batch: explode vs
explode_outer, array index conventions, union-by-name null fill,
LOCF forward fill and the 2-D histogram grid."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def _doc(i, txt):
    return (i, txt, "en", "w", len(txt))


def test_explode_outer_preserves_empty_docs(spark, tmp_path):
    # doc 1 has two >15-char words, doc 2 has none
    long1, long2 = "a" * 16, "b" * 17
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, f"{long1} x {long2}"), (2, "only short words")]],
    )
    [r] = registry.QUERIES["explode_outer_semantics"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_docs"], r["n_empty_docs"]) == (2, 1)
    assert (r["n_explode"], r["n_explode_outer"]) == (2, 3)


def test_array_index_contract_hand_doc(spark, tmp_path):
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "on the mat sat a cat")]])
    [r] = registry.QUERIES["array_index_contract"](
        spark, str(tmp_path)
    ).collect()
    assert r["pos_the"] == 2          # 1-based
    assert r["last_word"] == "cat"    # negative index
    assert r["mid3_len"] == 3         # slice(words, 2, 3)


def test_union_by_name_null_fill(spark, tmp_path):
    write_tables(tmp_path, customer=[(1, "a", 7, 0.0, "S1"), (2, "b", 8, 0.0, "S2")])
    [r] = registry.QUERIES["union_by_name_contract"](
        spark, str(tmp_path)
    ).collect()
    # custkey 2 (even) -> side a (has nationkey); custkey 1 -> side b
    assert r["n_rows"] == 2
    assert (r["null_nation"], r["null_segment"]) == (1, 1)


def test_locf_fill_hand_events(spark, tmp_path):
    # user 1: purchase 5.00, click (NULL -> 500), purchase 7.00, click (700)
    # user 2: leading click stays NULL
    rows = [
        (1, 0, 1, "purchase", 5.0),
        (2, 10, 1, "click", 99.0),
        (3, 20, 1, "purchase", 7.0),
        (4, 30, 1, "click", 99.0),
        (5, 0, 2, "click", 99.0),
    ]
    write_tables(tmp_path, events=[
        (i, _D0 + timedelta(seconds=s), u, e, v, "{}")
        for i, s, u, e, v in rows
    ])
    out = {
        r["event_id"]: r["filled_c"]
        for r in registry.QUERIES["window_locf_fill"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {1: 500, 2: 500, 3: 700, 4: 700, 5: None}


def test_histogram_2d_hand_lines(spark, tmp_path):
    # qty 3 disc 0.04 -> bin (0, 4); qty 7 disc 0.04 -> (1, 4)
    write_tables(tmp_path, lineitem=[
        (1, 1, 1, 1, 3.0, 10.0, 0.04, 0.0, "N", "O", _D0),
        (2, 1, 1, 1, 7.0, 20.0, 0.04, 0.0, "N", "O", _D0),
    ])
    rows = {
        (r["qty_bin"], r["disc_bin"]): (r["n"], r["rev_c"])
        for r in registry.QUERIES["histogram_2d_grid"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {(0, 4): (1, 1000), (1, 4): (1, 2000)}

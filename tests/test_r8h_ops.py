"""Semantic pins for the round-8 seventh batch: session-gap
sensitivity, audience overlap, prefix/suffix dedup blocking, array
set relations and bitwise aggregates."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def test_session_gap_sensitivity_hand_events(spark, tmp_path):
    # user 1: 0s, 700s, 2000s (deltas 700, 1300); user 2: one event
    rows = [
        (1, _D0, 1, "click"),
        (2, _D0 + timedelta(seconds=700), 1, "click"),
        (3, _D0 + timedelta(seconds=2000), 1, "click"),
        (4, _D0, 2, "click"),
    ]
    write_tables(tmp_path, events=[(i, ts, u, e, 1.0, "{}") for i, ts, u, e in rows])
    out = {
        r["gap_s"]: r["n_sessions"]
        for r in registry.QUERIES["session_gap_sensitivity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {600: 4, 1800: 2, 3600: 2}


def test_audience_overlap_hand_events(spark, tmp_path):
    rows = [
        (1, 1, "click"), (2, 2, "click"), (3, 3, "click"),
        (4, 2, "purchase"), (5, 3, "purchase"),
        (6, 9, "view"),
    ]
    write_tables(tmp_path, events=[(i, _D0, u, e, 1.0, "{}") for i, u, e in rows])
    out = registry.QUERIES["audience_overlap_matrix"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1  # only click/purchase share users
    [r] = out
    assert (r["type_a"], r["type_b"]) == ("click", "purchase")
    assert (r["n_a"], r["n_b"], r["n_both"]) == (3, 2, 2)
    assert r["jaccard_e6"] == 2 * 1000000 // 3


def _doc(i, txt):
    return (i, txt, "en", "w", len(txt))


def test_prefix_suffix_block_hand_docs(spark, tmp_path):
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [
            (1, "P" * 32 + "X" + "S" * 32),
            (2, "P" * 32 + "Y" + "S" * 32),
            (3, "Q" * 70),
        ]],
    )
    rows = {
        r["doc_id"]: r
        for r in registry.QUERIES["dedup_prefix_suffix_block"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (rows[1]["pre_dup"], rows[1]["suf_dup"]) == (False, False)
    assert (rows[2]["pre_dup"], rows[2]["suf_dup"]) == (True, True)
    assert (rows[2]["pre_grp"], rows[2]["suf_grp"]) == (1, 1)
    assert (rows[3]["pre_dup"], rows[3]["suf_dup"]) == (False, False)


def test_array_set_relations_hand_doc(spark, tmp_path):
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "the cat the dog")]])
    [r] = registry.QUERIES["array_set_relations"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_distinct"], r["n_stop"], r["n_nonstop"]) == (3, 1, 2)


def test_agg_bitwise_hand_keys(spark, tmp_path):
    write_tables(tmp_path, customer=[(5, "a", 1, 0.0, "X"), (6, "b", 1, 0.0, "X")])
    [r] = registry.QUERIES["agg_bitwise"](spark, str(tmp_path)).collect()
    assert (r["n"], r["band"], r["bor"], r["bxor"]) == (2, 4, 7, 3)

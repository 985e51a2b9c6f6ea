"""Semantic pins for the round-8 closing batch: header/detail
integrity, order fingerprints, burst rates and the 2-D banded join."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def _line(ok, pk, sk, ln, q, p):
    return (ok, pk, sk, ln, float(q), float(p), 0.0, 0.0, "N", "O", _D0)


def test_header_detail_both_directions(spark, tmp_path):
    write_tables(tmp_path, orders=[(1, 1, "O", 1.0, _D0, "1-URGENT"), (2, 1, "O", 1.0, _D0, "1-URGENT")])
    # order 2 has no lines; line for order 9 has no header
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(1, 1, 1, 1, 1.0, 1.0), (9, 1, 1, 1, 1.0, 1.0)]],
    )
    [r] = registry.QUERIES["header_detail_integrity"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_childless_orders"], r["n_orphan_lines"]) == (1, 1)
    assert (r["n_orders"], r["n_lines"]) == (2, 2)


def test_fingerprint_order_insensitive_and_sensitive(spark, tmp_path):
    # orders 1 and 2 contain the SAME two lines in different linenumbers?
    # No — linenumber is hashed, so identical content = identical fields.
    # Orders 1 and 2: same lines -> same xor; order 3 differs by price.
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [
            (1, 10, 1, 1, 2.0, 5.0), (1, 11, 1, 2, 3.0, 7.0),
            (2, 10, 1, 1, 2.0, 5.0), (2, 11, 1, 2, 3.0, 7.0),
            (3, 10, 1, 1, 2.0, 5.0), (3, 11, 1, 2, 3.0, 7.5),
        ]],
    )
    rows = {
        r["l_orderkey"]: (r["n_lines"], r["content_xor"])
        for r in registry.QUERIES["order_content_fingerprint"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[1] == rows[2]          # identical content, same fingerprint
    assert rows[1] != rows[3]          # one price change flips it
    assert rows[1][0] == 2


def test_burst_rate_hand(spark, tmp_path):
    # user 1: 3 events inside 60s, later 1 alone -> peak 3; user 2 -> 1
    rows = [(1, 0, 1), (2, 30, 1), (3, 59, 1), (4, 500, 1), (5, 0, 2)]
    write_tables(tmp_path, events=[
        (i, _D0 + timedelta(seconds=s), u, "click", 1.0, "{}")
        for i, s, u in rows
    ])
    out = {
        r["peak_events_60s"]: r["n_users"]
        for r in registry.QUERIES["burst_max_rate_per_user"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {3: 1, 1: 1}


def test_banded_2d_neighbors(spark, tmp_path):
    # part 1 (100.0, size 4) and part 2 (105.0, size 5): within both
    # bands; part 3 (100.0, size 9): size too far
    write_tables(tmp_path, part=[
        (1, "p", "B", "t", 4, 100.0), (2, "p", "B", "t", 5, 105.0),
        (3, "p", "B", "t", 9, 100.0),
    ])
    rows = {
        r["part_a"]: r["n_neighbors"]
        for r in registry.QUERIES["join_range_banded_2d"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {1: 1, 2: 1}  # part 3 has no neighbors -> absent

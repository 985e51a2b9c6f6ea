"""Semantic pins for the round-8 thirteenth batch: dynamic-gap
sessions, exact weighted median, CSV roundtrip, nested flatten and
dead-stock shares."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def _event(i, s, u, e, v):
    return (i, _D0 + timedelta(seconds=s), u, e, v, "{}")


def test_session_dynamic_gap_hand(spark, tmp_path):
    # click at 0 (5m gap) and 240 merge; purchase at 1200 (30m) pulls
    # the click at 2700 (within 30m of 1200+1800) into one session
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, 0, 1, "click", 1.0),
            (2, 240, 1, "click", 1.0),
            (3, 1200, 1, "purchase", 1.0),
            (4, 2700, 1, "click", 1.0),
        ]],
    )
    rows = sorted(
        registry.QUERIES["session_dynamic_gap"](
            spark, str(tmp_path)
        ).collect(),
        key=lambda r: r["start_sec"],
    )
    base = rows[0]["start_sec"]
    spans = [
        (r["start_sec"] - base, r["end_sec"] - base, r["n_events"])
        for r in rows
    ]
    # session 1: [0, 240+300); session 2: [1200, 2700+300)
    assert spans == [(0, 540, 2), (1200, 3000, 2)]


def test_weighted_median_hand(spark, tmp_path):
    # qty 1 carries 1.00, qty 10 carries 9.00 -> half of 10.00 sits at 10
    write_tables(tmp_path, lineitem=[
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _D0),
        (2, 1, 1, 1, 10.0, 9.0, 0.0, 0.0, "N", "O", _D0),
    ])
    [r] = registry.QUERIES["weighted_median_exact"](
        spark, str(tmp_path)
    ).collect()
    assert (r["total_w"], r["wmedian_qty_c"]) == (1000, 1000)


def test_csv_roundtrip_with_delimiterish_text(spark, tmp_path):
    write_tables(tmp_path, events=[_event(*r) for r in [(1, 0, 1, "click", 2.5)]])
    [r] = registry.QUERIES["csv_column_roundtrip"](
        spark, str(tmp_path)
    ).collect()
    assert (r["parsed_id"], r["parsed_type"], r["parsed_cents"]) == (
        1, "click", 250,
    )


def test_nested_flatten_identity(spark, tmp_path):
    write_tables(tmp_path, documents=[(1, "a b c d e", "en", "w", 9)])
    [r] = registry.QUERIES["nested_array_flatten"](
        spark, str(tmp_path)
    ).collect()
    # 5 words -> chunks [a b c][d e] -> 2 chunks, flatten == original
    assert (r["n_words"], r["n_chunks"], r["flat_equal"]) == (5, 2, True)


def test_catalog_dead_stock_hand(spark, tmp_path):
    write_tables(tmp_path, part=[
        (1, "p", "A", "t", 1, 1.0), (2, "p", "A", "t", 1, 1.0),
        (3, "p", "B", "t", 1, 1.0),
    ])
    write_tables(tmp_path, lineitem=[(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _D0)])
    rows = {
        r["p_brand"]: (r["n_parts"], r["n_dead"], r["dead_e6"])
        for r in registry.QUERIES["catalog_dead_stock"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {"A": (2, 1, 500000), "B": (1, 1, 1000000)}

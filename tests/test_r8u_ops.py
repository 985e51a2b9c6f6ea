"""Semantic pins for the round-8 final-final batch: DST conversion,
triplet margins, user dominance and supplier HHI."""

from __future__ import annotations

from datetime import datetime, timedelta

from instructions_mr_spark import registry
from tests.conftest import write_tables


_D0 = datetime(2024, 1, 1)


def test_tz_dst_boundaries(spark, tmp_path):
    rows = {
        r["utc_idx"]: (r["ny_local"], r["kolkata_local"])
        for r in registry.QUERIES["tz_conversion_contract"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[1][0] == "2024-03-10 01:30"  # EST, pre spring-forward
    assert rows[2][0] == "2024-03-10 03:30"  # 02:30 does not exist
    # fall-back: both UTC instants render the same ambiguous local time
    assert rows[3][0] == rows[4][0] == "2024-11-03 01:30"
    assert rows[5][1] == "2024-06-15 17:30"  # +05:30 half-hour offset


def test_triplet_margins_planted(spark, tmp_path):
    # probe 0 (label 0): same-label neighbor very close, other label far
    rows = [
        (0, [1.0, 0.0], 0),      # probe
        (1, [0.9, 0.0], 0),      # hard positive: dot ~ 900*1000
        (2, [0.0, 1.0], 1),      # negative: dot 0
        (50, [0.0, 0.95], 1),    # probe label 1, positive is vec 2
        (3, [0.05, 0.0], 0),     # weak other-label for probe 50
    ]
    write_tables(tmp_path, embeddings=rows)
    out = {
        r["probe_label"]: (r["n_probes"], r["n_violations"])
        for r in registry.QUERIES["triplet_margin_stats"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {0: (1, 0), 1: (1, 0)}  # both margins positive


def test_user_dominance_hand(spark, tmp_path):
    # user 1: 3 clicks 1 view -> 75% band 7; user 2: all clicks -> band 10
    rows = [(1, 1, "click"), (2, 1, "click"), (3, 1, "click"), (4, 1, "view"),
            (5, 2, "click"), (6, 2, "click")]
    write_tables(tmp_path, events=[(i, _D0 + timedelta(seconds=i), u, e, 1.0, "{}") for i, u, e in rows])
    out = {
        r["dominance_decile"]: r["n_users"]
        for r in registry.QUERIES["user_dominance_share"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {7: 1, 10: 1}


def test_supplier_hhi_hand(spark, tmp_path):
    # supp 7: customers 60/40 split -> HHI = 0.52; supp 8: single -> 1.0
    write_tables(tmp_path, orders=[(1, 1, "O", 1.0, _D0, "1-URGENT"), (2, 2, "O", 1.0, _D0, "1-URGENT")])
    write_tables(tmp_path, lineitem=[
        (1, 1, 7, 1, 1.0, 6.0, 0.0, 0.0, "N", "O", _D0),
        (2, 1, 7, 1, 1.0, 4.0, 0.0, 0.0, "N", "O", _D0),
        (1, 1, 8, 2, 1.0, 5.0, 0.0, 0.0, "N", "O", _D0),
    ])
    out = {
        r["l_suppkey"]: (r["n_customers"], r["hhi_e6"])
        for r in registry.QUERIES["supplier_customer_hhi"](
            spark, str(tmp_path)
        ).collect()
    }
    # supp 7: (600^2 + 400^2) / 1000^2 = 0.52
    assert out == {7: (2, 520000), 8: (1, 1000000)}

"""Semantic pins for the round-8 additions: Spearman rank correlation,
Theil index terms, Mann-Kendall trend, count-min sketch audit, and the
feature-hashing collision audit — each on a handcrafted input with a
hand-computed answer."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _order(ok, ck, tp, d):
    return (ok, ck, "O", tp, d, "1-URGENT")


def _line(ok, pk):
    return (ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))


def _doc(did, txt):
    return (did, txt, "en", "s", len(txt))


def test_spearman_perfect_anticorrelation(spark, tmp_path):
    """freq ranks 1/2/3 vs cents ranks 3/2/1: sum d^2 = 8, rho =
    1 - 6*8/(27-3) = -1 exactly."""
    d = datetime(2024, 1, 1)
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [
            (1, 1, 30.0, d),                     # c1: 1 order, 3000c
            (2, 2, 10.0, d), (3, 2, 10.0, d),    # c2: 2 orders, 2000c
            (4, 3, 2.0, d), (5, 3, 3.0, d), (6, 3, 5.0, d),  # c3: 3, 1000c
        ]],
    )
    r = registry.QUERIES["spearman_rho_terms"](spark, str(tmp_path)).collect()[0]
    assert r.n == 3 and r.sum_d2 == 8
    assert r.rho_e6 == -1000000


def test_theil_equal_revenues_zero(spark, tmp_path):
    """Two customers at 100 cents each: T = S/total - (ln total - ln n)
    = ln(100) - ln(100) = 0; the emitted terms are the nearest doubles
    of the exact pieces."""
    d = datetime(2024, 1, 1)
    write_tables(tmp_path, orders=[_order(*r) for r in [(1, 1, 1.0, d), (2, 2, 1.0, d)]])
    r = registry.QUERIES["theil_index_terms"](spark, str(tmp_path)).collect()[0]
    assert r.n == 2 and r.total_cents == 200
    assert r.sum_xlnx == 921.0340372  # 200 * round(ln 100, 10)
    assert r.ln_total_r10 == 5.2983173665
    assert r.ln_n_r10 == 0.6931471806
    t = float(r.sum_xlnx) / r.total_cents - (
        float(r.ln_total_r10) - float(r.ln_n_r10)
    )
    assert abs(t) < 1e-9


def test_mann_kendall_strictly_rising(spark, tmp_path):
    """Daily revenue 100/200/300 cents: all 3 pairs concordant,
    S = +3."""
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [
            (1, 1, 1.0, datetime(2024, 1, 1)),
            (2, 1, 2.0, datetime(2024, 1, 2)),
            (3, 1, 3.0, datetime(2024, 1, 3)),
        ]],
    )
    r = registry.QUERIES["mann_kendall_trend"](spark, str(tmp_path)).collect()[0]
    assert r.n_days == 3 and r.s_stat == 3
    assert r.n_concordant == 3 and r.n_discordant == 0 and r.n_ties == 0


def test_countmin_never_undercounts(spark, tmp_path):
    """Parts with counts 5/3/1: every CM estimate >= the exact count
    (the sketch's one-sided guarantee), exact counts land verbatim."""
    write_tables(
        tmp_path,
        lineitem=[_line(*r) for r in [(i, 101) for i in range(5)]
        + [(i, 202) for i in range(5, 8)]
        + [(8, 303)]],
    )
    rows = registry.QUERIES["sketch_countmin_heavy"](
        spark, str(tmp_path)
    ).collect()
    got = {r.l_partkey: r for r in rows}
    assert set(got) == {101, 202, 303}
    assert got[101].exact_cnt == 5 and got[202].exact_cnt == 3
    assert got[303].exact_cnt == 1
    for r in rows:
        assert r.overestimate >= 0
        assert r.cm_estimate == r.exact_cnt + r.overestimate


def test_feature_hash_bucket_identity(spark, tmp_path):
    """Vocab {a,b,c}: 3 features; singleton buckets hold exactly one
    feature, so features - collided_features == buckets - collided
    buckets regardless of where the hashes land."""
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "a b"), (2, "b c")]])
    r = registry.QUERIES["feature_hash_collision_audit"](
        spark, str(tmp_path)
    ).collect()[0]
    assert r.n_features == 3
    assert 1 <= r.n_buckets_used <= 3
    assert (
        r.n_features - r.n_features_collided
        == r.n_buckets_used - r.n_collided_buckets
    )
    assert r.max_bucket_load >= 1
    assert r.collision_rate_e6 == r.n_features_collided * 1000000 // r.n_features


def _line_priced(ok, pk, ln, ep):
    return (ok, pk, 1, ln, 1.0, ep, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))


def _purchase(eid, ts, v):
    return (eid, ts, 1, "purchase", v, "{}")


def test_assoc_rules_directional_confidence(spark, tmp_path):
    """Orders {A,B}, {A,B}, {A}: support(AB)=2, conf(A=>B)=2/3,
    conf(B=>A)=1 — the direction matters."""
    write_tables(
        tmp_path,
        lineitem=[_line_priced(*r) for r in [(1, 10, 1, 1.0), (1, 20, 2, 1.0),
         (2, 10, 1, 1.0), (2, 20, 2, 1.0),
         (3, 10, 1, 1.0)]],
    )
    rows = registry.QUERIES["assoc_rules_confidence"](
        spark, str(tmp_path)
    ).collect()
    got = {(r.antecedent, r.consequent): r for r in rows}
    assert set(got) == {(10, 20), (20, 10)}
    assert got[(10, 20)].support == 2 and got[(10, 20)].conf_e6 == 666666
    assert got[(20, 10)].support == 2 and got[(20, 10)].conf_e6 == 1000000


def test_cohort_ltv_cumulative(spark, tmp_path):
    """One customer, $1.00 in period 0 and $2.00 one 30-day period
    later: cum curve 100 -> 300 cents at ages 0 and 1."""
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [(1, 1, 1.0, datetime(2024, 1, 1)), (2, 1, 2.0, datetime(2024, 2, 5))]],
    )
    rows = sorted(
        registry.QUERIES["cohort_ltv_curve"](spark, str(tmp_path)).collect(),
        key=lambda r: r.age,
    )
    assert [r.age for r in rows] == [0, 1]
    assert [r.cum_cents for r in rows] == [100, 300]
    assert all(r.n_customers == 1 for r in rows)
    assert [r.ltv_per_customer_cents for r in rows] == [100, 300]


def test_new_vs_returning_split(spark, tmp_path):
    """First period is all-new revenue; the next period's order from
    the same customer counts as returning."""
    write_tables(
        tmp_path,
        orders=[_order(*r) for r in [(1, 1, 1.0, datetime(2024, 1, 1)), (2, 1, 2.0, datetime(2024, 2, 5))]],
    )
    rows = sorted(
        registry.QUERIES["new_vs_returning_split"](
            spark, str(tmp_path)
        ).collect(),
        key=lambda r: r.period,
    )
    assert rows[0].new_cents == 100 and rows[0].returning_cents == 0
    assert rows[1].new_cents == 0 and rows[1].returning_cents == 200
    assert rows[1].n_returning_orders == 1


def test_duplicate_line_audit(spark, tmp_path):
    """Part 5 entered on lines 1 and 3 of order 1: one flagged group;
    the clean order 2 stays silent."""
    write_tables(
        tmp_path,
        lineitem=[_line_priced(*r) for r in [(1, 5, 1, 1.0), (1, 5, 3, 1.0), (1, 6, 2, 9.0), (2, 5, 1, 4.0)]],
    )
    rows = registry.QUERIES["duplicate_line_audit"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.l_orderkey, r.l_partkey) == (1, 5)
    assert r.n_lines == 2 and r.cents_total == 200
    assert (r.first_line, r.last_line) == (1, 3)


def test_ohlc_tie_broken_open_close(spark, tmp_path):
    """Two purchases share the opening timestamp: the lower event_id
    wins open (struct argmin, not min_by); close is the latest row."""
    h = datetime(2024, 1, 1, 10, 0, 1)
    write_tables(
        tmp_path,
        events=[_purchase(*r) for r in [(1, h, 5.0), (2, h, 7.0), (3, datetime(2024, 1, 1, 10, 30), 3.0)]],
    )
    rows = registry.QUERIES["ts_ohlc_hourly"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert float(r.open) == 5.0 and float(r.close) == 3.0
    assert float(r.high) == 7.0 and float(r.low) == 3.0
    assert float(r.volume) == 15.0 and r.n_events == 3

"""Semantic pins for the round-9 statistics additions: Welch t/df on
a handcrafted unequal-variance split, the BH step-up keep/reject
boundary on a planted language marker, and Cramér's V = 1 / ~0 on
perfectly-associated vs independent categorical pairs."""

from __future__ import annotations

import math
from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _event(i, ts, u, et, v):
    return (i, ts, u, et, float(v), "{}")


def _doc(i, txt, lang, src):
    return (i, txt, lang, src, len(txt))


def test_welch_ttest_terms_hand_computed(spark, tmp_path):
    """Saturday arm {1, 3} vs weekday arm {10, 10, 16}: terms, the
    Welch t and the Satterthwaite df all match the textbook formulas
    (df must land strictly between min(n)-1 and n_a+n_b-2)."""
    sat = datetime(2024, 1, 6)  # a Saturday
    mon = datetime(2024, 1, 8)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, sat, 1, "view", 1.0),
            (2, sat, 1, "view", 3.0),
            (3, mon, 1, "view", 10.0),
            (4, mon, 1, "view", 10.0),
            (5, mon, 1, "view", 16.0),
        ]],
    )
    [r] = registry.QUERIES["welch_ttest_terms"](spark, str(tmp_path)).collect()
    assert (r["n_a"], r["n_b"]) == (2, 3)
    assert (r["sum_a"], r["sum_b"]) == (400, 3600)
    # cents: a = {100, 300}, b = {1000, 1000, 1600}
    assert r["ss_a"] == 100 * 100 + 300 * 300
    assert r["ss_b"] == 1000 * 1000 + 1000 * 1000 + 1600 * 1600
    va = (r["ss_a"] - r["sum_a"] ** 2 / r["n_a"]) / (r["n_a"] - 1)
    vb = (r["ss_b"] - r["sum_b"] ** 2 / r["n_b"]) / (r["n_b"] - 1)
    se2 = va / r["n_a"] + vb / r["n_b"]
    t_exp = (r["sum_a"] / r["n_a"] - r["sum_b"] / r["n_b"]) / math.sqrt(se2)
    df_exp = se2 * se2 / (
        (va / r["n_a"]) ** 2 / (r["n_a"] - 1) + (vb / r["n_b"]) ** 2 / (r["n_b"] - 1)
    )
    assert abs(r["t_welch"] - round(t_exp, 6)) < 1e-9
    assert abs(r["df_welch"] - round(df_exp, 6)) < 1e-9
    assert min(r["n_a"], r["n_b"]) - 1 < r["df_welch"] < r["n_a"] + r["n_b"] - 2


def test_welch_drops_single_observation_arms(spark, tmp_path):
    """An event type with n=1 in one arm has no variance estimate —
    the row is filtered, not NaN-polluted."""
    sat = datetime(2024, 1, 6)
    mon = datetime(2024, 1, 8)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, sat, 1, "click", 1.0),
            (2, mon, 1, "click", 2.0),
            (3, mon, 1, "click", 3.0),
        ]],
    )
    assert registry.QUERIES["welch_ttest_terms"](spark, str(tmp_path)).count() == 0


def test_bh_keeps_planted_marker_rejects_uniform(spark, tmp_path):
    """A term appearing ONLY in lang en (perfect marker) must be kept;
    a term spread exactly like the language marginals must sort last
    and be rejected.  120 occurrences each to clear the n>=100 gate."""
    docs = []
    did = 0
    # 'marker' only in en; 'fill' balances langs so marginals are even.
    for i in range(120):
        docs.append((did, "marker " * 1 + "base", "en", "s1"))
        did += 1
    for lang in ["en", "de", "fr"]:
        for i in range(40):
            docs.append((did, "uniform base base", lang, "s1"))
            did += 1
    # pad de/fr token mass so 'base' is spread and marginals non-trivial
    for lang in ["de", "fr"]:
        for i in range(60):
            docs.append((did, "base base", lang, "s1"))
            did += 1
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    rows = {
        r["term"]: r
        for r in registry.QUERIES["benjamini_hochberg_fdr"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows["marker"]["kept"] == 1
    assert rows["marker"]["rn"] == 1  # strongest association ranks first
    assert rows["uniform"]["kept"] == 0
    # not an exact-marginal split (the pad docs skew lang token mass),
    # but far from any BH keep boundary
    assert rows["uniform"]["p_value"] > 0.05
    # BH monotonicity: the kept set is a prefix of the ranking
    ranked = sorted(rows.values(), key=lambda r: r["rn"])
    flags = [r["kept"] for r in ranked]
    assert flags == sorted(flags, reverse=True)


def test_cramers_v_perfect_and_independent(spark, tmp_path):
    """lang==source bijection gives V=1; a balanced independent grid
    gives V=0 (chi2_e6 exactly 0)."""
    docs = []
    did = 0
    for lang, src in [("en", "en"), ("de", "de"), ("fr", "fr")]:
        for i in range(10):
            docs.append((did, "x", lang, src))
            did += 1
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    write_tables(
        tmp_path,
        events=[
            _event(i, datetime(2024, 1, 1 + ((i // 2) % 4)), 1, ["a", "b"][i % 2], 1.0)
            for i in range(80)
        ],
    )
    write_tables(tmp_path, orders=[(1, 1, "O", 10.0, datetime(2024, 1, 1), "1-URGENT")])
    out = {
        r["pair"]: r
        for r in registry.QUERIES["cramers_v_matrix"](spark, str(tmp_path)).collect()
    }
    perfect = out["doc_lang_x_source"]
    assert perfect["r_levels"] == perfect["c_levels"] == 3
    assert abs(perfect["cramers_v"] - 1.0) < 1e-4  # e6 truncation only
    indep = out["event_type_x_dow"]
    assert indep["chi2_e6"] == 0
    assert indep["cramers_v"] == 0.0
    # degenerate single-level pair: V is NULL, never a /0 error
    assert out["order_priority_x_status"]["cramers_v"] is None


def test_distinct_on_contract_total_tiebreak(spark, tmp_path):
    """Two orders on the same date: the higher orderkey wins (the
    total-order tiebreak), never an arbitrary row."""
    write_tables(tmp_path, orders=[
        (1, 7, "O", 10.0, datetime(2024, 3, 1), "P"),
        (2, 7, "O", 20.0, datetime(2024, 3, 1), "P"),
        (3, 7, "O", 30.0, datetime(2024, 2, 1), "P"),
        (4, 8, "O", 40.0, datetime(2024, 1, 1), "P"),
    ])
    out = {
        r["custkey"]: r
        for r in registry.QUERIES["distinct_on_contract"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[7]["latest_orderkey"] == 2  # same-date tie -> higher key
    assert out[7]["latest_cents"] == 2000
    assert out[8]["latest_orderkey"] == 4


def test_distinct_on_compiles_to_window_group_limit(spark):
    """The rn=1 pick must compile to WindowGroupLimit (top-1 per key
    runs map-side before the shuffle) — the docstring's scale claim,
    checked mechanically."""
    df = registry.QUERIES["distinct_on_contract"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_posexplode_positions_zero_based(spark, tmp_path):
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, "alpha beta gamma delta epsilon zeta", "en", "s1"), (2, "alpha", "en", "s1")]],
    )
    rows = registry.QUERIES["posexplode_contract"](spark, str(tmp_path)).collect()
    got = {(r["pos"], r["w"]): r["n"] for r in rows}
    assert got[(0, "alpha")] == 2  # both docs start with alpha
    assert got[(4, "epsilon")] == 1
    assert (5, "zeta") not in got  # only the first five positions
    assert all(0 <= p <= 4 for p, _ in got)


def test_regexp_backrefs_swap_all_pairs(spark, tmp_path):
    """$2 $1 swaps EVERY adjacent pair (global replace), matching the
    DuckDB 'g'-flag oracle — 4 tokens give two swapped pairs."""
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "aa bb cc dd ee", "en", "s1")]])
    [r] = registry.QUERIES["regexp_replace_backrefs_contract"](
        spark, str(tmp_path)
    ).collect()
    assert r["swapped"] == "bb aa dd cc"


def test_isotropy_defect_extremes(spark, tmp_path):
    """Label 0: two antipodal vectors -> mean is zero -> defect 0.
    Label 1: two identical vectors -> mean IS the vector -> defect 1."""
    write_tables(
        tmp_path,
        embeddings=[
            (1, [0.5, 0.0], 0),
            (2, [-0.5, 0.0], 0),
            (3, [0.0, 0.5], 1),
            (4, [0.0, 0.5], 1),
        ],
    )
    out = {
        r["label"]: r
        for r in registry.QUERIES["embedding_isotropy_terms"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[0]["norm2_of_mean"] == 0.0
    assert out[0]["isotropy_defect"] == 0.0
    assert abs(out[1]["mean_norm2"] - 0.25) < 1e-9
    assert abs(out[1]["isotropy_defect"] - 1.0) < 1e-9


def test_mahalanobis_flags_planted_outlier(spark, tmp_path):
    """49 inliers near the origin + one far point: the far point must
    rank first, and a constant dim contributes nothing (no /0)."""
    rows = [(i, [0.001 * (i % 7 - 3), 0.002 * (i % 5 - 2), 0.42], 0) for i in range(49)]
    rows.append((99, [0.4, -0.4, 0.42], 1))  # dim 2 constant everywhere
    write_tables(tmp_path, embeddings=rows)
    out = registry.QUERIES["embedding_mahalanobis_outliers"](
        spark, str(tmp_path)
    ).collect()
    assert out[0]["vec_id"] == 99
    assert out[0]["maha2_e6"] > out[1]["maha2_e6"]
    assert len(out) == 20


def test_mahalanobis_compiles_to_take_ordered(spark):
    """The global top-20 must be TakeOrderedAndProject, not a full
    sort — the docstring's scale claim, checked mechanically."""
    df = registry.QUERIES["embedding_mahalanobis_outliers"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def _line(ok, pk):
    return (ok, pk, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))


def _part(pk, b):
    return (pk, f"part{pk}", b, "T", 1, 1.0)


def test_degree_ccdf_monotone_and_exact(spark, tmp_path):
    """Triangle {1,2,3} (each pair in 2 orders): all degrees 2, so
    n_ge is 3 at thresholds 1 and 2 and 0 from 4 on; CCDF is
    monotone non-increasing by construction."""
    pairs = [(1, 2), (1, 3), (2, 3)]
    rows = []
    ok = 0
    for a, b in pairs:
        for _ in range(2):  # support >= 2
            ok += 1
            rows += [(ok, a), (ok, b)]
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    out = registry.QUERIES["graph_degree_ccdf"](spark, str(tmp_path)).collect()
    got = {r["threshold"]: r["n_ge"] for r in out}
    assert got[1] == 3 and got[2] == 3 and got[4] == 0
    assert got[1024] == 0
    ccdf = [r["n_ge"] for r in sorted(out, key=lambda r: r["threshold"])]
    assert ccdf == sorted(ccdf, reverse=True)
    assert out[0]["frac_ge"] == 1.0


def test_conductance_isolated_vs_bridged(spark, tmp_path):
    """Brand A is a closed pair (conductance 0); brands B and C share
    their only edge (conductance 1 on each side)."""
    pairs = [(1, 2), (3, 4)]  # A-A edge, B-C bridge
    rows = []
    ok = 0
    for a, b in pairs:
        for _ in range(2):
            ok += 1
            rows += [(ok, a), (ok, b)]
    write_tables(tmp_path, lineitem=[_line(*r) for r in rows])
    write_tables(tmp_path, part=[_part(*r) for r in [(1, "A"), (2, "A"), (3, "B"), (4, "C")]])
    out = {
        r["brand"]: r
        for r in registry.QUERIES["graph_conductance_brand"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out["A"]["cut"] == 0 and out["A"]["conductance"] == 0.0
    assert out["A"]["vol"] == 2 and out["A"]["n_vertices"] == 2
    assert out["B"]["cut"] == 1 and out["B"]["conductance"] == 1.0
    assert out["C"]["conductance"] == 1.0


def test_cold_start_window_and_ranking(spark, tmp_path):
    """An order 40 days before the anchor is excluded; parts rank by
    recent revenue with partkey tiebreak."""
    write_tables(tmp_path, orders=[
        (1, 1, "O", 1.0, datetime(2024, 3, 1), "P"),   # anchor day
        (2, 1, "O", 1.0, datetime(2024, 2, 25), "P"),  # inside window
        (3, 1, "O", 1.0, datetime(2024, 1, 20), "P"),  # outside
    ])
    full = [
        (1, 10, 200.0),  # recent: 200
        (2, 11, 300.0),  # recent: 300 -> rank 1
        (3, 12, 999.0),  # stale: excluded
    ]
    write_tables(tmp_path, lineitem=[
        (ok, pk, 1, 1, 1.0, ep, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))
        for ok, pk, ep in full
    ])
    write_tables(tmp_path, customer=[(1, "alice", 7, 0.0, "BUILDING")])
    write_tables(tmp_path, nation=[(7, "FRANCE", 1)])
    out = registry.QUERIES["cold_start_recs_by_nation"](spark, str(tmp_path)).collect()
    assert [(r["rnk"], r["partkey"], r["cents"]) for r in out] == [
        (1, 11, 30000),
        (2, 10, 20000),
    ]
    assert all(r["nation"] == "FRANCE" for r in out)


def test_readability_proxy_hand_computed(spark, tmp_path):
    """'go to it' = 3 words, 3 syllable-groups, 1 doc; a vowel-less
    token still costs one syllable (GREATEST floor)."""
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, "go to it", "en", "s1"), (2, "xyz qrst", "en", "s2")]],
    )
    out = {
        r["source"]: r
        for r in registry.QUERIES["readability_proxy_profile"](
            spark, str(tmp_path)
        ).collect()
    }
    s1 = out["s1"]
    assert (s1["n_docs"], s1["n_words"], s1["n_syll"]) == (1, 3, 3)
    assert s1["syll_per_word"] == 1.0
    assert abs(s1["flesch_proxy"] - round(206.835 - 1.015 * 3 - 84.6 * 1.0, 6)) < 1e-9
    s2 = out["s2"]
    assert s2["n_syll"] == 2  # consonant-only tokens floor at 1 each


def test_bigram_conditional_entropy_extremes(spark, tmp_path):
    """Alternating 'a b a b a' is perfectly predictable (H_cond = 0);
    'a a a b' has one uncertain continuation (H_cond = H2 - 0)."""
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, "a b a b a", "alt", "alt"), (2, "a a a b", "skew", "skew")]],
    )
    # documents writer uses (doc_id, text, lang, source)
    out = {
        r["source"]: r
        for r in registry.QUERIES["bigram_conditional_entropy_by_source"](
            spark, str(tmp_path)
        ).collect()
    }
    alt = out["alt"]
    assert alt["n_bigrams"] == 4
    assert alt["h_bigram"] == 1.0 and alt["h_prefix"] == 1.0
    assert alt["h_cond"] == 0.0
    skew = out["skew"]
    assert skew["n_bigrams"] == 3
    assert skew["h_prefix"] == 0.0
    import math

    h2 = -(2 / 3 * math.log2(2 / 3) + 1 / 3 * math.log2(1 / 3))
    assert abs(skew["h_cond"] - round(h2, 6)) < 2e-6


def test_variance_ratio_alternating_series(spark, tmp_path):
    """Alternating 0/200-cent days: daily variance is positive but
    every 2-day block sums to the same 200 -> VR collapses to 0 at
    k = 2, 4, 8; block counts halve exactly."""
    rows = []
    for d in range(8):
        if d % 2 == 1:  # odd days ship 2.00, even days nothing
            rows.append((d + 1, 1, 2.0, datetime(2024, 1, 1 + d)))
    # one zero-revenue anchor line on day 0 so the spine starts there
    rows.append((100, 1, 0.0, datetime(2024, 1, 1)))
    write_tables(tmp_path, lineitem=[
        (ok, pk, 1, 1, 1.0, ep, 0.0, 0.0, "N", "O", d)
        for ok, pk, ep, d in rows
    ])
    out = {r["k"]: r for r in registry.QUERIES["variance_ratio_terms"](
        spark, str(tmp_path)).collect()}
    assert [out[k]["n_blocks"] for k in (1, 2, 4, 8)] == [8, 4, 2, 1]
    assert out[1]["vr"] == 1.0            # VR(1) is identically 1
    assert out[2]["vr"] == 0.0            # constant block sums
    assert out[4]["vr"] == 0.0
    assert out[1]["sum_cents"] == 800     # zero-filled spine kept all days


def test_burstiness_metronome_vs_spread(spark, tmp_path):
    """Equal 10s gaps -> cv 0, B = -1.  Gaps {1, 9} -> cv 0.8,
    B = -1/9 (population variance, shared-expression floats)."""
    base = datetime(2024, 1, 1)
    from datetime import timedelta

    evs = [
        (1, base, 1, "tick", 1.0),
        (2, base + timedelta(seconds=10), 1, "tick", 1.0),
        (3, base + timedelta(seconds=20), 1, "tick", 1.0),
        (4, base, 2, "burst", 1.0),
        (5, base + timedelta(seconds=1), 2, "burst", 1.0),
        (6, base + timedelta(seconds=10), 2, "burst", 1.0),
    ]
    write_tables(tmp_path, events=[_event(*r) for r in evs])
    out = {r["event_type"]: r for r in registry.QUERIES[
        "interarrival_burstiness_terms"](spark, str(tmp_path)).collect()}
    tick = out["tick"]
    assert (tick["n_gaps"], tick["sum_gap"]) == (2, 20)
    assert tick["cv"] == 0.0 and tick["burstiness"] == -1.0
    burst = out["burst"]
    assert (burst["n_gaps"], burst["sum_gap"]) == (2, 10)
    assert abs(burst["cv"] - 0.8) < 1e-9
    assert abs(burst["burstiness"] - round(-1 / 9, 6)) < 1e-9


def test_mlm_mask_plan_deterministic_and_sane(spark, tmp_path):
    """Same fixture twice -> identical plans (hash-derived, no RNG);
    mask rate lands near the 1/5 coin and spans never exceed masks."""
    docs = [(i, " ".join(f"w{j}" for j in range(200)), "en", "s1") for i in range(20)]
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    q = registry.QUERIES["mlm_mask_plan_stats"]
    [a] = q(spark, str(tmp_path)).collect()
    [b] = q(spark, str(tmp_path)).collect()
    assert a == b
    assert a["n_tokens"] == 4000
    assert 0.15 < a["mask_rate"] < 0.25
    assert 0 < a["n_spans"] <= a["n_masked"]
    assert a["avg_span_len"] >= 1.0


def test_pivot_two_aggs_zero_fill_and_naming(spark, tmp_path):
    """A source with no zh docs gets zh_chars = zh_docs = 0 (never
    NULL); the flattened {value}_{alias} columns are the contract."""
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, "abc", "en", "s1"), (2, "defgh", "en", "s1"), (3, "xy", "zh", "s2")]],
    )
    out = {r["source"]: r for r in registry.QUERIES["pivot_two_aggs_contract"](
        spark, str(tmp_path)).collect()}
    assert out["s1"]["en_chars"] == 8 and out["s1"]["en_docs"] == 2
    assert out["s1"]["zh_chars"] == 0 and out["s1"]["zh_docs"] == 0
    assert out["s2"]["zh_docs"] == 1 and out["s2"]["en_docs"] == 0
    cols = registry.QUERIES["pivot_two_aggs_contract"](spark, str(tmp_path)).columns
    assert cols[:3] == ["source", "de_chars", "de_docs"]


def _part_sized(pk, b, sz, rp):
    return (pk, f"p{pk}", b, "T", sz, rp)


def test_groups_frame_peers_collapse(spark, tmp_path):
    """Two same-size rows form ONE peer group: size 1's frame must
    include BOTH size-2 rows plus itself (GROUPS semantics), and a
    gap (size 9) is still the adjacent GROUP, not an adjacent value."""
    write_tables(
        tmp_path,
        part=[_part_sized(*r) for r in [(1, "B", 1, 1.0), (2, "B", 2, 2.0), (3, "B", 2, 3.0), (4, "B", 9, 10.0)]],
    )
    out = {r["p_size"]: r["frame_cents"] for r in registry.QUERIES[
        "groups_frame_emulation"](spark, str(tmp_path)).collect()}
    assert out[1] == 100 + 200 + 300        # self + whole size-2 group
    assert out[2] == 100 + 500 + 1000       # both neighbors despite gap
    assert out[9] == 500 + 1000


def test_unit_price_dispersion_ranks_slip_first(spark, tmp_path):
    """A part sold at 1.00/unit twice and 10.00/unit once dominates a
    constant-price part; n<3 parts are excluded."""
    rows = [
        (1, 1, 1.0, 1.0), (2, 1, 1.0, 1.0), (3, 1, 1.0, 10.0),  # dispersed
        (4, 2, 2.0, 4.0), (5, 2, 2.0, 4.0), (6, 2, 2.0, 4.0),   # constant unit 2.0
        (7, 3, 1.0, 5.0), (8, 3, 1.0, 9.0),                     # only 2 sales
    ]
    write_tables(tmp_path, lineitem=[
        (ok, pk, 1, 1, q, ep, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))
        for ok, pk, q, ep in rows
    ])
    out = registry.QUERIES["unit_price_dispersion_by_part"](
        spark, str(tmp_path)).collect()
    assert [r["partkey"] for r in out] == [1, 2]
    top = out[0]
    # units 100,100,1000 cents: range 900, mean 400 -> 2.25e6
    assert (top["min_unitc"], top["max_unitc"]) == (100, 1000)
    assert top["rel_range_e6"] == 2_250_000
    assert out[1]["rel_range_e6"] == 0


def test_char_js_divergence_extremes(spark, tmp_path):
    """Identical letter profiles -> JS 0; disjoint alphabets -> JS
    1 bit (the JS upper bound)."""
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [
            (1, "abab", "en", "s"), (2, "ab", "de", "s"),   # same profile
            (3, "cccc", "fr", "s"),                          # disjoint letters
        ]],
    )
    out = {(r["lang_a"], r["lang_b"]): r["js_bits"] for r in registry.QUERIES[
        "char_js_divergence_langs"](spark, str(tmp_path)).collect()}
    assert out[("de", "en")] == 0.0
    assert abs(out[("en", "fr")] - 1.0) < 1e-6
    assert abs(out[("de", "fr")] - 1.0) < 1e-6


def test_hard_negatives_exclude_same_label(spark, tmp_path):
    """The nearest vector overall shares the probe's label — it must
    NOT appear; the top negative is the nearest OTHER-label vector."""
    write_tables(
        tmp_path,
        embeddings=[
            (0, [1.0, 0.0], 5),       # probe, label 5
            (20, [0.99, 0.01], 5),    # nearest but same label -> excluded
            (21, [0.9, 0.1], 7),      # nearest other-label
            (22, [0.0, 1.0], 7),      # orthogonal other-label
            (23, [-1.0, 0.0], 8),     # antipodal
        ],
    )
    out = registry.QUERIES["hard_negative_topk"](spark, str(tmp_path)).collect()
    mine = [r for r in out if r["probe_id"] == 0]
    assert [r["cand_id"] for r in mine] == [21, 22, 23]
    assert all(r["cand_label"] != 5 for r in mine)
    assert mine[0]["cosine"] > 0.99  # cos(0.9,0.1 vs 1,0) ~ 0.9939


def test_qualify_emulation_top2_per_nation(spark, tmp_path):
    write_tables(tmp_path, customer=[
        (1, "a", 7, 50.0, "B"),
        (2, "b", 7, 90.0, "B"),
        (3, "c", 7, 70.0, "B"),
        (4, "d", 8, 10.0, "B"),
    ])
    out = registry.QUERIES["qualify_emulation_contract"](
        spark, str(tmp_path)
    ).collect()
    assert [(r["nationkey"], r["custkey"]) for r in out] == [(7, 2), (7, 3), (8, 4)]
    assert "rn" not in out[0].asDict()  # QUALIFY never leaks the window col


def test_cogroup_merge_matches_and_orphans(spark, tmp_path):
    """User 1: two events, one order between them -> first event
    unmatched, second matched with the exact gap.  User 2 has events
    but no orders; user 3 has an order but no events (no output)."""
    from datetime import timedelta

    base = datetime(2024, 1, 10)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (1, base - timedelta(days=2), 1, "view", 1.0),
            (2, base + timedelta(seconds=100), 1, "view", 1.0),
            (3, base, 2, "view", 1.0),
        ]],
    )
    write_tables(tmp_path, orders=[(1, 1, "O", 1.0, base, "P"), (2, 3, "O", 1.0, base, "P")])
    out = {r["user_id"]: r for r in registry.QUERIES[
        "cogrouped_pandas_event_order_merge"](spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}  # user 3: orders only, no row
    u1 = out[1]
    assert (u1["n_events"], u1["n_matched"], u1["gap_sum_sec"]) == (2, 1, 100)
    u2 = out[2]
    assert (u2["n_matched"], u2["gap_sum_sec"]) == (0, 0)


def test_approx_drift_flags_green_on_real_shape(spark):
    """At sf0.001 the t-digest at accuracy 10000 must sit within 2%
    of the exact discrete percentiles for every event type."""
    out = registry.QUERIES["approx_quantile_drift_audit"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) > 0
    assert all(r["p50_within_2pct"] == 1 and r["p95_within_2pct"] == 1 for r in out)
    assert all(r["p50_cents"] <= r["p95_cents"] for r in out)


def test_xml_roundtrip_parses_back_exactly(spark, tmp_path):
    write_tables(tmp_path, orders=[(7, 1, "O", 12.345, datetime(2024, 1, 1), "P")])
    [r] = registry.QUERIES["xml_roundtrip_contract"](spark, str(tmp_path)).collect()
    assert r["parsed_key"] == 7
    assert r["parsed_status"] == "O"
    assert r["parsed_cents"] == 1235  # half-up at the cent boundary
    assert r["xml"].startswith("<order><key>7</key>")


def test_shuffle_skew_forecast_uniform_vs_hot_key(spark, tmp_path):
    """A single hot user owning most rows must push max_rows far above
    the median; k is the documented 200."""
    evs = [(i, datetime(2024, 1, 1), 999, "view", 1.0) for i in range(500)]
    evs += [(1000 + u, datetime(2024, 1, 1), u, "view", 1.0) for u in range(200)]
    write_tables(tmp_path, events=[_event(*r) for r in evs])
    [r] = registry.QUERIES["shuffle_skew_forecast"](spark, str(tmp_path)).collect()
    assert r["k"] == 200
    assert r["max_rows"] >= 500          # the hot user's partition
    assert r["p50_rows"] <= 3            # everyone else spreads thin
    assert r["skew_ratio"] >= 100


def test_dim_broadcast_budget_flags(spark):
    """nation and region always fit 10 MB; estimates are positive and
    row counts match the tables."""
    out = {r["relation"]: r for r in registry.QUERIES["dim_broadcast_budget"](
        spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == {"nation", "region", "supplier", "customer", "part"}
    assert out["nation"]["fits_10mb"] == 1 and out["region"]["fits_10mb"] == 1
    assert all(r["est_bytes"] > r["n_rows"] for r in out.values())


def test_lateral_alias_shadowing_prefers_column(spark, tmp_path):
    """y chains the alias ((n+1)*2); p references a SHADOWED name and
    must read the underlying column (n+1, not (n*2)+1)."""
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "xxxxxxxxxx", "en", "s1")]])  # n_chars 10
    [r] = registry.QUERIES["lateral_alias_contract"](spark, str(tmp_path)).collect()
    assert r["sum_chained"] == 22   # (10+1)*2
    assert r["sum_shadowed"] == 11  # 10+1 — the column, not the alias


def test_top_p_keeps_best_classes_until_budget(spark, tmp_path):
    """Source with token masses 50/30/20 by class: the 50 and 30
    classes fit the 90% budget, the 20 class starts at exactly 80%
    (< 90%) so it is kept too; a 50/45/5 split drops the 5."""
    docs, did = [], 0
    # source A: scores 50, 30, 20 (one doc each)
    for sc in (50, 30, 20):
        docs.append((did, " ".join(["w"] * sc), "en", "A")); did += 1
    # source B: 50, 45, 5 -> cum_before of the 5-class is 95% >= 90%
    for sc in (50, 45, 5):
        docs.append((did, " ".join(["w"] * sc), "en", "B")); did += 1
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    out = {r["source"]: r for r in registry.QUERIES["top_p_quality_filter"](
        spark, str(tmp_path)).collect()}
    assert out["A"]["n_docs_kept"] == 3 and out["A"]["share_kept"] == 1.0
    assert out["B"]["n_docs_kept"] == 2
    assert out["B"]["tokens_kept"] == 95
    assert out["B"]["threshold_score"] == 45


def test_contribution_bounding_caps_exactly(spark, tmp_path):
    """A user with 6 'view' events keeps 1/2/4/6 at caps 1/2/4/8;
    earliest-first is the retained prefix."""
    from datetime import timedelta

    base = datetime(2024, 1, 1)
    evs = [(i, base + timedelta(seconds=i), 1, "view", 1.0) for i in range(6)]
    write_tables(tmp_path, events=[_event(*r) for r in evs])
    out = {r["cap"]: r for r in registry.QUERIES["contribution_bounding_curve"](
        spark, str(tmp_path)).collect()}
    assert [out[c]["kept"] for c in (1, 2, 4, 8)] == [1, 2, 4, 6]
    assert all(r["total"] == 6 for r in out.values())
    assert out[8]["kept_share"] == 1.0


def test_group_kfold_no_split_users_and_balance(spark, tmp_path):
    """500 users x 2 events: split_users must be exactly 0 and every
    fold's event share within a loose band around 1/5."""
    evs = []
    for u in range(500):
        evs.append((2 * u, datetime(2024, 1, 1), u, "view", 1.0))
        evs.append((2 * u + 1, datetime(2024, 1, 2), u, "click", 1.0))
    write_tables(tmp_path, events=[_event(*r) for r in evs])
    out = registry.QUERIES["group_kfold_assign"](spark, str(tmp_path)).collect()
    assert len(out) == 5
    assert all(r["split_users"] == 0 for r in out)
    assert sum(r["n_events"] for r in out) == 1000
    assert all(0.1 < r["event_share"] < 0.3 for r in out)
    # both of a user's events land together: every count is even
    assert all(r["n_events"] % 2 == 0 for r in out)


def test_ignore_nulls_locf_and_strict_before(spark, tmp_path):
    """Purchase at t0 (5.00) then views then purchase at t3 (7.00):
    LOCF carries 500 through the views; prev at t3 is 500 (strictly
    before), prev at t0 is NULL."""
    from datetime import timedelta

    b = datetime(2024, 1, 1)
    write_tables(
        tmp_path,
        events=[_event(*r) for r in [
            (0, b, 1, "purchase", 5.0),
            (1, b + timedelta(seconds=1), 1, "view", 0.0),
            (2, b + timedelta(seconds=2), 1, "view", 0.0),
            (3, b + timedelta(seconds=3), 1, "purchase", 7.0),
        ]],
    )
    rows = {r["event_id"]: r for r in registry.QUERIES["ignore_nulls_contract"](
        spark, str(tmp_path)).collect()}
    assert [rows[i]["last_purchase_cents"] for i in range(4)] == [500, 500, 500, 700]
    assert rows[0]["prev_purchase_cents"] is None
    assert rows[1]["prev_purchase_cents"] == 500
    assert rows[3]["prev_purchase_cents"] == 500


def test_map_semantics_missing_key_and_lambdas(spark, tmp_path):
    write_tables(tmp_path, orders=[
        (1, 1, "O", 150.0, datetime(2024, 1, 1), "P"),
        (2, 1, "F", 50.0, datetime(2024, 1, 1), "P"),
    ])
    out = {r["orderkey"]: r for r in registry.QUERIES["map_semantics_contract"](
        spark, str(tmp_path)).collect()}
    assert out[1]["status_val"] == "O" and out[2]["status_val"] == "F"
    assert out[1]["missing_val"] is None        # try_element_at, never a throw
    assert out[1]["keys_sorted"] == "cents,status"
    assert out[1]["cents_doubled"] == 30000
    assert out[1]["big_filter_kept"] == 1 and out[2]["big_filter_kept"] == 0


def test_sql_pipe_syntax_matches_standard(spark, tmp_path):
    """Pipe stages run in written order: the WHERE stage filters rows
    BEFORE the aggregate sees them."""
    rows = [
        (1, 1, 10.0), (2, 1, 40.0),  # only the 10 passes the filter
    ]
    write_tables(tmp_path, lineitem=[
        (ok, pk, 1, 1, q, 1.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))
        for ok, pk, q in rows
    ])
    [r] = registry.QUERIES["sql_pipe_syntax_contract"](spark, str(tmp_path)).collect()
    assert (r["sum_qty"], r["n"]) == (10, 1)
    assert list(r.asDict()) == ["l_returnflag", "l_linestatus", "sum_qty", "n"]


def test_hll_ie_exact_on_planted_overlap(spark, tmp_path):
    """Sources sharing exactly 2 of their terms: exact_inter = 2 and
    the I-E estimate stays within the audited envelope (flag 1)."""
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [
            (1, "alpha beta gamma", "en", "A"),
            (2, "beta gamma delta epsilon", "en", "B"),
        ]],
    )
    [r] = registry.QUERIES["hll_intersection_audit"](spark, str(tmp_path)).collect()
    assert (r["src_a"], r["src_b"]) == ("A", "B")
    assert r["exact_inter"] == 2
    assert r["hll_within_15pct"] == 1  # tiny sets: HLL is near-exact


def test_median_ci_brackets_median(spark, tmp_path):
    """Values 1..99 cents: median 50, CI strictly brackets it and
    widens no further than the data range."""
    evs = [(i, datetime(2024, 1, 1), 1, "view", i / 100) for i in range(1, 100)]
    write_tables(tmp_path, events=[_event(*r) for r in evs])
    [r] = registry.QUERIES["median_ci_orderstat"](spark, str(tmp_path)).collect()
    assert r["n"] == 99
    assert r["median_cents"] == 50
    assert r["ci_lo_cents"] < 50 < r["ci_hi_cents"]
    # z*sqrt(n)/2 ~ 9.75 -> bounds near 40/61
    assert 35 <= r["ci_lo_cents"] <= 45
    assert 55 <= r["ci_hi_cents"] <= 65


def test_kneser_ney_frozen_collocation(spark, tmp_path):
    """'francisco' always follows 'san' (1 left context) while 'the'
    follows many — diversity separates them even at similar freq."""
    docs, did = [], 0
    for i in range(60):
        docs.append((did, "san francisco", "en", "s")); did += 1
    for w in ["cat", "dog", "sun", "map", "cup"]:
        for i in range(12):
            docs.append((did, w + " the", "en", "s")); did += 1
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    out = {r["term"]: r for r in registry.QUERIES[
        "kneser_ney_continuation_terms"](spark, str(tmp_path)).collect()}
    fr = out["francisco"]
    assert fr["n_left_contexts"] == 1 and fr["freq"] == 60
    th = out["the"]
    assert th["n_left_contexts"] == 5 and th["freq"] == 60
    assert th["context_diversity"] > fr["context_diversity"]


def test_hill_alpha_recovers_pareto_exponent(spark, tmp_path):
    """Exact Pareto(alpha=2) order values x_i = (n/i)^(1/2): the Hill
    estimator over the top-100 must land near 2."""
    n = 2000
    rows = []
    for i in range(1, n + 1):
        x = (n / i) ** 0.5 * 100.0  # alpha = 2 tail
        rows.append((i, 1, "O", x, datetime(2024, 1, 1), "P"))
    write_tables(tmp_path, orders=rows)
    [r] = registry.QUERIES["hill_tail_index_terms"](spark, str(tmp_path)).collect()
    assert r["k"] == 100
    assert 1.7 < r["hill_alpha"] < 2.3


SESSION_NEW_OPS = [
    "welch_ttest_terms", "benjamini_hochberg_fdr", "cramers_v_matrix",
    "distinct_on_contract", "posexplode_contract",
    "regexp_replace_backrefs_contract", "embedding_isotropy_terms",
    "embedding_mahalanobis_outliers", "graph_degree_ccdf",
    "graph_conductance_brand", "cold_start_recs_by_nation",
    "readability_proxy_profile", "bigram_conditional_entropy_by_source",
    "variance_ratio_terms", "interarrival_burstiness_terms",
    "mlm_mask_plan_stats", "pivot_two_aggs_contract",
    "groups_frame_emulation", "unit_price_dispersion_by_part",
    "char_js_divergence_langs", "hard_negative_topk",
    "qualify_emulation_contract", "cogrouped_pandas_event_order_merge",
    "approx_quantile_drift_audit", "xml_roundtrip_contract",
    "shuffle_skew_forecast", "dim_broadcast_budget",
    "lateral_alias_contract", "top_p_quality_filter",
    "contribution_bounding_curve", "group_kfold_assign",
    "ignore_nulls_contract", "map_semantics_contract",
    "sql_pipe_syntax_contract", "hll_intersection_audit",
    "median_ci_orderstat", "kneser_ney_continuation_terms",
    "hill_tail_index_terms", "transpose_contract",
]


def test_session_new_ops_survive_empty_inputs(spark, tmp_path):
    """Every session-new operator must return cleanly (possibly zero
    rows) on EMPTY tables with the production schemas — the first
    thing that happens when an upstream filter matches nothing."""
    src = "/root/testdata/sf0.001"
    for tbl in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"{src}/{tbl}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"{tbl}.parquet"))
    failures = []
    for name in SESSION_NEW_OPS:
        try:
            registry.QUERIES[name](spark, str(tmp_path)).collect()
        except Exception as e:  # noqa: BLE001 — collecting a failure list
            failures.append((name, str(e).splitlines()[0][:120]))
    assert not failures, failures


def test_lsh_band_tuning_monotone_sensitivity(spark, tmp_path):
    """More bands with shorter keys can only fire MORE: candidate
    counts must be monotone 2x6 <= 3x4 <= 4x3 <= 6x2, the most
    sensitive config has relative recall 1, and precision never
    exceeds 1."""
    docs = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(30):
        docs.append((i, base, "en", "s"))                    # exact clones
    for i in range(30, 60):
        docs.append((i, base + f" tail{i}", "en", "s"))      # near-dups
    for i in range(60, 90):
        docs.append((i, f"u{i} v{i} w{i} x{i} y{i}", "en", "s"))  # uniques
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    out = {r["cfg"]: r for r in registry.QUERIES["lsh_band_tuning_curve"](
        spark, str(tmp_path)).collect()}
    assert set(out) == {"2x6", "3x4", "4x3", "6x2"}
    assert (
        out["2x6"]["n_cand"] <= out["3x4"]["n_cand"]
        <= out["4x3"]["n_cand"] <= out["6x2"]["n_cand"]
    )
    assert out["6x2"]["recall_vs_most_sensitive"] == 1.0
    assert all(r["precision_"] is None or r["precision_"] <= 1.0
               for r in out.values())
    # the clone cluster must be caught even by the strictest config
    assert out["2x6"]["n_true"] >= 30 * 29 // 2


def test_semdedup_eps_sweep_monotone(spark, tmp_path):
    """Widening epsilon can only drop MORE: pairs and drops are
    monotone in eps, keep_rate monotone down; planted exact clones
    are dropped at every eps."""
    vecs = []
    # sampled ids are multiples of 10
    vecs.append((0, [1.0, 0.0, 0.0], 0))
    vecs.append((10, [1.0, 0.0, 0.0], 0))    # exact clone of 0 -> dropped
    vecs.append((20, [0.95, 0.3122, 0.0], 0))  # cos ~0.95 with 0
    vecs.append((30, [0.0, 1.0, 0.0], 1))    # orthogonal
    write_tables(tmp_path, embeddings=vecs)
    out = {r["eps_e2"]: r for r in registry.QUERIES["semdedup_eps_sweep"](
        spark, str(tmp_path)).collect()}
    assert [out[e]["n_pairs"] for e in (5, 10, 20, 50)] == sorted(
        out[e]["n_pairs"] for e in (5, 10, 20, 50)
    )
    assert out[5]["n_dropped"] >= 1            # the exact clone
    assert out[5]["keep_rate"] > out[50]["keep_rate"] or (
        out[5]["n_dropped"] == out[50]["n_dropped"]
    )
    assert out[50]["keep_rate"] == 1 - out[50]["n_dropped"] / 4


def test_quality_feature_matrix_hand_computed(spark, tmp_path):
    """'aa aa bb': 3 tokens, 2 distinct (ttr 2/3), one adjacent
    repeat, avg token len 2, vowels 4/6 chars."""
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "aa aa bb", "en", "s1")]])
    [r] = registry.QUERIES["quality_feature_matrix"](spark, str(tmp_path)).collect()
    assert r["n_tokens"] == 3
    assert abs(r["ttr"] - round(2 / 3, 6)) < 1e-9
    assert r["n_adjacent_repeats"] == 1
    assert r["avg_token_len"] == 2.0
    assert abs(r["vowel_ratio"] - round(4 / 6, 6)) < 1e-9


def test_quality_logreg_separates_planted_junk(spark, tmp_path):
    """Repetitive single-token docs score below diverse ones; keep
    rate reflects the gate."""
    docs = [(i, "aa aa aa aa aa aa", "en", "junk") for i in range(10)]
    docs += [(100 + i, "quick brown fox jumps over lazy dog", "en", "good")
             for i in range(10)]
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    out = {r["source"]: r for r in registry.QUERIES["quality_logreg_score"](
        spark, str(tmp_path)).collect()}
    assert out["good"]["mean_score"] > out["junk"]["mean_score"]
    assert out["good"]["keep_rate"] >= out["junk"]["keep_rate"]


def test_psi_zero_for_identical_and_alerts_on_shift(spark, tmp_path):
    """A source distributed exactly like the corpus has PSI ~ 0; a
    source concentrated in one far bucket alerts (>= 0.2)."""
    docs, did = [], 0
    # two sources with IDENTICAL length profiles (buckets 0 and 1)
    for src in ("A", "B"):
        for i in range(20):
            docs.append((did, "x" * 60, "en", src)); did += 1    # bucket 0
            docs.append((did, "x" * 180, "en", src)); did += 1   # bucket 1
    # source C: all mass in bucket 9 (very long docs)
    for i in range(40):
        docs.append((did, "x" * 1500, "en", "C")); did += 1
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    out = {r["source"]: r for r in registry.QUERIES["drift_psi_by_source"](
        spark, str(tmp_path)).collect()}
    # A vs corpus: corpus includes C's bucket-9 mass, so A is not 0 —
    # but A and B must be EQUAL (identical profiles)
    assert out["A"]["psi"] == out["B"]["psi"]
    assert out["C"]["drift_alert"] == 1
    assert out["C"]["psi"] > out["A"]["psi"]


def test_spark_bare_decimal_literal_truncates_division(spark):
    """The trap drift_psi_by_source dodges, pinned: Spark parses 1.0
    as DECIMAL, and LONG + DECIMAL division truncates scale — the
    result differs from pure double arithmetic by ~1e-12 or worse
    (measured 7e-7 through decimal-typed columns).  Portable spelling:
    CAST(... AS DOUBLE) before dividing."""
    import math

    [r] = spark.sql(
        "SELECT (4 + 1.0) / 35 AS dec_div,"
        " (CAST(4 AS DOUBLE) + 1) / 35 AS dbl_div"
    ).collect()
    from decimal import Decimal

    assert isinstance(r["dec_div"], Decimal)  # decimal, NOT double
    assert isinstance(r["dbl_div"], float)
    # the quotient scale collapses to SIX digits here (5/35 ->
    # 0.142857): a 1.4e-7 error from one bare literal
    assert r["dec_div"] == Decimal("0.142857")
    assert abs(float(r["dec_div"]) - 5 / 35) > 1e-8  # materially wrong
    assert r["dbl_div"] == 5 / 35                    # exact IEEE


def test_state_sizing_partitions_scale_with_keys(spark, tmp_path):
    """10 distinct users -> est bytes = 10 x width and a single
    partition suffices at the 64 MB target."""
    evs = [(i, datetime(2024, 1, 1), i % 10, "view", 1.0) for i in range(50)]
    write_tables(tmp_path, events=[_event(*r) for r in evs])
    out = {r["op"]: r for r in registry.QUERIES["stream_state_sizing_estimate"](
        spark, str(tmp_path)).collect()}
    rm = out["running_max_per_user"]
    assert rm["n_keys"] == 10
    assert rm["est_bytes"] == 10 * rm["bytes_per_key"]
    assert rm["min_state_partitions"] == 1
    assert out["session_funnel"]["bytes_per_key"] > rm["bytes_per_key"]


def test_zip_longest_pads_to_five(spark, tmp_path):
    """A 2-token doc still zips to length 5; NULL tokens count 0 in
    the padded sum (150 + len('ab') + len('c'))."""
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "ab c", "en", "s1")]])
    [r] = registry.QUERIES["zip_longest_contract"](spark, str(tmp_path)).collect()
    assert r["zipped_len"] == 5
    assert r["padded_sum"] == 150 + 2 + 1


def test_array_edit_insert_semantics(spark, tmp_path):
    """insert-at-2 shifts right; insert-at--1 APPENDS (not
    before-last); compact strips NULLs; substr(-8) is the tail."""
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "aa bb cc dd", "en", "s1")]])
    [r] = registry.QUERIES["array_edit_contract"](spark, str(tmp_path)).collect()
    assert r["inserted_at_2"] == "aa,INS,bb,cc"
    assert r["appended_neg1"] == "aa,bb,cc,TAIL"
    assert r["compacted"] == "aa,bb"
    assert r["repeated"] == "x,x,x"
    assert r["last8"] == "bb cc dd"
    assert r["padded"] == "........aa"


def test_sql_udf_nested_and_exact(spark, tmp_path):
    """The nested SQL UDF (discounted calls to_cents twice) matches
    hand arithmetic: 10.00 at 10% -> 900 cents."""
    write_tables(tmp_path, lineitem=[(1, 1, 1, 1, 1.0, 10.0, 0.10, 0.0, "N", "O", datetime(2024, 1, 1))])
    [r] = registry.QUERIES["sql_udf_contract"](spark, str(tmp_path)).collect()
    assert r["cents"] == 1000
    assert r["discounted_cents"] == 900


def test_fourier_recovers_planted_harmonic(spark, tmp_path):
    """Revenue 100 + 50*cos(2*pi*doy/365) cents planted over a full
    year: a1 ~ 50, b1 ~ 0, amplitude ~ 50, phase ~ 0."""
    import math
    from datetime import timedelta

    base = datetime(2023, 1, 1)
    rows = []
    for d in range(365):
        cents = 100 + 50 * math.cos(2 * math.pi * (d % 365) / 365)
        # one line whose extendedprice floors to that cent value
        rows.append((d + 1, 1, cents / 100 + 1e-9, base + timedelta(days=d)))
    write_tables(tmp_path, lineitem=[
        (ok, pk, 1, 1, 1.0, ep, 0.0, 0.0, "N", "O", dt)
        for ok, pk, ep, dt in rows
    ])
    [r] = registry.QUERIES["fourier_seasonality_terms"](
        spark, str(tmp_path)
    ).collect()
    assert r["n"] == 365
    # epoch-day%365 phase-shifts the planted doy by a constant, so
    # compare AMPLITUDE (phase-invariant); rounding gives ~0.5c slack
    assert abs(r["amplitude_cents"] - 50) < 1.0
    assert abs(r["phase_rad"]) <= math.pi


def test_ndcg_ideal_ordering_is_one(spark, tmp_path):
    """Relevance-sorted ranking == ideal ranking -> NDCG exactly 1e6;
    DCG uses the exact e6 integer discount table (top doc rel 3 at
    weight 1e6 + rel 1 at 630929)."""
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [
            (1, "join join join filter", "en", "s"),
            (2, "join scan", "en", "s"),
            (3, "scan scan", "en", "s"),
        ]],
    )
    out = {r["term"]: r for r in registry.QUERIES["ndcg_at10_terms"](
        spark, str(tmp_path)).collect()}
    j = out["join"]
    assert j["ndcg_e6"] == 1_000_000
    assert j["dcg_e6"] == 3 * 1_000_000 + 1 * 630_929
    s = out["scan"]
    assert s["dcg_e6"] == 2 * 1_000_000 + 1 * 630_929


def test_growth_accounting_identity_and_classes(spark, tmp_path):
    """Jan: A=100. Feb: A=150 (expansion 50), B=200 (new).  Mar: A=0
    (churn -150), B=80 (contraction -120).  Components sum to the
    net delta every month."""
    rows = [
        (1, 1, 1.0, datetime(2024, 1, 5)),
        (2, 1, 1.5, datetime(2024, 2, 5)),
        (3, 2, 2.0, datetime(2024, 2, 10)),
        (4, 2, 0.8, datetime(2024, 3, 5)),
    ]
    write_tables(tmp_path, orders=[(ok, ck, "O", tp, dt, "P") for ok, ck, tp, dt in rows])
    out = {r["month_idx"]: r for r in registry.QUERIES[
        "revenue_growth_accounting"](spark, str(tmp_path)).collect()}
    jan, feb, mar = 2024 * 12 + 1, 2024 * 12 + 2, 2024 * 12 + 3
    assert out[jan]["new_cents"] == 100
    assert out[feb]["new_cents"] == 200 and out[feb]["expansion_cents"] == 50
    assert out[mar]["churn_cents"] == -150
    assert out[mar]["contraction_cents"] == -120
    for r in out.values():
        assert (r["new_cents"] + r["expansion_cents"]
                + r["contraction_cents"] + r["churn_cents"]
                ) == r["net_delta_cents"]


def test_crawl_drift_detects_planted_decay(spark, tmp_path):
    """First half diverse docs, second half repetitive: the drift
    delta must be strongly negative and decile means monotone-ish."""
    docs = []
    for i in range(50):
        docs.append((i, "a b c d e f g h i j", "en", "s"))      # ttr 1.0
    for i in range(50, 100):
        docs.append((i, "a a a a a a a a a a", "en", "s"))      # ttr 0.1
    write_tables(tmp_path, documents=[_doc(*r) for r in docs])
    out = {r["decile"]: r for r in registry.QUERIES["crawl_quality_drift"](
        spark, str(tmp_path)).collect()}
    assert out[0]["mean_ttr_e6"] == 1_000_000
    assert out[9]["mean_ttr_e6"] == 100_000
    assert out[0]["drift_last_vs_first_e6"] == -900_000
    assert len(out) == 10 and all(r["n_docs"] == 10 for r in out.values())


def test_pandas_grouped_agg_top3_and_mix_ban(spark, tmp_path):
    """Top-3 cents sum is exact; mixing GROUPED_AGG with a JVM
    aggregate raises INVALID_PANDAS_UDF_PLACEMENT (the pinned
    limitation)."""
    write_tables(tmp_path, customer=[(i, f"c{i}", 7, float(i), "BUILDING") for i in range(1, 6)])
    [r] = registry.QUERIES["pandas_grouped_agg_udf"](spark, str(tmp_path)).collect()
    assert r["top3_cents"] == 500 + 400 + 300
    assert r["n_customers"] == 5
    # the ban itself
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit eval type: the module's future-annotations make the
    # hint a string the inline inference can't resolve here
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def s(x):
        return int(x.sum())

    df = spark.range(4).withColumn("g", F.col("id") % 2)
    with pytest.raises(Exception, match="INVALID_PANDAS_UDF_PLACEMENT"):
        df.groupBy("g").agg(s(F.col("id")), F.count(F.lit(1))).collect()


def test_pandas_window_udf_matches_builtin(spark, tmp_path):
    """The pandas window UDF's per-partition sum equals the native
    SUM OVER on every row."""
    write_tables(tmp_path, customer=[(i, f"c{i}", 7, float(i), ["A", "B"][i % 2]) for i in range(1, 7)])
    out = registry.QUERIES["pandas_udf_over_window"](spark, str(tmp_path)).collect()
    segs = {}
    for r in out:
        segs.setdefault(r["c_mktsegment"], []).append(r)
    for seg, rows in segs.items():
        expect = sum(r["own_cents"] for r in rows)
        assert all(r["seg_cents"] == expect for r in rows)

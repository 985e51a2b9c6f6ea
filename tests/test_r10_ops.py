"""Semantic pins for the round-10 operators — hand-derived facts the
DuckDB oracle equivalence alone would not catch (both engines could
share the same misunderstanding; these pin the MEANING)."""

from __future__ import annotations

from pyspark.sql import functions as F

from instructions_mr_spark import registry
from instructions_mr_spark.queries._util import t
from tests.conftest import write_tables


def test_zorder_layout_dominates_for_2d_box(spark, sf_dir):
    """The whole point of the audit: for a 2-D box predicate the
    Morton layout must skip at least as many rows as the best 1-D
    clustering, and the natural layout must be (near-)unskippable."""
    rows = {
        r.layout: r
        for r in registry.QUERIES["zorder_skip_audit"](spark, sf_dir).collect()
    }
    assert set(rows) == {"natural", "date_clustered", "zorder"}
    assert rows["zorder"].rows_skippable >= rows["date_clustered"].rows_skippable
    assert rows["date_clustered"].rows_skippable > 0
    # dates are uncorrelated with orderkey AND custkey straddles every
    # chunk -> natural zone maps prune nothing
    assert rows["natural"].rows_skippable == 0
    # all layouts carve the same table
    assert (
        rows["natural"].rows_total
        == rows["zorder"].rows_total
        == rows["date_clustered"].rows_total
    )


def test_kmv_estimate_within_sketch_noise(spark, sf_dir):
    """(K-1)/kth-min with K=64 has ~1/sqrt(K-2) ~ 13% relative std;
    assert every per-source estimate lands within 4 sigma (52%) of
    the true distinct count — a real estimator failure (wrong domain
    constant, off-by-one on K) lands orders of magnitude away."""
    rows = registry.QUERIES["kmv_distinct_estimate"](spark, sf_dir).collect()
    assert rows, "expected >= 1 source with >= K distinct bigrams"
    for r in rows:
        assert r.true_distinct >= 64
        assert abs(r.kmv_estimate - r.true_distinct) <= 0.52 * r.true_distinct, r


def test_wasserstein_bounds_and_degenerate_zero(spark, sf_dir):
    """Range pin on the registered output (0 <= W1 < axis span), plus
    the degenerate identity on a hand corpus: a source whose length
    distribution EQUALS the global one must measure exactly 0 — every
    integer CDF term cancels (cum_s * n_g == cum_g * n_s)."""
    rows = registry.QUERIES["wasserstein1d_by_source"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.w1_chars_e6 < 256 * 16 * 1_000_000
    # degenerate identity, replayed on the same cell/CDF arithmetic:
    # two sources with identical cell histograms -> both W1 == 0
    from instructions_mr_spark.queries.stats import _W1_CELL

    d = spark.createDataFrame(
        [("a", 10), ("a", 50), ("b", 10), ("b", 50)],
        "source string, n_chars int",
    )
    cells = d.groupBy(
        "source", F.expr(f"n_chars DIV {_W1_CELL}").alias("v")
    ).count()
    a = {(r.v, r["count"]) for r in cells.filter("source = 'a'").collect()}
    b = {(r.v, r["count"]) for r in cells.filter("source = 'b'").collect()}
    assert a == b  # identical histograms -> zero drift by construction


def test_mrr_weights_match_rank(spark, sf_dir):
    """rr_e6 must be exactly floor(1e6 / first_rel_rank) when a
    relevant doc is in the top-10, and 0 when none is."""
    rows = registry.QUERIES["mrr_at10_terms"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        if r.first_rel_rank == 0:
            assert r.rr_e6 == 0
        else:
            assert 1 <= r.first_rel_rank <= 10
            assert r.rr_e6 == 1_000_000 // r.first_rel_rank


def test_cdc_cross_doc_identities(spark, sf_dir):
    """Bookkeeping identities of the dedup audit: distinct <= total,
    dup = total_words - words-under-distinct-keepers >= 0, and the
    savings ratio is exactly dup/total in e6."""
    r = registry.QUERIES["cdc_cross_doc_dedup"](spark, sf_dir).collect()[0]
    assert 0 < r.distinct_chunks <= r.total_chunks
    assert 0 <= r.dup_words < r.total_words
    assert r.savings_e6 == r.dup_words * 1_000_000 // r.total_words
    # the synthetic corpus repeats vocabulary heavily -> real sharing
    assert r.dup_words > 0


def test_substring_index_branches(spark, sf_dir):
    """Pin the three branch families against hand values (the oracle
    emulation could share a misreading; these are from the Spark
    docs' definition)."""
    got = {
        r.cid: r.head_or_tail
        for r in registry.QUERIES["substring_index_contract"](spark, sf_dir).collect()
    }
    assert got[1] == "a/b"          # first 2 parts
    assert got[2] == "c/d"          # last 2 parts
    assert got[3] == ""             # n = 0
    assert got[4] == "a/b/c/d"      # n beyond parts -> whole string
    assert got[5] == "a/b/c/d"
    assert got[6] == "no_delim"     # no delimiter at all
    assert got[7] == ""             # empty input
    assert got[8] == "/lead"        # leading delim -> empty first part
    assert got[9] == "trail/"       # trailing delim -> empty last part
    assert got[10] == "a/"          # doubled delim -> empty middle part


def test_variant_get_hand_values(spark):
    """Hand-pinned VARIANT extraction on one literal document — the
    oracle and the query both CONSTRUCT their JSON, so a shared
    misreading of path semantics would pass the equivalence; this
    pins the absolute values from the SQL reference: $.u.vals[1] is
    the SECOND element (0-based indexing), missing paths are NULL
    (not an error), and typed gets cast."""
    row = spark.sql(
        """
        SELECT variant_get(v, '$.u.uid', 'bigint') AS uid,
               variant_get(v, '$.u.vals[1]', 'double') AS v2,
               variant_get(v, '$.missing', 'string') AS absent,
               variant_get(v, '$.ty', 'string') AS ty
        FROM (SELECT parse_json(
          '{"id": 7, "u": {"uid": 42, "vals": [1.5, 2.5]}, "ty": "view"}') AS v)
        """
    ).collect()[0]
    assert row.uid == 42
    assert row.v2 == 2.5          # [1] = second element, 0-based
    assert row.absent is None     # missing path -> NULL
    assert row.ty == "view"


def test_shared_checkpoint_cache_semantics(spark):
    """shared_checkpoint must (1) return the SAME staged table for
    repeated (key, sf_dir, app) requests — build runs once — and
    (2) hand out a FRESH build after free_staged_checkpoints(), never
    a freed checkpoint."""
    from instructions_mr_spark.queries._util import (
        free_staged_checkpoints,
        shared_checkpoint,
    )

    builds = []

    def build():
        builds.append(1)
        return spark.range(5).selectExpr("id", "id * 2 AS y")

    a = shared_checkpoint("r10_test_key", spark, "/tmp/r10sf", build)
    b = shared_checkpoint("r10_test_key", spark, "/tmp/r10sf", build)
    assert a is b and len(builds) == 1          # one build, shared
    assert a.count() == 5
    # a different sf_dir is a different cache entry
    c = shared_checkpoint("r10_test_key", spark, "/tmp/other", build)
    assert c is not a and len(builds) == 2
    free_staged_checkpoints()
    d = shared_checkpoint("r10_test_key", spark, "/tmp/r10sf", build)
    assert d is not a and len(builds) == 3      # freed -> rebuilt
    assert d.count() == 5                       # and usable


def test_kmv_union_merge_degenerate_corpus_nulls(spark, tmp_path):
    """ADVICE r10: when the merged sketch holds fewer than K=64
    distinct bigram hashes, the oracle's LIMIT 1 OFFSET K-1 yields a
    NULL kth_min_hash / union_estimate; the Spark side must emit the
    identical NULLs instead of max-of-available.  Pin both engines on
    a 3-bigram corpus and require they agree exactly."""
    from tools.check_oracle import duck_con

    sf = str(tmp_path)
    write_tables(sf, documents=[
        (1, "alpha beta gamma", "en", "web", 16),
        (2, "alpha beta", "en", "book", 10),
    ])

    row = registry.QUERIES["kmv_union_merge"](spark, sf).collect()[0]
    assert row.kth_min_hash is None
    assert row.union_estimate is None
    assert row.merged_input_rows == 3          # 3 distinct (source, bigram)
    assert row.true_union_distinct == 2        # 2 distinct bigrams

    o = duck_con(sf).execute(registry.ORACLES["kmv_union_merge"]).fetchone()
    assert o == (
        row.merged_input_rows,
        row.kth_min_hash,
        row.union_estimate,
        row.true_union_distinct,
    )

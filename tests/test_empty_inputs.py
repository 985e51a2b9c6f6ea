"""Empty-input robustness: operators must return empty/identity
results — never crash — when a side has no rows (the first thing that
happens in production when an upstream filter matches nothing)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import write_tables


def test_asof_empty_right(spark):
    from instructions_mr_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "2024-01-01 00:00:00", "e")], "k int, t string, ev string")
    left = left.select("k", F.to_timestamp("t").alias("t"), "ev")
    right = spark.createDataFrame([], "rk int, rt timestamp, rid int")
    out = asof_join(left, right, "t", "rt", ["k"], ["rk"]).collect()
    assert len(out) == 1 and out[0].rid is None
    out_f = asof_join(left, right, "t", "rt", ["k"], ["rk"], direction="forward").collect()
    assert len(out_f) == 1 and out_f[0].rid is None


def test_asof_empty_left(spark):
    from instructions_mr_spark.operators.asof import asof_join

    left = spark.createDataFrame([], "k int, t timestamp, ev string")
    right = spark.createDataFrame([(1, "2024-01-01 00:00:00", 7)], "rk int, rt string, rid int")
    right = right.select("rk", F.to_timestamp("rt").alias("rt"), "rid")
    assert asof_join(left, right, "t", "rt", ["k"], ["rk"]).count() == 0


def test_scd2_empty_changes(spark):
    from instructions_mr_spark.operators.merge import scd2_apply

    current = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", None)],
        "id int, attr string, valid_from string, valid_to string",
    ).select(
        "id", "attr",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
    )
    changes = spark.createDataFrame([], "id int, attr string, change_ts timestamp")
    rows = scd2_apply(current, changes, ["id"], "change_ts").collect()
    assert len(rows) == 1 and rows[0].valid_to is None  # untouched open row


def test_connected_components_empty_edges(spark):
    from instructions_mr_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0
    assert connected_components_star(edges).count() == 0


def test_pagerank_empty_edges(spark):
    """No ZeroDivisionError on n=0 — empty rank vector, same graceful
    degradation as connected_components."""
    from instructions_mr_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank(edges)
    assert out.columns == ["id", "rank"]
    assert out.count() == 0


def test_merge_upsert_empty_updates(spark):
    from instructions_mr_spark.operators.merge import merge_upsert

    target = spark.createDataFrame([(1, "a")], "id int, v string")
    updates = spark.createDataFrame([], "id int, v string")
    out = merge_upsert(target, updates, ["id"]).collect()
    assert [(r.id, r.v) for r in out] == [(1, "a")]


def test_llm_map_empty_input(spark):
    from instructions_mr_spark.config import Instruction, LlmConfig, Stage
    from instructions_mr_spark.operators.llm_map import instr_fanout_map

    docs = spark.createDataFrame([], "doc_id int, text string")
    stage = Stage([Instruction(name="s", content="c", scope=["text"])])
    out = instr_fanout_map(docs, stage, LlmConfig(), keep_cols=["doc_id"])
    assert out.count() == 0 and out.columns == ["doc_id", "s"]


def test_registrable_domain_psl_empty(spark):
    from instructions_mr_spark.operators.urls import registrable_domain_psl

    hosts = spark.createDataFrame([], "doc_id long, host string")
    out = registrable_domain_psl(hosts, spark)
    assert out.columns == ["doc_id", "host", "domain"]
    assert out.count() == 0


def test_span_cut_keepfirst_no_repeats(spark, tmp_path):
    """A corpus with no repeated 8-gram passes through uncut (identity)
    under both cut policies."""
    from instructions_mr_spark import registry

    docs = [(1, "one two three four five six seven eight nine", "en", "s", 9)]
    write_tables(tmp_path, documents=docs)
    for name in ("dedup_span_cut", "dedup_span_cut_keepfirst"):
        r = registry.QUERIES[name](spark, str(tmp_path)).collect()[0]
        assert (r.n_tokens, r.n_kept) == (9, 9), name

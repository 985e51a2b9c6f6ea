"""Bucketed-table registry (sources/tables.py save_bucketed/
load_bucketed) — the 100 TB shuffle-elimination path: write both sides
bucketed on the join key, then join WITHOUT a shuffle; the plan must
contain no Exchange on the join keys."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from instructions_mr_spark.sources.tables import load_bucketed, load_table, save_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    save_bucketed(
        load_table(spark, sf_dir, "orders"),
        "b_orders",
        ["o_orderkey"],
        n_buckets=8,
        path=str(warehouse / "b_orders"),
    )
    save_bucketed(
        load_table(spark, sf_dir, "lineitem"),
        "b_lineitem",
        ["l_orderkey"],
        n_buckets=8,
        path=str(warehouse / "b_lineitem"),
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


@pytest.fixture()
def no_broadcast(spark):
    # disable broadcast so the shuffle-join path is what's being tested
    # (at real scale neither side of a fact-fact join broadcasts)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    if old_aqe:
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
    else:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, no_broadcast):
    joined = (
        load_bucketed(spark, "b_lineitem")
        .join(load_bucketed(spark, "b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "SelectedBucketsCount" in plan  # bucketed scan engaged
    # co-located buckets: the join itself needs no Exchange
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(load_table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    bucketed = (
        load_bucketed(spark, "b_lineitem")
        .join(load_bucketed(spark, "b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert plain == bucketed


def test_join_bucketed_query_plan_no_join_exchange(spark, sf_dir, no_broadcast):
    """The registered join_bucketed query must hit the co-located path:
    bucketed scans on both sides, no Exchange on either join key."""
    from instructions_mr_spark import registry

    df = registry.QUERIES["join_bucketed"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan

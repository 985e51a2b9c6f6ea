"""Plan-shape assertions for the lake-ops queries: partition pruning
must reach the scan, the gap-fill grid must broadcast."""

from __future__ import annotations

from instructions_mr_spark import registry


def test_partition_pruned_scan_prunes(spark, sf_dir):
    df = registry.QUERIES["partition_pruned_scan"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the event_type filter must be a partition filter on the scan,
    # not a post-scan Filter over all partitions
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert "click" in plan


def test_ts_gap_fill_broadcasts_grid(spark, sf_dir):
    df = registry.QUERIES["ts_gap_fill"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # grid x types are broadcast; the events fact table shuffles only
    # for its own aggregate, never for the grid join
    assert plan.count("BroadcastNestedLoopJoin") + plan.count("BroadcastHashJoin") >= 2


def test_scd2_history_one_open_row_per_key(spark, sf_dir):
    from pyspark.sql import functions as F

    out = registry.QUERIES["scd2_history"](spark, sf_dir)
    open_rows = out.filter(F.col("valid_to").isNull()).groupBy("id").count()
    assert open_rows.filter(F.col("count") != 1).count() == 0


def test_tf_idf_broadcasts_df_table(spark, sf_dir):
    """The vocabulary-sized df/n_docs sides must broadcast; the fact
    (terms) never shuffles for those joins."""
    df = registry.QUERIES["tf_idf_top_terms"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2


def test_contamination_joins_on_gram_not_docs(spark, sf_dir):
    """Contamination must be an equi-join on the gram (benchmark side
    broadcast) — never a doc x doc nested loop."""
    df = registry.QUERIES["contamination_check"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [g" in plan
    assert "CartesianProduct" not in plan


def test_fanout_queries_have_no_python_stage(spark, sf_dir):
    """The new text/lake queries are pure JVM — no Arrow/Python
    boundary may appear in their plans."""
    for name in (
        "contamination_check",
        "mixture_weights",
        "doc_chunks",
        "text_redact_pii",
        "nested_roundtrip",
        "variant_extract",
        "interval_concurrency",
        "json_parse_quarantine",
    ):
        plan = registry.QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{name} has a Python stage: {marker}"


def test_dpp_injects_runtime_partition_filter(spark, sf_dir):
    """The filtered dim's keys must appear as a dynamic pruning
    expression on the partitioned fact scan."""
    df = registry.QUERIES["dpp_filtered_dim_scan"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan or "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """The bloom rule must inject might_contain on the fact scan side
    (built from the filtered orders side)."""
    df = registry.QUERIES["runtime_bloom_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan and "bloom_filter_agg" in plan


def test_cached_dimension_uses_inmemory_scan(spark, sf_dir):
    """CACHE TABLE on a hot dimension: after caching, plans read
    InMemoryTableScan instead of re-scanning parquet, and results are
    unchanged — the serving-layer pattern for dashboard-hot dims."""
    from instructions_mr_spark.sources.tables import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_hot")
    spark.catalog.cacheTable("nation_hot")
    try:
        df = spark.table("nation_hot").groupBy("n_regionkey").count()
        before = {r.n_regionkey: r["count"] for r in df.collect()}  # materializes cache
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE wraps the cache as TableCacheQueryStage/InMemoryRelation
        # (the parquet scan string survives inside the cache plan text)
        assert "TableCacheQueryStage" in plan or "InMemoryTableScan" in plan
        assert "InMemoryRelation" in plan
        direct = {
            r.n_regionkey: r["count"]
            for r in load_table(spark, sf_dir, "nation")
            .groupBy("n_regionkey")
            .count()
            .collect()
        }
        assert before == direct
    finally:
        spark.catalog.uncacheTable("nation_hot")

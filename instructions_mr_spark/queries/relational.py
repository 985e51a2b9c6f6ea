"""Aggregation / filter / projection / set-op surface (SURVEY.md §2.7:
filter_pred, project_expr, agg_hash, agg_distinct, agg_collect,
agg_rollup_cube, topk, set ops).

The reference has no cross-record aggregation at all (§2.6 — its
"reduce" is within-record column regrouping), so this whole module is
the EXT relational surface mandated for a real analytics engine.

Scale notes: every query here is a scan -> (filter) -> hash-aggregate
plan.  Filters and column pruning push into the parquet scan
(PushedFilters/ReadSchema — verified in tests/test_plans.py); the
aggregates are partial (map-side combine) before the exchange, so the
shuffle carries one row per group per partition, not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.functions import round_half
from instructions_mr_spark.registry import query
from instructions_mr_spark.queries._util import (
    CHARGE,
    DEC_PRICE,
    DEC_QTY,
    DEC_TOTAL,
    REVENUE,
    avg_d,
    sum_d,
    t,
)

# --- TPC-H Q1: the flagship aggregation --------------------------------

_Q1_AGGS = [
    sum_d(DEC_QTY, "sum_qty"),
    sum_d(DEC_PRICE, "sum_base_price"),
    sum_d(REVENUE, "sum_disc_price"),
    sum_d(CHARGE, "sum_charge"),
    avg_d(DEC_QTY, "avg_qty"),
    avg_d(DEC_PRICE, "avg_price"),
    "CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / COUNT(*) AS avg_disc",
    "COUNT(*) AS count_order",
]


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {', '.join(_Q1_AGGS)}
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*[F.expr(a) for a in _Q1_AGGS])
    )


# --- plain hash aggregate ----------------------------------------------

_PRIO_AGGS = [
    "COUNT(*) AS n_orders",
    sum_d(DEC_TOTAL, "sum_total"),
    "MIN(o_totalprice) AS min_total",
    "MAX(o_totalprice) AS max_total",
    "COUNT(DISTINCT o_custkey) AS n_customers",
]


@query(
    "agg_hash",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus, {', '.join(_PRIO_AGGS)}
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    """,
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(*[F.expr(a) for a in _PRIO_AGGS])
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS distinct_orders,
           COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("distinct_orders"),
            F.countDistinct("l_suppkey").alias("distinct_suppliers"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the 100 TB path for distinct-cardinality
    (constant memory per group vs exact distinct's shuffle of all
    values).  HLL sketch values differ across engines, so the
    driver-checkable contract is the sketch's ERROR BOUND: the approx
    estimate must land within 3x the configured rsd (0.02) of the
    exact count, emitted as a boolean the oracle pins to TRUE."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("__approx"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("__approx") - F.col("exact_orders"))
                <= 3 * 0.02 * F.col("exact_orders") + 1
            ).alias("approx_ok"),
        )
    )


@query(
    "agg_collect",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           COUNT(*) AS n
    FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-record group-concat — the distributed analogue of the
    reference's within-record reduce concat (SURVEY.md §2.4).  Sorted
    for determinism (collect_list order is partition-dependent)."""
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("c_name"))).alias("names"),
            F.count("*").alias("n"),
        )
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           {sum_d(DEC_QTY, 'sum_qty')}, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.expr(sum_d(DEC_QTY, "sum_qty")),
            F.count("*").alias("n"),
        )
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           {sum_d(REVENUE, 'revenue')}
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"), F.expr(sum_d(REVENUE, "revenue")))
    )


@query(
    "agg_stats",
    oracle=f"""
    SELECT l_linestatus,
           {round_half('AVG(l_discount)', 6)} AS avg_disc,
           {round_half('STDDEV_SAMP(l_discount)', 6)} AS sd_disc,
           {round_half('MIN(l_discount)', 6)} AS min_disc,
           {round_half('MAX(l_discount)', 6)} AS max_disc
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-magnitude moments rounded to 6 decimals (float-order drift
    is ~1e-15 here, far inside the rounding)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            round_half(F.avg("l_discount"), 6).alias("avg_disc"),
            round_half(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
            round_half(F.min("l_discount"), 6).alias("min_disc"),
            round_half(F.max("l_discount"), 6).alias("max_disc"),
        )
    )


# --- filter / project ---------------------------------------------------


@query(
    "filter_pred",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n, {sum_d(REVENUE, 'revenue')}
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount <> 0.0
    GROUP BY l_returnflag
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: BETWEEN / IN / range / not-equal — all
    pushed to the parquet scan by Catalyst."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_quantity").between(10, 20)
            & F.col("l_returnflag").isin("A", "R")
            & (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") != 0.0)
        )
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.expr(sum_d(REVENUE, "revenue")))
    )


_PRICE_UP = "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 110 / 100 AS DOUBLE)"


@query(
    "project_expr",
    oracle=f"""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_uc,
           SUBSTRING(p_name, 1, 10) AS name10,
           p_size * 2 + 1 AS size2,
           {round_half(_PRICE_UP, 2)} AS price_up,
           CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'mid' ELSE 'small' END AS size_class
    FROM part
    """,
)
def project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 10).alias("name10"),
        (F.col("p_size") * 2 + 1).alias("size2"),
        F.expr(round_half(_PRICE_UP, 2)).alias("price_up"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "mid")
        .otherwise("small")
        .alias("size_class"),
    )


# --- top-k --------------------------------------------------------------


@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark's TakeOrderedAndProject — per-partition heap
    then driver merge, no full sort at any scale.  Unique tiebreak key
    keeps the boundary deterministic."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) x
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# --- set operations -----------------------------------------------------


@query(
    "set_union_all",
    oracle="""
    SELECT k, src FROM (
      SELECT o_custkey AS k, 'big_order' AS src FROM orders WHERE o_totalprice > 400000
      UNION ALL
      SELECT c_custkey AS k, 'rich' AS src FROM customer WHERE c_acctbal > 9900
    ) u
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("k"), F.lit("big_order").alias("src"))
    )
    b = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_custkey").alias("k"), F.lit("rich").alias("src"))
    )
    return a.unionByName(b)


@query(
    "set_intersect",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
    INTERSECT
    SELECT CAST(s_nationkey AS BIGINT) AS nk FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("bigint").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("bigint").alias("nk"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
    EXCEPT
    SELECT CAST(s_nationkey AS BIGINT) AS nk FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("bigint").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("bigint").alias("nk"))
    return c.subtract(s)  # EXCEPT DISTINCT semantics, matching SQL EXCEPT


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ------------------------------------------ bag-semantics set ops


@query(
    "set_ops_bag_semantics",
    oracle="""
    WITH a AS (SELECT c_nationkey AS nk FROM customer),
    b AS (SELECT s_nationkey AS nk FROM supplier),
    ia AS (SELECT nk FROM a INTERSECT ALL SELECT nk FROM b),
    ea AS (SELECT nk FROM a EXCEPT ALL SELECT nk FROM b)
    SELECT 'intersect_all' AS op, CAST(nk AS BIGINT) AS nk,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ia GROUP BY 2
    UNION ALL
    SELECT 'except_all', CAST(nk AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM ea GROUP BY 2
    """,
)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the bag-semantics (multiplicity-
    preserving) set operators, which the DISTINCT variants
    (set_intersect / set_except) silently are not: per nation key,
    INTERSECT ALL keeps min(multiplicity) copies and EXCEPT ALL
    keeps the count difference — the semantics audits rely on when
    reconciling row batches, not key sets.  Reported as per-key
    multiplicities so the check pins the exact bag, not just
    membership.

    Scale shape: Spark plans both as count-aggregated joins on the
    key (intersectAll/exceptAll) — one exchange each, map-side
    partial counts; the rollup output is bounded by key
    cardinality."""
    a = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nk")
    )
    b = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nk")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("nk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "nk", "n")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("nk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("except_all").alias("op"), "nk", "n")
    )
    return ia.unionAll(ea)

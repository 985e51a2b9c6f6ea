"""Remaining TPC-H query shapes, adapted to the reduced test schema
(no partsupp table, no l_shipmode/l_commitdate/l_receiptdate columns —
see TESTDATA.md).  Adaptations keep each query's *plan shape* (the
thing that matters at 100 TB): Q4/Q21 correlated-existence joins, Q6
full-scan filter-agg, Q9 5-way star join, Q10 group-by over a 3-way
join with top-k, Q11 scalar-subquery HAVING, Q12 conditional
classification agg, Q13 outer-join + two-level distribution, Q15
scalar-max equality, Q16 distinct-count with NOT-IN anti join, Q18
semi join on a grouped HAVING.

Lateness predicates use ``l_shipdate`` vs ``o_orderdate`` (the only
date pair present) instead of commit/receipt dates.

Scale notes (local[32] test, 1000-executor design):
* nation/region/supplier (100 rows) are always broadcast — no shuffle
  on the dimension side of Q9/Q10/Q11/Q21.
* Q18's HAVING subquery is a self-semi-join on l_orderkey: both sides
  shuffle on the same key, so AQE coalesces into one exchange reuse.
* Q21 is expressed as aggregate-then-join (late-supplier counts per
  order) instead of per-row EXISTS/NOT EXISTS — O(1) passes over
  lineitem rather than a nested-loop, which is the only formulation
  that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.queries._util import (
    DEC_QTY,
    REVENUE,
    sum_d,
    t,
)
from instructions_mr_spark.registry import query

# Shared fragments (verbatim on both engines so they cannot drift).
COST = (
    "CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))"
    " * CAST(0.4 AS DECIMAL(2,1))"
)
PROFIT = f"{REVENUE} - {COST}"
DISC_REV = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,4))"
)


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelates to a left-semi join.

    Lateness = shipped >30 days after the order date (the schema has
    no commit/receipt dates).  The semi join keeps only orders' columns
    flowing into the aggregate — lineitem is scanned once, projected to
    two columns (the pushdown shows in ``cli.py --explain`` or
    ``plans.guard.optimized_plan``).
    """
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sum_d(DISC_REV, 'revenue')}, COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + global agg — the canonical pushdown /
    whole-stage-codegen benchmark.  All four predicates reach the
    parquet scan as PushedFilters; only 4 columns are read."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(sum_d(DISC_REV, "revenue")),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
           {sum_d(PROFIT, 'profit')}
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN part ON p_partkey = l_partkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, CAST(YEAR(o_orderdate) AS INT)
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by nation and year).  With no partsupp
    table, supply cost is modeled as 40% of p_retailprice × quantity
    (decimal-exact on both engines).

    Plan: nation is a forced broadcast (25 rows at every sf); part
    (filtered by LIKE) and supplier join hint-free — both scale with
    sf, so the planner broadcasts them only while measured small; the
    only shuffle is lineitem⋈orders on orderkey, then the final
    group-by — exactly the two exchanges you want at 100 TB.
    """
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.expr(sum_d(PROFIT, "profit")))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, {sum_d(REVENUE, 'revenue')}, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top lost-revenue customers from returned items.
    Quarter filter on orders prunes before the join; nation broadcast;
    top-20 via TakeOrderedAndProject (no global sort materialization).
    c_custkey tiebreaks the LIMIT deterministically.
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(sum_d(REVENUE, "revenue")))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q11_important_stock",
    oracle=f"""
    WITH v AS (
      SELECT l_partkey, SUM({REVENUE}) AS val
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey)
    SELECT l_partkey, CAST(val AS DOUBLE) AS value
    FROM v
    WHERE val > (SELECT SUM(val) * CAST(0.001 AS DECIMAL(4,3)) FROM v)
    ORDER BY value DESC, l_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value for one nation's suppliers,
    kept only above a fraction of the nation's total (scalar
    subquery).  Value = lineitem revenue (no partsupp table).

    The HAVING threshold compares exact DECIMAL sums on both engines —
    double comparisons at a knife-edge threshold would be flaky.  The
    scalar total is a 1-row broadcast cross join, and the per-part agg
    result is reused for both sides (Spark reuses the exchange).
    """
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    v = (
        li.join(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey),
                li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.expr(f"SUM({REVENUE}) AS val"))
    )
    total = v.agg(
        F.expr("SUM(val) * CAST(0.001 AS DECIMAL(4,3)) AS threshold")
    )
    return (
        v.join(F.broadcast(total))
        .filter(F.col("val") > F.col("threshold"))
        .select("l_partkey", F.col("val").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), F.col("l_partkey"))
    )


@query(
    "q12_late_priority",
    oracle="""
    SELECT l_linestatus AS shipclass,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
      AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional-classification aggregate over a
    join (no l_shipmode column — classify by l_linestatus; lateness =
    shipped ≥60 days after order date).  The CASE sums are map-side
    partial aggregates: one shuffle on orderkey, one tiny one on the
    2-3 group keys."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy(F.col("l_linestatus").alias("shipclass"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("shipclass")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
                          AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customers-per-order-count distribution.  The outer
    join's extra predicate lives in the join condition (NOT a WHERE —
    that would turn it inner and drop zero-order customers).  Second
    aggregate is on c_count: tiny cardinality, AQE coalesces it."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({REVENUE}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue.  The
    max-equality compares exact DECIMAL aggregates (safe); the 1-row
    max is broadcast.  `rev` is computed once and the exchange reused
    for both the join side and the MAX side."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(F.expr(f"SUM({REVENUE}) AS total_rev"))
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#2'
      AND p_type NOT LIKE 'SMALL%'
      AND p_size IN (1, 5, 11, 17, 23, 29, 37, 41)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per part group, excluding
    a blacklist (negative-balance suppliers stand in for the
    complaints predicate; lineitem stands in for partsupp).  NOT IN
    lowers to a left-anti join (s_suppkey is non-null, so
    anti-join ≡ NOT IN).  COUNT(DISTINCT) expands to a two-level agg —
    partial distinct on (group, suppkey) first, so the wide shuffle
    carries deduped pairs."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (~F.col("p_type").like("SMALL%"))
        & (F.col("p_size").isin(1, 5, 11, 17, 23, 29, 37, 41))
    )
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@query(
    "q18_large_volume",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM({DEC_QTY}) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM({DEC_QTY}) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders.  The IN-subquery is a semi join
    against a grouped HAVING on the same lineitem table — both sides
    hash-partition on l_orderkey/o_orderkey, so the exchange is reused
    and no second lineitem scan shuffle materializes a different key."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr(f"SUM({DEC_QTY}) AS sq"))
        .filter(F.col("sq") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        o.join(big, o.o_orderkey == big.big_orderkey, "left_semi")
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.expr(f"CAST(SUM({DEC_QTY}) AS DOUBLE) AS total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY),
    multi AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING COUNT(DISTINCT l_suppkey) > 1),
    only_late AS (
      SELECT l_orderkey FROM late
      GROUP BY l_orderkey
      HAVING COUNT(*) = 1)
    SELECT s_name, COUNT(*) AS numwait
    FROM late
    JOIN multi USING (l_orderkey)
    JOIN only_late USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the *sole* late supplier on
    a multi-supplier finished order.  The canonical EXISTS/NOT-EXISTS
    pair is re-expressed set-based: the "no OTHER supplier was late"
    branch is a count-over-window on the deduped late set (NOT a
    groupBy + self-join back, which would scan the late side twice —
    verified against the executed plan), and the "order had multiple
    suppliers" branch is one aggregate over lineitem.  Every
    intermediate is keyed on l_orderkey, so at 100 TB this is two
    lineitem scans and three orderkey-hash exchanges total (reference
    has no joins at all — SURVEY.md §2.6).
    """
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    sole = (
        late.withColumn(
            "nlate", F.count(F.lit(1)).over(Window.partitionBy("l_orderkey"))
        )
        .filter(F.col("nlate") == 1)
        .drop("nlate")
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("nsupp"))
        .filter(F.col("nsupp") > 1)
        .select("l_orderkey")
    )
    s = t(spark, sf_dir, "supplier")
    return (
        sole.join(multi, "l_orderkey")
        .join(s, sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )

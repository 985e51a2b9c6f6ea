"""Join surface (SURVEY.md §2.7): equi/broadcast/outer/semi/anti/
range/as-of.  Absent from the reference entirely (§2.6).

Scale notes per flavor:

* dimension joins broadcast explicitly (region/nation/supplier stay
  tiny at every sf — BROADCAST_DIMS) — no shuffle of the fact table;
* fact-fact joins shuffle on the join key and rely on AQE for skew;
* the range join is bounded by banding (join on coarse bucket first,
  then refine) so it never degenerates to a full cross product;
* the as-of join is a cogrouped merge — see operators/asof.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.functions import spark_hash
from instructions_mr_spark.operators.asof import asof_join
from instructions_mr_spark.queries._util import REVENUE, sum_d, t
from instructions_mr_spark.registry import query


@query(
    "join_inner_eq",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sum_d(REVENUE, 'revenue')}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_inner_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.expr(sum_d(REVENUE, "revenue")))
    )


@query(
    "join_broadcast",
    oracle=f"""
    SELECT n_name, r_name, COUNT(*) AS n, {sum_d(REVENUE, 'revenue')}
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact scans once; nation/region are forced broadcasts
    (fixed 25/5 rows); supplier joins hint-free (it scales with sf —
    the planner broadcasts it only while measured small)
    before the aggregate."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n"), F.expr(sum_d(REVENUE, "revenue")))
    )


@query(
    "join_bucketed",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sum_d(REVENUE, 'revenue')}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via the bucketed-table registry
    (sources/tables.py save_bucketed/load_bucketed): both sides are
    persisted bucketed+sorted on orderkey, so the join plan has NO
    Exchange on the join key — the write-once shuffle is amortized
    across every later query on the key (the plan property is asserted
    in tests/test_bucketing.py).  Same answer as join_inner_eq by
    construction; the oracle cross-checks the bucketed write+scan
    didn't lose or duplicate rows."""
    import hashlib
    import os
    import tempfile

    from instructions_mr_spark.sources.tables import load_bucketed, save_bucketed

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), "imr_bucketed")
    bo, bl = f"b_orders_{key}", f"b_lineitem_{key}"
    # Within one session the bucketed twins are written once and
    # reused (the catalog remembers them); a fresh session re-writes.
    if not spark.catalog.tableExists(bo):
        save_bucketed(
            t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
            bo,
            ["o_orderkey"],
            n_buckets=8,
            path=os.path.join(base, bo),
        )
    if not spark.catalog.tableExists(bl):
        save_bucketed(
            t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            bl,
            ["l_orderkey"],
            n_buckets=8,
            path=os.path.join(base, bl),
        )
    li = load_bucketed(spark, bl)
    o = load_bucketed(spark, bo)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.expr(sum_d(REVENUE, "revenue")))
    )


@query(
    "join_left",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_full",
    oracle="""
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           cn.n_cust, sn.n_supp
    FROM (SELECT CAST(c_nationkey AS BIGINT) AS nk, COUNT(*) AS n_cust
          FROM customer GROUP BY 1) cn
    FULL JOIN (SELECT CAST(s_nationkey AS BIGINT) AS nk, COUNT(*) AS n_supp
               FROM supplier GROUP BY 1) sn
      ON cn.nk = sn.nk
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    sn = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").cast("bigint").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return cn.join(sn, cn.nk == sn.nk, "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_acctbal"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
           CAST(CAST(a.s_acctbal AS DECIMAL(12,2)) - CAST(b.s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal_gap
    FROM supplier a JOIN supplier b
      ON a.s_suppkey < b.s_suppkey
     AND a.s_acctbal BETWEEN b.s_acctbal - 500 AND b.s_acctbal + 500
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join on a small table.  At scale, band the range
    key (join on floor(bal/width) buckets ± 1, then refine) so the
    planner gets an equi-key — demonstrated in tests/test_asof.py for
    the banded variant."""
    s = t(spark, sf_dir, "supplier")
    a = s.alias("a")
    b = s.alias("b")
    return a.join(
        b,
        (F.col("a.s_suppkey") < F.col("b.s_suppkey"))
        & (F.col("a.s_acctbal") >= F.col("b.s_acctbal") - 500)
        & (F.col("a.s_acctbal") <= F.col("b.s_acctbal") + 500),
    ).select(
        F.col("a.s_suppkey").alias("supp_a"),
        F.col("b.s_suppkey").alias("supp_b"),
        F.expr(
            "CAST(CAST(a.s_acctbal AS DECIMAL(12,2)) - CAST(b.s_acctbal AS DECIMAL(12,2)) AS DOUBLE)"
        ).alias("bal_gap"),
    )


@query(
    "join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, o.o_orderkey, o.o_orderdate
    FROM events e
    ASOF LEFT JOIN (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ) o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event matched to that user's most recent order at-or-before
    the event time (DuckDB ASOF LEFT JOIN is the oracle).

    The right side is pre-reduced to one row per (custkey, orderdate) —
    'most recent order' is otherwise underdetermined when a customer
    places several orders the same day (32 such ties at sf0.01), and
    engines would tiebreak differently."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )
    joined = asof_join(
        e, o, on_time_left="ts", on_time_right="o_orderdate",
        by_left=["user_id"], by_right=["o_custkey"], how="left",
    )
    return joined.select(
        "event_id", "user_id", "ts", "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT v.event_id, v.user_id, CAST(v.ts AS TIMESTAMP) AS view_ts,
           p.purchase_id, CAST(p.p_ts AS TIMESTAMP) AS purchase_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN (
      SELECT user_id AS p_uid, ts AS p_ts, MAX(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ) p
      ON v.user_id = p.p_uid AND v.ts <= p.p_ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each view event attributed to that user's NEXT
    purchase at-or-after it (the conversion-attribution join).  Same
    union+window machinery as the backward direction with the sort
    reversed; DuckDB's ASOF with ``<=`` is the oracle.  Purchases are
    pre-reduced per (user, ts) to keep ties deterministic."""
    e = t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").alias("view_ts")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("purchase_id"))
        .select("p_uid", "p_ts", "purchase_id")
    )
    joined = asof_join(
        views, purchases, on_time_left="view_ts", on_time_right="p_ts",
        by_left=["user_id"], by_right=["p_uid"], how="left",
        direction="forward",
    )
    return joined.select(
        "event_id", "user_id", "view_ts", "purchase_id",
        F.col("p_ts").alias("purchase_ts"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    p AS (
      SELECT user_id AS p_uid, ts AS p_ts, MAX(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    back AS (
      SELECT v.event_id, p.purchase_id AS b_id, p.p_ts AS b_ts
      FROM v ASOF LEFT JOIN p ON v.user_id = p.p_uid AND v.ts >= p.p_ts
    ),
    fwd AS (
      SELECT v.event_id, p.purchase_id AS f_id, p.p_ts AS f_ts
      FROM v ASOF LEFT JOIN p ON v.user_id = p.p_uid AND v.ts <= p.p_ts
    )
    SELECT v.event_id, v.user_id,
           CASE
             WHEN b_id IS NULL THEN f_id
             WHEN f_id IS NULL THEN b_id
             WHEN (v.ts - b_ts) <= (f_ts - v.ts) THEN b_id
             ELSE f_id
           END AS nearest_purchase
    FROM v
    LEFT JOIN back ON v.event_id = back.event_id
    LEFT JOIN fwd ON v.event_id = fwd.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event as-of (either direction): each view matched to the
    closest purchase in time, ties to the earlier one — composed from
    the backward and forward as-of joins (each one shuffle+sort on the
    key), then a projection picks the closer side.  No extra join: the
    forward pass reuses the backward pass's output as its left side."""
    e = t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").alias("view_ts")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("purchase_id"))
        .select("p_uid", "p_ts", "purchase_id")
    )
    back = asof_join(
        views, purchases.select(F.col("p_uid").alias("b_uid"),
                                F.col("p_ts").alias("b_ts"),
                                F.col("purchase_id").alias("b_id")),
        on_time_left="view_ts", on_time_right="b_ts",
        by_left=["user_id"], by_right=["b_uid"], how="left",
    ).drop("b_uid")
    both = asof_join(
        back, purchases.select(F.col("p_uid").alias("f_uid"),
                               F.col("p_ts").alias("f_ts"),
                               F.col("purchase_id").alias("f_id")),
        on_time_left="view_ts", on_time_right="f_ts",
        by_left=["user_id"], by_right=["f_uid"], how="left",
        direction="forward",
    )
    nearest = (
        F.when(F.col("b_id").isNull(), F.col("f_id"))
        .when(F.col("f_id").isNull(), F.col("b_id"))
        .when(
            # timestampdiff works on TIMESTAMP and TIMESTAMP_NTZ alike;
            # a direct CAST(ts AS BIGINT) is rejected for NTZ inputs.
            F.expr("timestampdiff(MICROSECOND, b_ts, view_ts)")
            <= F.expr("timestampdiff(MICROSECOND, view_ts, f_ts)"),
            F.col("b_id"),
        )
        .otherwise(F.col("f_id"))
    )
    return both.select("event_id", "user_id", nearest.alias("nearest_purchase"))


@query(
    "runtime_bloom_join",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sum_d(REVENUE, 'revenue')}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: Catalyst builds a bloom
    filter from the FILTERED orders side and injects might_contain on
    the lineitem scan, so most non-matching fact rows die before the
    shuffle — the optimizer-level semi-join reduction that matters
    when the filter is selective and the fact is 100 TB.  Confs are
    scoped to this query: planning is forced while they're set, then
    they're restored (the default applicationSideScanSizeThreshold of
    10 GB correctly skips the rule for scans this small — at real
    scale it fires on its own)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = t(spark, sf_dir, "lineitem")
        o = t(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"), F.expr(sum_d(REVENUE, "revenue")))
        )
        # force planning NOW so the bloom rule sees the scoped confs
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Deterministic typo synthesis for the fuzzy join — ONE fragment valid
# in both dialects so the two sides cannot drift: a third of part
# names get a mid-word substitution, a third a trailing insertion, a
# third pass through clean.
_DIRTY_NAME = """
    CASE WHEN p_partkey % 3 = 0 AND length(p_name) > 4
         THEN substr(p_name, 1, 3) || 'x' || substr(p_name, 5)
         WHEN p_partkey % 3 = 1 THEN p_name || 'z'
         ELSE p_name END
"""


@query(
    "join_fuzzy_blocked",
    oracle=f"""
    WITH dirty AS (
      SELECT p_partkey, ({_DIRTY_NAME}) AS dirty_name FROM part
    ),
    clean AS (
      SELECT DISTINCT p_name, substr(p_name, 1, 3) AS blk FROM part
    ),
    scored AS (
      SELECT d.p_partkey, d.dirty_name, c.p_name,
             levenshtein(d.dirty_name, c.p_name) AS dist
      FROM dirty d JOIN clean c ON substr(d.dirty_name, 1, 3) = c.blk
      WHERE levenshtein(d.dirty_name, c.p_name) <= 2
    ),
    ranked AS (
      SELECT p_partkey, dirty_name, p_name AS best_name, dist AS best_dist,
             ROW_NUMBER() OVER (PARTITION BY p_partkey
                                ORDER BY dist, p_name) AS rn,
             COUNT(*) OVER (PARTITION BY p_partkey) AS n_matches
      FROM scored
    )
    SELECT p_partkey, dirty_name, best_name,
           CAST(best_dist AS BIGINT) AS best_dist,
           CAST(n_matches AS BIGINT) AS n_matches
    FROM ranked WHERE rn = 1
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked FUZZY JOIN — the entity-resolution shape (dirty names
    matched back to a clean dictionary under an edit-distance bound):
    deterministic typo'd part names join the distinct clean-name
    dictionary, blocked on the 3-char prefix, verified with exact
    Levenshtein <= 2, and each dirty record keeps its best match
    (lowest distance, name as the deterministic tie-break) plus its
    match count.

    Scale shape: the blocking key turns the all-pairs O(n·m) distance
    matrix into an equi-join whose volume is the sum of block-pair
    products — only block collisions pay the Levenshtein (the same
    blocking argument as LSH bands).  At 100 TB: widen blocks to
    (prefix, length-bucket) q-gram keys, and broadcast the dictionary
    when it fits (a clean vocabulary usually does); the verify stays
    JVM-side (`levenshtein` is a codegen'd built-in, no UDF)."""
    from pyspark.sql import Window as W

    parts = t(spark, sf_dir, "part")
    dirty = parts.selectExpr("p_partkey", f"({_DIRTY_NAME}) AS dirty_name")
    clean = (
        parts.select("p_name").distinct()
        .withColumn("blk", F.substring("p_name", 1, 3))
    )
    scored = (
        dirty.withColumn("blk", F.substring("dirty_name", 1, 3))
        .join(clean, "blk")
        .withColumn("dist", F.levenshtein("dirty_name", "p_name"))
        .filter(F.col("dist") <= 2)
    )
    w = W.partitionBy("p_partkey")
    ranked = scored.select(
        "p_partkey",
        "dirty_name",
        F.col("p_name").alias("best_name"),
        F.col("dist").cast("bigint").alias("best_dist"),
        F.row_number().over(w.orderBy("dist", "p_name")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_matches"),
    )
    return ranked.filter(F.col("rn") == 1).drop("rn")


@query(
    "entity_resolution_clusters",
    oracle=f"""
    WITH RECURSIVE dirty AS (
      SELECT DISTINCT ({_DIRTY_NAME}) AS dn FROM part
    ),
    clean AS (
      SELECT DISTINCT p_name, substr(p_name, 1, 3) AS blk FROM part
    ),
    matches AS (
      SELECT 'c:' || c.p_name AS cnode, 'd:' || d.dn AS dnode
      FROM dirty d JOIN clean c ON substr(d.dn, 1, 3) = c.blk
      WHERE levenshtein(d.dn, c.p_name) <= 2
    ),
    edges AS (
      SELECT cnode AS src, dnode AS dst FROM matches
      UNION ALL
      SELECT dnode AS src, cnode AS dst FROM matches
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, root) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    labeled AS (
      SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node
    ),
    per_cluster AS (
      SELECT cluster_id,
             CAST(SUM(CASE WHEN substr(node, 1, 2) = 'c:' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clean,
             CAST(SUM(CASE WHEN substr(node, 1, 2) = 'd:' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dirty
      FROM labeled GROUP BY cluster_id
    )
    SELECT n_clean,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_dirty) AS BIGINT) AS n_dirty_total
    FROM per_cluster GROUP BY n_clean ORDER BY n_clean
    """,
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution capstone: the fuzzy match graph (dirty name
    variants edged to every clean dictionary name within Levenshtein
    2, join_fuzzy_blocked's blocking) resolved into CONNECTED
    COMPONENTS — because best-match-only linking silently splits an
    entity when two clean spellings coexist, while transitive closure
    over ALL matches conflates them into one cluster.  The report is
    the ambiguity histogram: clusters by how many clean names they
    contain (n_clean >= 2 rows are the 'two dictionary entries are
    the same entity' review queue every MDM pipeline staffs).

    Scale shape: match generation is the blocked equi-join (block
    collisions only pay Levenshtein); the CC runs min-label
    propagation over the bipartite match edges (string labels — min
    is lexicographic on both engines); rollups are cluster-sized."""
    from instructions_mr_spark.operators.graph import connected_components

    parts = t(spark, sf_dir, "part")
    dirty = parts.selectExpr(f"({_DIRTY_NAME}) AS dn").distinct()
    clean = (
        parts.select("p_name").distinct()
        .withColumn("blk", F.substring("p_name", 1, 3))
    )
    matches = (
        dirty.withColumn("blk", F.substring("dn", 1, 3))
        .join(clean, "blk")
        .filter(F.levenshtein("dn", "p_name") <= 2)
        .select(
            F.concat(F.lit("c:"), F.col("p_name")).alias("cnode"),
            F.concat(F.lit("d:"), F.col("dn")).alias("dnode"),
        )
    )
    # the CC operator's convergence fixpoint sums labels, so node ids
    # must be numeric — and small enough that the sum stays in BIGINT
    # under ANSI mode: 32-bit portable hashes (the histogram below is
    # label-invariant, so relabeling is safe; a hash collision would
    # merge clusters and diverge from the string-labeled oracle, so
    # the oracle doubles as the collision check)
    iedges = matches.selectExpr(
        f"{spark_hash('cnode', 3)} AS cid", f"{spark_hash('dnode', 3)} AS did"
    )
    labeled = connected_components(iedges, src="cid", dst="did").select(
        "node", F.col("component").alias("cluster_id")
    )
    sides = (
        matches.selectExpr(f"{spark_hash('cnode', 3)} AS node", "1 AS is_clean")
        .unionAll(
            matches.selectExpr(f"{spark_hash('dnode', 3)} AS node", "0 AS is_clean")
        )
        .distinct()
    )
    per_cluster = labeled.join(sides, "node").groupBy("cluster_id").agg(
        F.sum("is_clean").alias("n_clean"),
        F.sum(1 - F.col("is_clean")).alias("n_dirty"),
    )
    return (
        per_cluster.groupBy("n_clean")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("n_dirty").cast("bigint").alias("n_dirty_total"),
        )
        .orderBy("n_clean")
    )


# ------------------------------------- reciprocal best match (RBM)

_RBM_DUCK = """
    WITH cand AS (
      SELECT s.s_suppkey, c.c_custkey,
             abs(CAST(s.s_acctbal AS DECIMAL(12,2)) * 100
                 - CAST(c.c_acctbal AS DECIMAL(12,2)) * 100) AS dist_cents
      FROM supplier s JOIN customer c ON s.s_nationkey = c.c_nationkey
    ),
    ranked AS (
      SELECT s_suppkey, c_custkey, dist_cents,
             ROW_NUMBER() OVER (PARTITION BY s_suppkey
                                ORDER BY dist_cents, c_custkey) AS rs,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY dist_cents, s_suppkey) AS rc
      FROM cand
    )
    SELECT s_suppkey, c_custkey, CAST(dist_cents AS BIGINT) AS dist_cents
    FROM ranked WHERE rs = 1 AND rc = 1
    ORDER BY s_suppkey
"""


@query("reciprocal_best_match", oracle=_RBM_DUCK)
def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor matching between suppliers and
    customers blocked by nation: a pair survives only if the customer
    is the supplier's single closest account balance AND vice versa —
    the one-round stable-matching filter entity resolution uses to
    promote candidate pairs to links without a global assignment
    solve.  Distance is exact integer cents; both best-of rankings
    tie-break on the partner key, so the match set is deterministic.

    Scale shape: candidates come from the nation-blocked equi-join
    (the join_fuzzy_blocked discipline — never a cross join), and the
    two best-of-entity ranks are windows PARTITIONED by supplier /
    customer key respectively (WindowGroupLimit prunes to rank 1
    before the filter).  At 100 TB the block key graduates from
    nation to a finer blocking digest; the mutual-filter shape is
    unchanged."""
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    cand = s.join(c, s.s_nationkey == c.c_nationkey).select(
        "s_suppkey",
        "c_custkey",
        F.expr(
            "abs(CAST(s_acctbal AS DECIMAL(12,2)) * 100"
            " - CAST(c_acctbal AS DECIMAL(12,2)) * 100)"
        ).alias("dist_cents"),
    )
    from pyspark.sql import Window

    w_s = Window.partitionBy("s_suppkey").orderBy("dist_cents", "c_custkey")
    w_c = Window.partitionBy("c_custkey").orderBy("dist_cents", "s_suppkey")
    ranked = cand.withColumn("rs", F.row_number().over(w_s)).withColumn(
        "rc", F.row_number().over(w_c)
    )
    return (
        ranked.filter((F.col("rs") == 1) & (F.col("rc") == 1))
        .select(
            "s_suppkey",
            "c_custkey",
            F.col("dist_cents").cast("bigint").alias("dist_cents"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "join_range_banded_2d",
    oracle="""
    WITH pairs AS (
      SELECT a.p_partkey AS part_a
      FROM part a JOIN part b
        ON a.p_partkey <> b.p_partkey
       AND b.p_retailprice BETWEEN a.p_retailprice - 10
                               AND a.p_retailprice + 10
       AND b.p_size BETWEEN a.p_size - 2 AND a.p_size + 2
    )
    SELECT part_a, CAST(COUNT(*) AS BIGINT) AS n_neighbors
    FROM pairs GROUP BY 1
    """,
)
def join_range_banded_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional banded similarity join: for every part, how
    many OTHER parts sit within +/-10 price AND +/-2 size — the
    substitute-product neighborhood count.  The scale path bands BOTH
    dimensions (price DIV 10, size DIV 2), explodes one side to its
    3x3 adjacent bucket grid, equi-joins on the composite bucket key,
    and refines with the exact predicates — the join_range_banded
    construction lifted to 2-D, where a naive double-theta join
    degenerates to a nested loop (Okcan & Riedewald's bucketed theta
    joins generalize dimension-wise).

    Scale shape: the candidate join is an equi-join on (price_bucket,
    size_bucket) — 9x replication of one side, hash-joinable; the
    exact band predicates are residual filters inside the join."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    a = p.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_retailprice").alias("a_price"),
        F.col("p_size").alias("a_size"),
        F.explode(
            F.expr(
                "array(-1, 0, 1)"
            )
        ).alias("dbp"),
    ).select(
        "a_key",
        "a_price",
        "a_size",
        (F.expr("CAST(FLOOR(a_price / 10) AS BIGINT)") + F.col("dbp")).alias(
            "bp"
        ),
        F.explode(F.expr("array(-1, 0, 1)")).alias("dbs"),
    ).select(
        "a_key",
        "a_price",
        "a_size",
        "bp",
        (F.expr("CAST(FLOOR(a_size / 2) AS BIGINT)") + F.col("dbs")).alias(
            "bs"
        ),
    )
    b = p.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_retailprice").alias("b_price"),
        F.col("p_size").alias("b_size"),
        F.expr("CAST(FLOOR(p_retailprice / 10) AS BIGINT)").alias("bp"),
        F.expr("CAST(FLOOR(p_size / 2) AS BIGINT)").alias("bs"),
    )
    cand = a.join(b, ["bp", "bs"]).filter(
        (F.col("a_key") != F.col("b_key"))
        & (F.col("b_price") >= F.col("a_price") - 10)
        & (F.col("b_price") <= F.col("a_price") + 10)
        & (F.col("b_size") >= F.col("a_size") - 2)
        & (F.col("b_size") <= F.col("a_size") + 2)
    )
    return cand.groupBy(F.col("a_key").alias("part_a")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors")
    )

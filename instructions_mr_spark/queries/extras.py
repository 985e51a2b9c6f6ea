"""Coverage extras: GROUPING SETS, vector (embedding) aggregation,
rolling-hash fingerprints, RANGE window frames, from_json struct
extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from instructions_mr_spark.functions import cosine_sim, duck_cosine, duck_epoch, round_half, spark_epoch
from instructions_mr_spark.plans.guard import sql_double_array
from instructions_mr_spark.queries._util import DEC_QTY, sum_d, t
from instructions_mr_spark.registry import query


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           {sum_d(DEC_QTY, 'sum_qty')}, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube) via the SQL API."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_gs")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               GROUPING__ID AS gid,
               {sum_d(DEC_QTY, 'sum_qty')}, COUNT(*) AS n
        FROM v_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "vector_avg_by_label",
    oracle=f"""
    SELECT label, pos, {round_half('AVG(CAST(v AS DOUBLE))', 6)} AS avg_val, COUNT(*) AS n
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS v
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def vector_avg_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid computation (the k-means/IVF building block): explode
    embeddings with position, average per (label, dimension).  One
    shuffle keyed by (label, pos) — dimension-parallel, so a 1000-dim
    embedding over 100 TB spreads across the cluster instead of
    aggregating whole vectors on one key."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .select("label", (F.col("pos0") + 1).cast("bigint").alias("pos"), "v")
        .groupBy("label", "pos")
        .agg(
            round_half(F.avg(F.col("v").cast("double")), 6).alias("avg_val"),
            F.count("*").alias("n"),
        )
    )


# Modular power table shared verbatim by both engines (floats would
# lose exactness past 31^11; the table keeps every term < 2^53).
_RH_P = 1_000_000_007
_RH_POWS = [pow(31, i, _RH_P) for i in range(64)]
_RH_POWS_SQL = "[" + ", ".join(str(x) for x in _RH_POWS) + "]"


@query(
    "doc_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           CAST(CAST(list_sum(list_transform(range(1, least(length(text), 64) + 1),
                i -> CAST(ascii(substr(text, i, 1)) AS BIGINT) * ({_RH_POWS_SQL})[i]))
                AS BIGINT) % {_RH_P} AS BIGINT) AS rhash
    FROM documents
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint of the first 64 chars:
    sum(ascii(c_i) * 31^i mod p) mod p, computed as a pure
    higher-order fold (no UDF) — the streaming-friendly fingerprint
    the md5 digest can't give (prefix-incremental)."""
    pows = F.array(*[F.lit(x) for x in _RH_POWS])
    chars = F.split(F.substring("text", 1, 64), "")
    terms = F.zip_with(chars, pows, lambda c, p: F.ascii(c).cast("long") * p)
    rh = (
        F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + F.coalesce(x, F.lit(0)))
        % _RH_P
    )
    return t(spark, sf_dir, "documents").select("doc_id", rh.alias("rhash"))


@query(
    "window_range_frame",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY {duck_epoch('o_orderdate', 's')}
                          RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS orders_90d
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: orders in the trailing 90 days per
    customer (value-based frame, not row-based)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.expr(spark_epoch("o_orderdate", "s")))
        .rangeBetween(-90 * 24 * 3600, W.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.count("*").over(w).alias("orders_90d")
    )


@query(
    "json_from_schema",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k2
    FROM events
    """,
)
def json_from_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing with a declared schema (from_json -> struct),
    the production path for the reference's JSON-string columns (vs
    per-path get_json_object)."""
    e = t(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT")
    return e.select(
        "event_id",
        parsed["k"].alias("k"),
        (parsed["k"] * 2).alias("k2"),
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation pair, fact-fact join with
    two forced nation broadcasts (bounded dims), yearly rollup;
    supplier/customer join hint-free (they scale with sf)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)"
            ).alias("revenue")
        )
    )


@query(
    "q17_small_quantity",
    oracle="""
    SELECT COUNT(*) AS n_small,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS pk,
                 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                        / COUNT(l_quantity)) AS qty_limit
          FROM lineitem GROUP BY l_partkey) lim
      ON lim.pk = l_partkey
    WHERE p_brand = 'Brand#4' AND l_quantity < qty_limit
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated avg-per-part threshold, decorrelated
    into a pre-aggregated join (the plan Catalyst produces for the
    correlated subquery too).  The 0.2*avg threshold uses the shared
    decimal-sum/count form so both engines compare against bit-equal
    doubles."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    lim = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.expr(
                "0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)"
                " / COUNT(l_quantity))"
            )
        ).alias("qty_limit")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(lim, li.l_partkey == lim.pk)
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            F.count("*").alias("n_small"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)"
            ).alias("total_price"),
        )
    )


@query(
    "agg_salted_twophase",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation: phase 1 groups by
    (hot_key, salt) so a pathological key spreads over 16 reducers;
    phase 2 merges the partials.  Decimal partials make the result
    bit-identical to the single-phase oracle.  l_returnflag has only
    3 values — exactly the shape where single-phase reduces bottleneck
    on 3 tasks at 100 TB.  (Spark's partial aggregation gives this for
    built-in aggs; the explicit salt pattern is for when it can't,
    e.g. exact collect-based or UDAF aggregation.)"""
    li = t(spark, sf_dir, "lineitem")
    phase1 = (
        li.withColumn("salt", (F.col("l_orderkey") % 16).cast("int"))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("part_sum"),
            F.count("*").alias("part_n"),
        )
    )
    return phase1.groupBy("l_returnflag").agg(
        F.sum("part_sum").cast("double").alias("sum_qty"),
        F.sum("part_n").alias("n"),
    )


@query(
    "embedding_quantize_int8",
    oracle=f"""
    WITH scaled AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
             embedding
      FROM embeddings
    )
    SELECT vec_id,
           {round_half('max_abs', 6)} AS scale_max,
           list_sum(list_transform(embedding,
             x -> CASE WHEN abs(CAST({round_half('CAST(x AS DOUBLE) / max_abs * 127', 0)} AS BIGINT)) > 120
                       THEN 1 ELSE 0 END))::BIGINT AS n_saturated,
           {round_half("list_max(list_transform(embedding,"
             " x -> abs(CAST(x AS DOUBLE)"
                      f" - CAST({round_half('CAST(x AS DOUBLE) / max_abs * 127', 0)} AS BIGINT)"
                        " * max_abs / 127)))", 6)} AS max_abs_err
    FROM scaled
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of embeddings (the 4x storage
    + SIMD-distance path for 100 TB vector corpora): per-vector scale =
    max|x|, q = x/scale*127 rounded to an integer.  Output: scale, saturation count,
    and max dequantization error — all JVM-side array folds, rounded
    identically on both engines."""
    e = t(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    e = e.withColumn("max_abs", max_abs)
    q = lambda x: round_half(xd(x) / F.col("max_abs") * 127, 0).cast("bigint")  # noqa: E731
    return e.select(
        "vec_id",
        round_half(F.col("max_abs"), 6).alias("scale_max"),
        F.aggregate(
            F.transform("embedding", lambda x: F.when(F.abs(q(x)) > 120, 1).otherwise(0)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_saturated"),
        round_half(
            F.array_max(
                F.transform(
                    "embedding",
                    lambda x: F.abs(xd(x) - q(x) * F.col("max_abs") / 127),
                )
            ),
            6,
        ).alias("max_abs_err"),
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    SELECT s.s_suppkey, s.s_nationkey, s.s_acctbal
    FROM supplier s
    JOIN (SELECT s_nationkey AS nk, MIN(s_acctbal) AS min_bal
          FROM supplier GROUP BY s_nationkey) m
      ON s.s_nationkey = m.nk AND s.s_acctbal = m.min_bal
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 kernel: the correlated-MIN subquery (supplier with the
    minimum balance per nation), decorrelated into an aggregate join —
    identical to what Catalyst produces for the correlated form."""
    s = t(spark, sf_dir, "supplier")
    m = s.groupBy(F.col("s_nationkey").alias("nk")).agg(F.min("s_acctbal").alias("min_bal"))
    return (
        s.join(F.broadcast(m), (s.s_nationkey == m.nk) & (s.s_acctbal == m.min_bal))
        .select("s_suppkey", "s_nationkey", "s_acctbal")
    )


def _ivf_kmeans_oracle() -> str:
    return f"""
    WITH exact AS (
      SELECT e.vec_id, {duck_cosine('q.embedding', 'e.embedding')} AS cosine
      FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY cosine DESC, e.vec_id LIMIT 10
    )
    SELECT 10 AS n_results,
           CAST(SUM(vec_id) AS BIGINT) AS exact_topk_id_sum,
           MAX(cosine) AS exact_top1_cos,
           TRUE AS recall_ok
    FROM exact
    """


@query("sim_search_ivf_kmeans", oracle=_ivf_kmeans_oracle())
def sim_search_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means IVF ANN (operators/simsearch.py): train 8 coarse
    centroids (fixed seed), probe the 4 cells nearest the vec_id=0
    query, exact cosine within candidates.  Centroids aren't
    SQL-expressible, so the driver-checkable contract has two parts:
    VALUE-BEARING — the exact brute-force reference scan's top-10 id
    sum and best cosine, recomputed exactly by DuckDB (certifies the
    reference side the recall bound is measured against); BOOLEAN —
    result count == top_k and recall@10 vs that exact scan >= 0.5
    (the per-sf recall value itself is asserted in
    tests/test_simsearch.py; n_probe=k here would equal
    sim_search_topk exactly)."""
    from instructions_mr_spark.operators.simsearch import ivf_search, train_ivf_centroids

    e = t(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(e, k=8)
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    corpus = e.filter(F.col("vec_id") != 0)
    approx = ivf_search(corpus, centroids, qv, top_k=10, n_probe=4)
    qlit = F.expr(sql_double_array(qv, "query vector"))
    exact = (
        corpus.select("vec_id", cosine_sim(F.col("embedding"), qlit).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )
    hits = approx.join(exact.select("vec_id"), "vec_id", "left_semi")
    exact_stats = exact.agg(
        F.sum("vec_id").cast("bigint").alias("exact_topk_id_sum"),
        F.max("cosine").alias("exact_top1_cos"),
    )
    return (
        approx.agg(F.count("*").alias("n_results"))
        .crossJoin(F.broadcast(exact_stats))
        .crossJoin(hits.agg((F.count("*") >= 5).alias("recall_ok")))
        .select("n_results", "exact_topk_id_sum", "exact_top1_cos", "recall_ok")
    )


@query(
    "merge_upsert_balances",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(u.new_bal, c.c_acctbal) AS balance,
           CASE WHEN u.c_custkey IS NULL THEN 0 ELSE 1 END AS updated
    FROM customer c
    LEFT JOIN (SELECT o_custkey AS c_custkey,
                      CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS new_bal
               FROM orders GROUP BY o_custkey) u
      ON c.c_custkey = u.c_custkey
    """,
)
def merge_upsert_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE emulation (operators/merge.py) driven relationally:
    upsert each customer's balance to their max order total; customers
    without orders keep theirs.  The oracle states the same contract
    as a LEFT JOIN + COALESCE."""
    from instructions_mr_spark.operators.merge import merge_upsert

    c = t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("balance"), F.lit(0).alias("updated")
    )
    u = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.expr("CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
                "balance"
            )
        )
        .withColumn("updated", F.lit(1))
    )
    return merge_upsert(c, u, ["c_custkey"])


_CLEAN_STOPS = "'the','and','of','to','a','in','is'"


@query(
    "text_clean",
    oracle=f"""
    SELECT doc_id,
           array_to_string(list_filter(string_split(lower(text), ' '),
                                       w -> w NOT IN ({_CLEAN_STOPS}) AND w <> ''), ' ')
             AS cleaned,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ({_CLEAN_STOPS}))) AS n_removed
    FROM documents
    """,
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal + lowercase normalization — the transform side
    of text curation (stats/filters live in queries/text.py).  Pure
    higher-order array pipeline."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    return d.select(
        "doc_id",
        F.array_join(
            F.filter(
                words,
                lambda w: ~w.isin("the", "and", "of", "to", "a", "in", "is")
                & (w != ""),
            ),
            " ",
        ).alias("cleaned"),
        F.size(
            F.filter(words, lambda w: w.isin("the", "and", "of", "to", "a", "in", "is"))
        )
        .cast("bigint")
        .alias("n_removed"),
    )


@query(
    "q14_promo_share",
    oracle=f"""
    SELECT {round_half(
             "100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'"
                          " THEN CAST(l_extendedprice AS DECIMAL(12,2))"
                               " * (1 - CAST(l_discount AS DECIMAL(8,4)))"
                          " ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)"
             " / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
                        " * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)", 6)} AS promo_share,
           COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue
    share) over a month of shipments, a hint-free fact->dim join
    (the planner broadcasts part while it is measured small)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))"
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.expr(
                round_half(f"100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {rev} "
                           "ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) "
                           f"/ CAST(SUM({rev}) AS DOUBLE)", 6)
            ).alias("promo_share"),
            F.count("*").alias("n"),
        )
    )


@query(
    "funnel_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
      FROM events
    ),
    numbered AS (
      SELECT user_id, event_type, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    views AS (
      SELECT user_id, sid, MIN(ts) AS v_ts FROM numbered
      WHERE event_type = 'view' GROUP BY user_id, sid
    ),
    clicks AS (
      SELECT n.user_id, n.sid, MIN(n.ts) AS c_ts
      FROM numbered n JOIN views v ON n.user_id = v.user_id AND n.sid = v.sid
      WHERE n.event_type = 'click' AND n.ts > v.v_ts
      GROUP BY n.user_id, n.sid
    ),
    buys AS (
      SELECT n.user_id, n.sid, MIN(n.ts) AS p_ts
      FROM numbered n JOIN clicks c ON n.user_id = c.user_id AND n.sid = c.sid
      WHERE n.event_type = 'purchase' AND n.ts > c.c_ts
      GROUP BY n.user_id, n.sid
    )
    SELECT (SELECT COUNT(DISTINCT (user_id, sid)) FROM numbered) AS n_sessions,
           (SELECT COUNT(*) FROM views) AS n_view,
           (SELECT COUNT(*) FROM clicks) AS n_view_click,
           (SELECT COUNT(*) FROM buys) AS n_full_funnel
    """,
)
def funnel_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized funnel (view -> click -> purchase, strictly ordered
    within a 30-min-gap session): the canonical event-analytics shape.
    Three keyed aggregations + keyed joins — every stage shuffles on
    (user, session), so the funnel scales with users, not events."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id").orderBy("ts")
    sec = F.expr(spark_epoch("ts", "s"))
    gap_new = F.when((sec - F.lag(sec).over(w)) <= 1800, 0).otherwise(1)
    numbered = e.withColumn(
        "sid",
        F.sum(gap_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    views = (
        numbered.filter(F.col("event_type") == "view")
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("v_ts"))
    )
    clicks = (
        numbered.join(views, ["user_id", "sid"])
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("c_ts"))
    )
    buys = (
        numbered.join(clicks, ["user_id", "sid"])
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        numbered.agg(
            F.countDistinct(F.struct("user_id", "sid")).alias("n_sessions")
        )
        .crossJoin(views.agg(F.count("*").alias("n_view")))
        .crossJoin(clicks.agg(F.count("*").alias("n_view_click")))
        .crossJoin(buys.agg(F.count("*").alias("n_full_funnel")))
    )


@query(
    "agg_corr_covar",
    oracle=f"""
    SELECT l_returnflag,
           {round_half('corr(l_quantity, l_discount)', 4)} AS corr_qd,
           {round_half('covar_samp(l_quantity, l_discount)', 4)} AS covar_qd,
           {round_half('regr_slope(l_extendedprice, l_quantity)', 2)} AS price_per_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (corr/covar/regression slope) — rounded at
    a precision where engine-order float drift (~1e-10 relative) can't
    surface.  Small-magnitude pairs chosen deliberately; see
    queries/_util.py for the exact-decimal rule used for raw sums."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_half(F.corr("l_quantity", "l_discount"), 4).alias("corr_qd"),
        round_half(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qd"),
        round_half(F.regr_slope("l_extendedprice", "l_quantity"), 2).alias("price_per_qty"),
    )


@query(
    "json_map_ops",
    oracle="""
    SELECT event_id,
           CAST(len(json_keys(props)) AS INT) AS n_keys,
           array_to_string(json_keys(props), ',') AS key_list,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def json_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed JSON handling: parse the payload as map<string,long>
    and use map functions (size/keys) — the dynamic-schema path when
    payload keys vary per row (vs from_json with a fixed struct)."""
    e = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.array_join(F.map_keys(m), ",").alias("key_list"),
        F.element_at(m, "k").alias("k_val"),
    )


@query(
    "q20_excess_stock",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS supp_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
      GROUP BY l_suppkey, l_partkey
    ),
    totals AS (
      SELECT l_partkey, SUM(supp_qty) AS part_qty
      FROM shipped GROUP BY l_partkey
    ),
    dominant AS (
      SELECT DISTINCT s.l_suppkey
      FROM shipped s JOIN totals t ON s.l_partkey = t.l_partkey
      WHERE 10 * s.supp_qty > t.part_qty
    )
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY s_name
    """,
)
def q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp table in the test schema, so
    "availqty" is the supplier's shipped quantity): suppliers that
    dominate (>10% of shipped volume) at least one Brand#1 part,
    reached through a correlated-aggregate threshold and surfaced via
    a semi-join.  The per-(supp,part) and per-part aggregates reuse
    one shuffle keyed by partkey; the final semi-join keeps the
    small dominant-supplier set.  Decimal sums keep the 10*x > total
    comparison exact on both engines."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.expr(f"SUM({DEC_QTY})").alias("supp_qty"))
    )
    totals = shipped.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    dominant = (
        shipped.join(totals, "l_partkey")
        .filter(F.expr("10 * supp_qty > part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@query(
    "q22_dormant_customers",
    oracle="""
    WITH pos AS (
      SELECT c_custkey, c_nationkey,
             CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      FROM customer WHERE c_acctbal > 0.0
    ),
    threshold AS (
      SELECT CAST(SUM(bal) AS DOUBLE) / COUNT(*) AS avg_bal FROM pos
    )
    SELECT p.c_nationkey AS nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(p.bal) AS DOUBLE) AS totacctbal
    FROM pos p, threshold
    WHERE CAST(p.bal AS DOUBLE) > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = p.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY p.c_nationkey
    ORDER BY nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nationkey stands in for the phone country
    code): customers with above-average positive balance and no orders
    since 2000-01-01 — a scalar-subquery threshold plus an anti-join, grouped by
    nation.  The average is a one-row broadcast (cross join); the
    anti-join shuffles on custkey and is the only wide exchange.
    Exact-decimal sum feeds both the threshold and the output so the
    comparison bits match DuckDB."""
    c = t(spark, sf_dir, "customer")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    pos = c.filter(F.col("c_acctbal") > 0.0).select(
        "c_custkey",
        "c_nationkey",
        F.expr("CAST(c_acctbal AS DECIMAL(12,2))").alias("bal"),
    )
    threshold = pos.agg(
        F.expr("CAST(SUM(bal) AS DOUBLE) / COUNT(*)").alias("avg_bal")
    )
    return (
        pos.crossJoin(F.broadcast(threshold))
        .filter(F.expr("CAST(bal AS DOUBLE) > avg_bal"))
        .join(o, pos.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("numcust"),
            F.expr("CAST(SUM(bal) AS DOUBLE)").alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH volumes AS (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(8,4))) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           {round_half("CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume"
                               " ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)"
                 " / CAST(SUM(volume) AS DOUBLE)", 6)} AS mkt_share
    FROM volumes GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's
    purchase volume per year — a conditional-sum ratio over a 7-table
    join (two roles for nation).  Nation/region are forced
    broadcasts; supplier joins hint-free; facts shuffle once
    on orderkey."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))"
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.expr(
                round_half(f"CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN {vol} "
                           "ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) "
                           f"/ CAST(SUM({vol}) AS DOUBLE)", 6)
            ).alias("mkt_share")
        )
    )


@query(
    "q19_disjunctive_filter",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_type IN ('PROMO', 'ECONOMY') AND l_quantity >= 40)
    """,
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicate branches
    spanning both join sides.  Catalyst splits the single-side
    conjuncts out of the OR and pushes them below the join; the
    cross-side residue evaluates post-join."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (F.col("p_type").isin("PROMO", "ECONOMY") & (F.col("l_quantity") >= 40))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)"
            ).alias("revenue"),
        )
    )


@query(
    "funnel_by_segment",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
      FROM events
    ),
    numbered AS (
      SELECT user_id, event_type, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    views AS (
      SELECT user_id, sid, MIN(ts) AS v_ts FROM numbered
      WHERE event_type = 'view' GROUP BY user_id, sid
    ),
    clicks AS (
      SELECT n.user_id, n.sid, MIN(n.ts) AS c_ts
      FROM numbered n JOIN views v ON n.user_id = v.user_id AND n.sid = v.sid
      WHERE n.event_type = 'click' AND n.ts > v.v_ts
      GROUP BY n.user_id, n.sid
    ),
    buys AS (
      SELECT n.user_id, n.sid, MIN(n.ts) AS p_ts
      FROM numbered n JOIN clicks c ON n.user_id = c.user_id AND n.sid = c.sid
      WHERE n.event_type = 'purchase' AND n.ts > c.c_ts
      GROUP BY n.user_id, n.sid
    ),
    sess AS (
      SELECT DISTINCT user_id, sid FROM numbered
    )
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_sessions,
           COUNT(v.v_ts) AS n_view,
           COUNT(k.c_ts) AS n_view_click,
           COUNT(b.p_ts) AS n_full_funnel,
           {round_half('CAST(COUNT(b.p_ts) AS DOUBLE) / COUNT(*)', 6)} AS conversion
    FROM sess s
    JOIN customer ON c_custkey = s.user_id
    LEFT JOIN views v ON v.user_id = s.user_id AND v.sid = s.sid
    LEFT JOIN clicks k ON k.user_id = s.user_id AND k.sid = s.sid
    LEFT JOIN buys b ON b.user_id = s.user_id AND b.sid = s.sid
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
)
def funnel_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment funnel breakdown: the sessionized view->click->
    purchase funnel joined to the customer dimension and rolled up by
    market segment.  Sessionization shuffles once on user_id; the
    customer dim joins as a plain equi-join — NOT a forced broadcast,
    because customer grows with the scale factor (AQE may still pick
    a broadcast when the measured size allows, and backs off when it
    doesn't); the three funnel stages reuse the (user, sid)
    partitioning so only the final small rollup re-shuffles.
    Conversion = completed funnels / all sessions."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    w = W.partitionBy("user_id").orderBy("ts")
    sec = F.expr(spark_epoch("ts", "s"))
    gap_new = F.when((sec - F.lag(sec).over(w)) <= 1800, 0).otherwise(1)
    numbered = e.withColumn(
        "sid",
        F.sum(gap_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    views = (
        numbered.filter(F.col("event_type") == "view")
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("v_ts"))
    )
    clicks = (
        numbered.join(views, ["user_id", "sid"])
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("c_ts"))
    )
    buys = (
        numbered.join(clicks, ["user_id", "sid"])
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("p_ts"))
    )
    sess = numbered.select("user_id", "sid").distinct()
    return (
        sess.join(cust, sess.user_id == F.col("c_custkey"))
        .join(views, ["user_id", "sid"], "left")
        .join(clicks, ["user_id", "sid"], "left")
        .join(buys, ["user_id", "sid"], "left")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_sessions"),
            F.count("v_ts").alias("n_view"),
            F.count("c_ts").alias("n_view_click"),
            F.count("p_ts").alias("n_full_funnel"),
            round_half(F.count("p_ts").cast("double") / F.count("*"), 6).alias("conversion"),
        )
        .orderBy("segment")
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicate-join for skewed keys: the probe side gets a
    uniform salt in [0,8); the build side is exploded 8x (one copy per
    salt) so a hot orderkey's rows spread over 8 reducers instead of
    one straggler task.  Result is provably identical to the plain
    join (every probe row meets exactly one replica).  This is the
    manual fallback for when AQE skew-split can't kick in — e.g. the
    skew is in a single key inside one partition, or the join feeds a
    window that pins partitioning.  Cost: 8x shuffle volume on the
    (smaller) build side — the knob to tune per skew factor."""
    nsalt = 8
    li = t(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.hash("l_orderkey", "l_quantity"), F.lit(nsalt))
    )
    # shuffle_hash hint: at test SF the exploded build side is small
    # enough that Catalyst would broadcast it (making the salt moot);
    # the hint pins the exchange-on-(key,salt) plan this operator
    # exists to produce, which is what a too-big-to-broadcast build
    # side gets at production scale.
    o = (
        t(spark, sf_dir, "orders")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(nsalt)])))
        .hint("shuffle_hash")
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)"
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )

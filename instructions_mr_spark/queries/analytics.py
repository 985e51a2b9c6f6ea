"""Product-analytics shapes over the events stream table: running
distinct counts (an operator Spark has no native window form for) and
cohort retention.  Reference status: no aggregation of any kind
(SURVEY.md §2.6) — EXT mandate.
"""

from __future__ import annotations
from instructions_mr_spark.plans.guard import literal_df

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_epoch, duck_hash, round_half, spark_epoch, spark_hash
from instructions_mr_spark.queries._util import dec_double, t
from instructions_mr_spark.registry import query


@query(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT event_type, ts,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                          ORDER BY ts) = 1
                  THEN 1 ELSE 0 END AS is_new
      FROM events)
    SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM(is_new) OVER (PARTITION BY event_type ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS running_users
    FROM flagged
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT user) per event_type — neither Spark nor
    most engines allow DISTINCT inside a window aggregate, and the
    naive collect_set-over-window materializes a per-row set (O(n^2)
    memory on a hot partition).  The scalable identity: a user's FIRST
    occurrence contributes 1, every later one 0, so running-distinct =
    running SUM of first-occurrence flags — two window passes that
    share the event_type hash partitioning (one exchange; the second
    window only re-sorts within partitions)."""
    is_new = (
        F.row_number().over(
            Window.partitionBy("event_type", "user_id").orderBy("ts")
        )
        == 1
    ).cast("int")
    running = Window.partitionBy("event_type").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        t(spark, sf_dir, "events")
        .select("event_type", "ts", "user_id")
        .withColumn("is_new", is_new)
        .select(
            "event_type",
            "ts",
            F.sum("is_new").over(running).alias("running_users"),
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('day', f.cohort_week,
                       date_trunc('week', e.ts)) // 7 AS week_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id)
    SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
           week_offset,
           COUNT(*) AS active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week,
    counted once per (cohort, week-offset) they were active in.

    Plan: first_seen is one aggregate on user_id; the join back to
    events is a plain shuffled equi-join co-partitioned with that
    aggregate's user_id exchange — NO broadcast hint, because
    first_seen has one row per user and grows with the corpus (a
    forced broadcast would OOM at 100x users; AQE may still choose a
    broadcast when the table is measured small at runtime, and backs
    off when it is not).  The distinct + final rollup group on the
    small (cohort, offset) key space.  At 100 TB the only wide
    exchanges are the per-user MIN and the co-partitioned join."""
    e = t(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = (
        e.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.expr(
                "datediff(date_trunc('week', ts), cohort_week) DIV 7"
            ).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "heavy_hitters",
    oracle=f"""
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    tot AS (SELECT SUM(n) AS total FROM c)
    SELECT user_id, n,
           {round_half('CAST(n AS DOUBLE) / total', 6)} AS share
    FROM c, tot
    WHERE n > total / 200
    ORDER BY n DESC, user_id
    LIMIT 25
    """,
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys above 0.5% of total traffic — the skew diagnosis that decides
    whether a join/agg key needs salting (join_salted_skew /
    agg_salted_twophase are the remedies).  One partial-agg shuffle on
    the key + a 1-row broadcast total; at 100 TB run it on a
    sample_hash_mod slice first."""
    c = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.agg(F.sum("n").alias("total"))
    return (
        c.join(F.broadcast(tot))
        .filter(F.col("n") > F.col("total") / 200)
        .select(
            "user_id",
            "n",
            round_half(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), F.col("user_id"))
        .limit(25)
    )


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT r_name, l.n_name, l.n_customers
    FROM region r,
    LATERAL (
      SELECT n_name, COUNT(c_custkey) AS n_customers
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      WHERE n_regionkey = r.r_regionkey
      GROUP BY n_name
      ORDER BY n_customers DESC, n_name
      LIMIT 2
    ) l
    ORDER BY r_name, l.n_customers DESC, l.n_name
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL API (Spark 4
    supports LATERAL): top-2 nations by customer count per region.
    Catalyst decorrelates it into the same window-rank plan as the
    DataFrame top-k-per-group — the point is SQL-surface parity, not
    a new physical strategy."""
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    r = t(spark, sf_dir, "region")
    n.createOrReplaceTempView("v_nation_lat")
    c.createOrReplaceTempView("v_customer_lat")
    r.createOrReplaceTempView("v_region_lat")
    return spark.sql(
        """
        SELECT r_name, l.n_name, l.n_customers
        FROM v_region_lat r,
        LATERAL (
          SELECT n_name, COUNT(c_custkey) AS n_customers
          FROM v_nation_lat JOIN v_customer_lat ON c_nationkey = n_nationkey
          WHERE n_regionkey = r.r_regionkey
          GROUP BY n_name
          ORDER BY n_customers DESC, n_name
          LIMIT 2
        ) l
        ORDER BY r_name, l.n_customers DESC, l.n_name
        """
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (SELECT event_type, user_id, COUNT(*) AS n
               FROM events GROUP BY event_type, user_id)
    SELECT event_type, user_id AS mode_user, n
    FROM (SELECT event_type, user_id, n,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY n DESC, user_id) AS rk
          FROM c)
    WHERE rk = 1
    ORDER BY event_type
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a DETERMINISTIC tiebreak (most frequent
    user per event type; smallest id wins ties) — built-in mode() is
    tie-nondeterministic on both engines, so re-runs and engines can
    disagree.  Count + window-rank keeps it reproducible: one shuffle
    on the pair key, one on the group key."""
    c = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.col("n").desc(), F.col("user_id")
        )
    )
    return (
        c.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("user_id").alias("mode_user"), "n")
        .orderBy("event_type")
    )


@query(
    "agg_bool",
    oracle="""
    SELECT l_returnflag,
           BOOL_AND(l_discount <= 0.1) AS all_small_disc,
           BOOL_OR(l_quantity > 45) AS any_big_qty,
           COUNT(*) FILTER (WHERE l_tax = 0) AS n_tax_free
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) + filtered count — predicates
    fold into the partial aggregate, so the shuffle carries 3 booleans
    and a long per group."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bool_and(F.col("l_discount") <= 0.1).alias("all_small_disc"),
            F.bool_or(F.col("l_quantity") > 45).alias("any_big_qty"),
            F.count(F.when(F.col("l_tax") == 0, 1)).alias("n_tax_free"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "value_histogram",
    oracle="""
    SELECT CAST(FLOOR(value / 5) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi
    FROM events
    GROUP BY 1
    ORDER BY bucket
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (bucket = floor(value/5)): the
    one-pass distribution profile used to pick salt factors and spot
    outliers.  Bucketing is a scan-local expression; the aggregate
    shuffles only (bucket, partials)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.floor(F.col("value") / 5).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "interval_concurrency",
    oracle="""
    WITH edges AS (
      SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ts, 1 AS delta
      FROM orders
      UNION ALL
      SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) + INTERVAL 30 DAY, -1
      FROM orders
    ), swept AS (
      SELECT o_custkey,
             SUM(delta) OVER (PARTITION BY o_custkey ORDER BY ts, delta
                              ROWS UNBOUNDED PRECEDING) AS open_now
      FROM edges
    )
    SELECT o_custkey, CAST(MAX(open_now) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY o_custkey
    """,
)
def interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval overlap: max concurrently-open orders per
    customer, treating each order as a 30-day interval.  The classic
    scalable pattern — intervals explode to (+1 start, -1 end) edge
    events, a keyed running sum counts the open set, no interval
    self-join (which would be O(n^2) per key).  Ends sort before
    starts at equal timestamps (delta ascending), making [start, end)
    half-open on both engines."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("timestamp").alias("start_ts")
    )
    edges = o.select(
        "o_custkey", F.col("start_ts").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        o.select(
            "o_custkey",
            (F.col("start_ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit(-1).alias("delta"),
        )
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("o_custkey")
        .orderBy("ts", "delta")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        edges.withColumn("open_now", F.sum("delta").over(w))
        .groupBy("o_custkey")
        .agg(F.max("open_now").alias("max_concurrent"))
    )


@query(
    "sql_api_revenue",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY o_orderpriority
    """,
)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door end to end: tables registered as temp views
    (sources/tables.register_views), the query itself written in Spark
    SQL — same Catalyst plan as the DataFrame path, proving a SQL-only
    user needs nothing else.  The SQL string is shared semantics with
    the DuckDB oracle modulo quoting."""
    from instructions_mr_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        GROUP BY o_orderpriority
        """
    )


@query(
    "recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE up(id, cur, steps) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 500
      UNION ALL
      SELECT id, cur // 2, steps + 1 FROM up WHERE cur > 1
    )
    SELECT id, MAX(steps) AS depth, CAST(SUM(cur) AS BIGINT) AS chain_sum
    FROM up GROUP BY id
    """,
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4) transitive closure: every customer
    walks a synthetic parent chain (parent = id DIV 2, root 1) and
    reports its depth and ancestor-id sum — the org-hierarchy / BOM
    explosion shape that needed driver-side loops before recursive
    CTEs landed.  Each recursion step is one distributed self-join;
    depth is O(log id), so the plan unrolls ~9 steps here."""
    from instructions_mr_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE up(id, cur, steps) AS (
          SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 500
          UNION ALL
          SELECT id, cur DIV 2, steps + 1 FROM up WHERE cur > 1
        )
        SELECT id, MAX(steps) AS depth, SUM(cur) AS chain_sum
        FROM up GROUP BY id
        """
    )


@query(
    "sql_scripting_param",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_vip,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS vip_bal
    FROM customer WHERE c_acctbal > 9000.0
    GROUP BY c_mktsegment
    """,
)
def sql_scripting_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting + session variables (Spark 4): a BEGIN...END
    block declares the threshold once and the final statement's result
    is the block's output — parameterized SQL without string
    interpolation (injection-safe, plan-cache-friendly).  The oracle
    states the same query with the literal inlined."""
    from instructions_mr_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        BEGIN
          DECLARE vip_cutoff DOUBLE DEFAULT 9000.0;
          SELECT c_mktsegment, COUNT(*) AS n_vip,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   AS vip_bal
          FROM customer WHERE c_acctbal > vip_cutoff
          GROUP BY c_mktsegment;
        END
        """
    )


@query(
    "table_profile",
    oracle=f"""
    SELECT 'o_custkey' AS col, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_totalprice),
           CAST({round_half('MIN(o_totalprice)', 2)} AS VARCHAR),
           CAST({round_half('MAX(o_totalprice)', 2)} AS VARCHAR)
    FROM orders
    """,
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profile: per-column row/null/distinct counts and
    min/max (stringified for a uniform report schema) — the
    post-ingest quality report, computed as a SINGLE aggregate scan
    per profiled set (every stat for all columns shares one pass;
    contrast per-column DESCRIBE loops that rescan the table)."""
    o = t(spark, sf_dir, "orders")

    def stats(col: str, numeric: bool) -> list:
        mn = round_half(F.min(col), 2) if numeric else F.min(col)
        mx = round_half(F.max(col), 2) if numeric else F.max(col)
        return [
            F.count(F.lit(1)).alias(f"{col}__n"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias(f"{col}__nulls"),
            F.countDistinct(col).alias(f"{col}__nd"),
            mn.cast("string").alias(f"{col}__min"),
            mx.cast("string").alias(f"{col}__max"),
        ]

    cols = [("o_custkey", False), ("o_orderpriority", False), ("o_totalprice", True)]
    one = o.agg(*[a for c, num in cols for a in stats(c, num)])
    parts = []
    for c, _ in cols:
        parts.append(
            one.select(
                F.lit(c).alias("col"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_s"),
                F.col(f"{c}__max").alias("max_s"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# -------------------------------------------- last-touch attribution


@query(
    "event_attribution_last_touch",
    oracle="""
    WITH touches AS (
      SELECT user_id, ts, MAX(event_type) AS channel
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    attributed AS (
      SELECT p.event_id, t.channel
      FROM purchases p
      ASOF LEFT JOIN touches t
        ON p.user_id = t.user_id AND p.ts >= t.ts
    )
    SELECT COALESCE(channel, 'unattributed') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM attributed GROUP BY 1
    """,
)
def event_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase credits the
    user's most recent preceding click/view (the as-of-backward join
    the ads world runs at petabyte scale); purchases with no prior
    touch fall into 'unattributed'.  Touches are pre-reduced to one
    row per (user, instant) with a deterministic channel tie-break —
    the join_asof lesson: 'most recent' is underdetermined on ties
    and engines tiebreak differently.

    Scale shape: the asof join sorts within user partitions only (the
    operators/asof.py union-tag trick — one exchange keyed by user,
    no range join explosion); the rollup is a tiny channel aggregate.
    A production lookback window ('credit expires after 30 days') is
    one more filter on the matched pair."""
    from instructions_mr_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    touches = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("channel"))
        .select(F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts"), "channel")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, touches,
        on_time_left="ts", on_time_right="t_ts",
        by_left=["user_id"], by_right=["t_user"], how="left",
    )
    return joined.groupBy(
        F.coalesce("channel", F.lit("unattributed")).alias("channel")
    ).agg(F.count("*").alias("n_purchases"))


# ------------------------------------------------ session bounce rate

_SESS_GAP_S = 1800


@query(
    "session_bounce_rate",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR {duck_epoch('ts')}
                          - {duck_epoch('LAG(ts) OVER w')}
                          > {_SESS_GAP_S} * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    ),
    per_sess AS (
      SELECT user_id, sess_id, COUNT(*) AS n_events,
             split_part(MIN(lpad(CAST({duck_epoch('ts')} AS VARCHAR), 20, '0')
                 || '_' || lpad(CAST(event_id AS VARCHAR), 12, '0')
                 || '_' || event_type), '_', 3) AS first_type
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT first_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(n_events) AS BIGINT) AS n_events_total
    FROM per_sess GROUP BY first_type
    """,
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce-rate report by session entry type: sessionize each
    user's event stream with a {_SESS_GAP_S}s inactivity gap
    (gaps-and-islands — lag + running sum, the classic), then roll up
    sessions by their FIRST event's type, counting single-event
    sessions (bounces).  Entry-type bounce rates tell a product team
    which entry points lose users immediately; emitted as exact
    integer triples (sessions, bounces, events), never a rounded
    rate.

    Scale shape: both windows partition BY USER and order within the
    partition — one exchange keyed on user_id serves lag, running
    sum, and the per-session rollup (Catalyst reuses the
    partitioning); the first-event election is a tie-safe string-pack
    MIN (timestamp micros + event_id + type), not a second window.
    NTZ-safe time math (epoch micros through TIMESTAMP cast)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr(spark_epoch("ts"))
    lag_us = F.lag(us).over(w)
    new_sess = F.when(
        lag_us.isNull() | ((us - lag_us) > _SESS_GAP_S * 1_000_000), 1
    ).otherwise(0)
    sess = e.select(
        "user_id", "event_id", "event_type", "ts", new_sess.alias("new_sess")
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    pack = F.concat(
        F.lpad(F.expr(spark_epoch("ts")).cast("string"), 20, "0"),
        F.lit("_"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
        F.lit("_"),
        F.col("event_type"),
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.split_part(F.min(pack), F.lit("_"), F.lit(3)).alias("first_type"),
    )
    return per_sess.groupBy("first_type").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        F.sum("n_events").alias("n_events_total"),
    )


session_bounce_rate.__doc__ = (session_bounce_rate.__doc__ or "").replace(
    "{_SESS_GAP_S}", str(_SESS_GAP_S)
)


# ------------------------------------------- event transition matrix


@query(
    "event_transition_matrix",
    oracle="""
    WITH nxt AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
           CAST((n * 1000000) // SUM(n) OVER (PARTITION BY event_type)
                AS BIGINT) AS p_e6
    FROM c
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: LEAD within (user, time) gives the successor event, the
    (from, to) rollup gives counts, and each row's probability is its
    share of the from-type's outgoing mass.  The input to
    next-event-prediction baselines and to funnel-drop diagnostics
    (a high p(click -> error) row IS the bug report).

    Scale shape: the lead window partitions by user (one exchange —
    the same user-keyed partitioning every sessionization op here
    reuses); the rollup lands on the tiny (from, to) key space, and
    the share window runs over that already-small aggregate, not the
    event stream.  Deterministic: event_id breaks timestamp ties, and
    the probability is emitted as p_e6 integer units under one
    truncating division (the cross-engine tie-safety convention —
    never a rounded double final)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = nxt.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    share_w = Window.partitionBy("event_type")
    return c.select(
        "event_type",
        "next_type",
        "n",
        F.sum("n").over(share_w).alias("_den"),
    ).selectExpr(
        "event_type",
        "next_type",
        "n",
        "CAST((n * CAST(1000000 AS BIGINT)) div _den AS BIGINT) AS p_e6",
    )


# ---------------------------------------------- RFM customer scoring


@query(
    "customer_rfm_segments",
    oracle=f"""
    WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS refdate FROM orders),
    base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                       (SELECT refdate FROM ref)) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary_dec
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT custkey, recency_days, frequency,
             {round_half('CAST(monetary_dec AS DOUBLE)', 2)} AS monetary,
             NTILE(5) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency ASC, custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary_dec ASC, custkey) AS m_score
      FROM base
    )
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm_code
    FROM scored
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring — the
    classic marketing segmentation: per customer, days since last
    order relative to the corpus max date, order count, and exact
    DECIMAL revenue, each quintile-scored with NTILE(5) and packed
    into a 3-digit RFM code (555 = best).  Ties are broken by
    custkey so every quintile boundary is deterministic.

    Scale shape: one group-by on custkey produces the per-customer
    triple; the reference date is a 1-row broadcast aggregate (no
    separate collect job — the whole report is one action).  The
    three quintile scores are exact NTILE(5) but NEVER a global-order
    window: each runs the two-phase bucketed rank (two_phase_rank),
    with value-domain buckets — recency day (date-range bounded),
    frequency (basket-count bounded), monetary cents DIV 2^21 (~$21k
    steps over the bounded lifetime-revenue range) — then
    exact_ntile_sql converts rank -> quintile with the same tile
    sizes NTILE emits.  Monetary sums are DECIMAL-exact (order-free),
    rounded once for display."""
    from instructions_mr_spark.queries._util import exact_ntile_sql, two_phase_rank

    o = t(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("_refdate"))
    base = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("_lastd"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(12,2))")).alias(
                "monetary_dec"
            ),
        )
        .crossJoin(F.broadcast(ref))
        .withColumn("recency_days", F.datediff("_refdate", "_lastd"))
        .drop("_refdate", "_lastd")
    )
    s = two_phase_rank(
        base,
        -F.col("recency_days"),
        [F.col("recency_days").desc(), F.col("custkey")],
        rn_name="_rrn",
        n_name="_n",
    )
    s = two_phase_rank(
        s, F.col("frequency"), [F.col("frequency").asc(), F.col("custkey")],
        rn_name="_frn",
    )
    s = two_phase_rank(
        s,
        F.expr("CAST(monetary_dec * 100 AS BIGINT) DIV 2097152"),
        [F.col("monetary_dec").asc(), F.col("custkey")],
        rn_name="_mrn",
    )
    scored = s.select(
        "custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        "frequency",
        round_half(F.col("monetary_dec").cast("double"), 2).alias("monetary"),
        F.expr(exact_ntile_sql("_rrn", "_n", 5)).alias("r_score"),
        F.expr(exact_ntile_sql("_frn", "_n", 5)).alias("f_score"),
        F.expr(exact_ntile_sql("_mrn", "_n", 5)).alias("m_score"),
    )
    return scored.withColumn(
        "rfm_code",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    )


# --------------------------------------------- market-basket pairs

_COP_MIN_SUPPORT = 2


def _basket_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order basket table (l_orderkey, parts) with ``parts`` the
    SORTED distinct partkey set — the market-basket input of
    copurchase_pairs and copurchase_lift.

    Round 12 (optimization session 5): this replaced the shared
    (l_orderkey, l_partkey) DISTINCT.  The old pair plan was
    distinct (exchange on (ok, pk)) -> self-join on ok (one exchange
    per side — the (ok, pk) partitioning cannot serve an ok-keyed
    join) -> pair rollup: four corpus-scale exchanges.  Grouping to
    baskets first keys the ONE corpus exchange on l_orderkey
    (collect_set partially aggregates map-side, deduping before the
    shuffle exactly like the old distinct), and per-order pair
    generation becomes in-row array algebra — quadratic only in
    ORDER SIZE, which TPC-H (and any real basket) bounds by a small
    constant, so no exploding join and no skew key.  Pair set is
    IDENTICAL: sort_array(collect_set(pk)) enumerates exactly the
    (a < b) distinct co-occurrences the old a.pk < b.pk self-join
    produced (verified by exceptAll in both directions at sf0.1
    before the swap; both declared oracles unchanged and green)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )


def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-staged basket table for MULTI-consumer plans (the lift
    query reads it three times: order count, item counts, pairs) —
    the checkpoint guarantees the corpus groupBy runs exactly once
    regardless of exchange-reuse heuristics.  Single-consumer plans
    (copurchase_pairs) read _basket_plan directly: measured at sf0.1,
    the eager checkpoint materialization costs more than it buys when
    nothing re-reads the table (1.47 s -> 1.30 s inline, min-of-4)."""
    from instructions_mr_spark.queries._util import shared_checkpoint

    return shared_checkpoint(
        "order_baskets",
        spark,
        sf_dir,
        lambda: _basket_plan(spark, sf_dir),
    )


# In-row pair enumeration is QUADRATIC in basket size (VERDICT r12
# "What's wrong" #4): TPC-H bounds baskets at 7 distinct parts and any
# real order is small, but one pathological giant basket at 100 TB
# would silently materialize size^2/2 pair structs in a single row —
# an executor OOM with no actionable message.  The guard turns that
# into a loud per-row error naming the offending size.  At the cap the
# in-row array is ~8.4M pair structs (~a few hundred MB) — the most a
# healthy task absorbs; anything larger needs the hot orders pre-split
# (salt the basket into slices, enumerate cross-slice pairs as a join)
# rather than a bigger cap.
_BASKET_PAIR_CAP = 4096


def _basket_pairs(baskets: DataFrame) -> DataFrame:
    """Per-order (part_a < part_b) co-occurrence pairs from the sorted
    basket arrays: for each element x at index i, pair it with every
    LATER element (strictly greater — the array is sorted distinct),
    flatten, explode.  One row per (order, pair) — the same rows the
    old ok-keyed self-join emitted, without shuffling the corpus into
    a join.  Baskets above _BASKET_PAIR_CAP raise (see the cap note);
    the guard is one codegen'd int comparison per basket, fused into
    the CASE so column pruning can never drop it."""
    pairs_expr = (
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts) - i - 1),"
        " y -> struct(x AS a, y AS b))))"
    )
    guarded = (
        f"CASE WHEN size(parts) > {_BASKET_PAIR_CAP} THEN"
        f" raise_error(concat('copurchase basket exceeds the in-row"
        f" pair-enumeration cap: ', CAST(size(parts) AS STRING),"
        f" ' distinct parts > {_BASKET_PAIR_CAP} — pre-split hot orders"
        f" before pairing'))"
        f" ELSE {pairs_expr} END"
    )
    return (
        baskets.filter(F.size("parts") >= 2)
        .select(F.explode(F.expr(guarded)).alias("pr"))
        .select(F.col("pr.a").alias("part_a"), F.col("pr.b").alias("part_b"))
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared staged copurchase edge table (r9 verdict item #6): the
    support-counted (part_a, part_b, n_orders) pairs, built once per
    session and reused by every graph-family consumer (triangle
    count, HITS, conductance, degree CCDF) instead of each staging
    its own copy of the same distinct + self-join + rollup."""
    from instructions_mr_spark.queries._util import shared_checkpoint

    return shared_checkpoint(
        "copurchase_edges",
        spark,
        sf_dir,
        lambda: copurchase_pairs(spark, sf_dir),
    )


@query(
    "copurchase_pairs",
    oracle=f"""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM p a JOIN p b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= {_COP_MIN_SUPPORT}
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (the support-counting core of
    frequent-itemset / association-rule mining): parts co-occurring
    in the same order, deduped to one row per (order, part), paired
    within each order with part_a < part_b, and kept when the pair's
    order support reaches {_COP_MIN_SUPPORT}.  The output is the
    edge list 'customers who bought X also bought Y' ranks from.

    Scale shape (round 12, optimization session 5 — see
    _order_baskets): ONE corpus exchange keys the basket rollup on
    l_orderkey (collect_set dedupes map-side); per-order pair
    generation is in-row array algebra, quadratic only in ORDER
    SIZE, which TPC-H (and any real basket) bounds by a small
    constant, so candidate volume is linear in lineitems.  The
    support rollup shuffles bare integer pairs; hot pairs (promo
    bundles) are a salting candidate but the key space is wide
    enough that AQE's skew split covers it."""
    # single consumer of the basket table -> no checkpoint (see
    # _order_baskets); the graph family shares the RESULT of this
    # query via the copurchase_edges staged table instead
    return (
        _basket_pairs(_basket_plan(spark, sf_dir))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= _COP_MIN_SUPPORT)
    )


copurchase_pairs.__doc__ = (copurchase_pairs.__doc__ or "").replace(
    "{_COP_MIN_SUPPORT}", str(_COP_MIN_SUPPORT)
)


# ------------------------------------- assortment overlap (Jaccard)


@query(
    "supplier_assortment_overlap",
    oracle="""
    WITH m AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    sz AS (SELECT l_suppkey, COUNT(*) AS n FROM m GROUP BY 1),
    inter AS (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
             COUNT(*) AS n_common
      FROM m a JOIN m b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    )
    SELECT supp_a, supp_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST((n_common * 1000000) // (sa.n + sb.n - n_common)
                AS BIGINT) AS jaccard_e6
    FROM inter
    JOIN sz sa ON sa.l_suppkey = supp_a
    JOIN sz sb ON sb.l_suppkey = supp_b
    """,
)
def supplier_assortment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap between supplier part-assortments —
    the set-similarity matrix behind 'competing supplier' and
    audience-overlap analyses: |A intersect B| via a self-join on the
    shared element, |A union B| by inclusion-exclusion from the two
    set sizes, never materializing a union.

    Scale shape: the distinct keys on (supplier, part); the
    intersection self-join keys on PART (elements), so candidate
    pairs appear only where sets actually share an element — the
    sparse-dot-product identity that makes all-pairs Jaccard
    tractable (pair space touched is sum of per-element deg^2, not
    n^2 sets).  Set sizes are a per-supplier aggregate joined back
    hint-free (supplier-cardinality scales with sf; AQE broadcasts
    it while small) onto
    the pair rows.  A hot element (a part every supplier carries)
    quadratically inflates its candidate block — the standard fix at
    scale is dropping ubiquitous elements (df-cap), exactly the stop-
    word rule minhash pipelines use."""
    from instructions_mr_spark.queries._util import supersede_checkpoint

    li = t(spark, sf_dir, "lineitem")
    # staged once: sizes, and both self-join sides, read this table
    m = supersede_checkpoint(
        "assortment_members",
        li.select("l_suppkey", "l_partkey").distinct(),
    )
    sz = m.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    a = m.alias("a")
    b = m.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("supp_a"),
            F.col("b.l_suppkey").alias("supp_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("l_suppkey").alias("supp_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("l_suppkey").alias("supp_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "supp_a")
        .join(sb, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "n_common",
            "n_a",
            "n_b",
        )
        .selectExpr(
            "supp_a",
            "supp_b",
            "n_common",
            "n_a",
            "n_b",
            "CAST((n_common * CAST(1000000 AS BIGINT))"
            " div (n_a + n_b - n_common) AS BIGINT) AS jaccard_e6",
        )
    )


@query(
    "fd_candidate_audit",
    oracle="""
    WITH f1 AS (
      SELECT COUNT(DISTINCT o_custkey) AS nd FROM orders GROUP BY o_orderkey
    ), f2 AS (
      SELECT COUNT(DISTINCT o_orderpriority) AS nd FROM orders GROUP BY o_custkey
    ), f3 AS (
      SELECT COUNT(DISTINCT l_partkey) AS nd FROM lineitem
      GROUP BY l_orderkey, l_linenumber
    ), f4 AS (
      SELECT COUNT(DISTINCT l_suppkey) AS nd FROM lineitem GROUP BY l_partkey
    )
    SELECT 'o_orderkey->o_custkey' AS fd,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           CAST(MAX(nd) AS BIGINT) AS max_variants,
           MAX(nd) = 1 AS holds
    FROM f1
    UNION ALL
    SELECT 'o_custkey->o_orderpriority', COUNT(*),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(nd) AS BIGINT), MAX(nd) = 1
    FROM f2
    UNION ALL
    SELECT 'l_orderkey,l_linenumber->l_partkey', COUNT(*),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(nd) AS BIGINT), MAX(nd) = 1
    FROM f3
    UNION ALL
    SELECT 'l_partkey->l_suppkey', COUNT(*),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(nd) AS BIGINT), MAX(nd) = 1
    FROM f4
    """,
)
def fd_candidate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate FD X -> Y,
    count LHS groups, groups where Y is not single-valued
    (violations), and the worst fan-out — the schema-discovery /
    key-validation check a profiling pass runs before trusting merge
    keys or SCD grains (a fixed candidate list, not exponential
    TANE-style lattice search).

    Scale shape: one keyed aggregate per FD (countDistinct(Y) per X
    group — two-phase partial aggregation keeps the shuffle at
    distinct (X, Y) pairs), then a 1-row rollup per FD; FDs sharing an
    LHS prefix would batch into one grouping-sets pass."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    def audit(name: str, df: DataFrame, lhs: list, rhs: str) -> DataFrame:
        per = df.groupBy(*lhs).agg(F.countDistinct(rhs).alias("nd"))
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
            F.max("nd").cast("bigint").alias("max_variants"),
            (F.max("nd") == 1).alias("holds"),
        ).select("fd", "n_groups", "n_violations", "max_variants", "holds")

    return (
        audit("o_orderkey->o_custkey", o, ["o_orderkey"], "o_custkey")
        .unionAll(audit("o_custkey->o_orderpriority", o, ["o_custkey"], "o_orderpriority"))
        .unionAll(
            audit(
                "l_orderkey,l_linenumber->l_partkey",
                li,
                ["l_orderkey", "l_linenumber"],
                "l_partkey",
            )
        )
        .unionAll(audit("l_partkey->l_suppkey", li, ["l_partkey"], "l_suppkey"))
    )


# ------------------------------------------- revenue concentration


@query(
    "pareto_revenue_share",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    tiled AS (
      SELECT rev_cents,
             NTILE(10) OVER (ORDER BY rev_cents DESC, o_custkey) AS decile
      FROM rev
    ),
    d AS (
      SELECT decile, COUNT(*) AS n_customers, SUM(rev_cents) AS dec_cents
      FROM tiled GROUP BY 1
    ),
    tot AS (SELECT SUM(dec_cents) AS total_cents FROM d)
    SELECT decile, CAST(n_customers AS BIGINT) AS n_customers,
           CAST(dec_cents AS BIGINT) AS rev_cents,
           CAST((dec_cents * 1000000) // total_cents AS BIGINT) AS share_e6,
           CAST((SUM(dec_cents) OVER (ORDER BY decile
                                      ROWS UNBOUNDED PRECEDING) * 1000000)
                // total_cents AS BIGINT) AS cum_share_e6
    FROM d, tot
    """,
)
def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) report: customers ranked by
    lifetime revenue, tiled into deciles, each decile's share and
    cumulative share of total revenue — the 80/20 curve account teams
    and mixture designers both read.  Revenue is DECIMAL-exact cents
    (never a float sum), shares are e6 integer units under truncating
    division with DECIMAL(38,0) numerators (cents * 1e6 passes BIGINT
    at petabyte revenue totals; DuckDB's HUGEINT sum matches).

    Scale shape: one custkey group-by is the only corpus-sized
    exchange; the decile cut is exact NTILE(10) but never a
    global-order window — two_phase_rank over value-domain buckets
    (rev_cents DIV 2^21, ~$21k steps over the bounded lifetime-
    revenue range) + exact_ntile_sql rank arithmetic, so the rank
    runs bucket-parallel; decile rollup and shares run on 10 rows
    (the one remaining unpartitioned window — decile-domain
    bounded)."""
    from instructions_mr_spark.queries._util import exact_ntile_sql, two_phase_rank

    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)"
        ).alias("rev_cents")
    )
    tiled = two_phase_rank(
        rev,
        -F.expr("rev_cents DIV 2097152"),
        [F.col("rev_cents").desc(), F.col("o_custkey")],
        rn_name="_rn",
        n_name="_n",
    ).select(
        "rev_cents", F.expr(exact_ntile_sql("_rn", "_n", 10)).alias("decile")
    )
    d = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev_cents").alias("dec_cents"),
    )
    tot = d.agg(F.sum("dec_cents").alias("total_cents"))
    cum = F.sum("dec_cents").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.col("dec_cents").alias("rev_cents"),
            F.expr(
                "CAST((CAST(dec_cents AS DECIMAL(38,0)) * 1000000)"
                " div total_cents AS BIGINT)"
            ).alias("share_e6"),
            cum.alias("_cum"),
            "total_cents",
        )
        .selectExpr(
            "decile",
            "n_customers",
            "rev_cents",
            "share_e6",
            "CAST((CAST(_cum AS DECIMAL(38,0)) * 1000000) div total_cents"
            " AS BIGINT) AS cum_share_e6",
        )
    )


# ---------------------------------------- funnel time-to-convert


@query(
    "funnel_time_to_convert",
    oracle=f"""
    WITH fv AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    conv AS (
      SELECT fv.user_id, fv.first_view,
             MIN(CAST(e.ts AS TIMESTAMP)) AS first_purchase
      FROM fv LEFT JOIN events e
        ON e.user_id = fv.user_id AND e.event_type = 'purchase'
       AND CAST(e.ts AS TIMESTAMP) >= fv.first_view
      GROUP BY 1, 2
    )
    SELECT user_id % 8 AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_viewers,
           CAST(SUM(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           CAST(MIN({duck_epoch('first_purchase')} - {duck_epoch('first_view')})
                AS BIGINT) AS min_delta_us,
           CAST(MAX({duck_epoch('first_purchase')} - {duck_epoch('first_view')})
                AS BIGINT) AS max_delta_us,
           CAST(SUM({duck_epoch('first_purchase')} - {duck_epoch('first_view')})
                AS BIGINT) AS sum_delta_us
    FROM conv GROUP BY 1
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency report: per user, the first 'view' and the
    first 'purchase' at-or-after it; per user-bucket, viewer/converter
    counts and exact integer microsecond latency stats (min/max/sum —
    mean is the reader's one division; swap in approx_percentile for
    latency quantiles at scale).  The product-funnel timing signal
    next to funnel_sessions' step counts.

    Scale shape: two user-keyed exchanges (first-view aggregate, the
    purchase join + re-aggregate) — the join output is at most one row
    per (user, purchase), pre-filtered by the view-time predicate;
    the bucket rollup is 8 rows.  NTZ-safe: all time math through
    TIMESTAMP-cast epoch micros."""
    e = t(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        fv.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("first_view")),
            "left",
        )
        .groupBy("user_id", "first_view")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    delta = F.expr(spark_epoch("first_purchase")) - F.expr(spark_epoch("first_view"))
    return conv.groupBy((F.col("user_id") % 8).alias("user_bucket")).agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.sum(F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_converted"),
        F.min(delta).cast("bigint").alias("min_delta_us"),
        F.max(delta).cast("bigint").alias("max_delta_us"),
        F.sum(delta).cast("bigint").alias("sum_delta_us"),
    )


# ------------------------------- position-based (U-shaped) attribution


@query(
    "attribution_position_based",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS cum_p
      FROM events
    ),
    touches AS (
      SELECT user_id, event_id, event_type AS channel, ts,
             cum_p + 1 AS conv
      FROM ordered WHERE event_type IN ('click', 'view')
    ),
    convs AS (
      SELECT DISTINCT user_id, cum_p AS conv FROM ordered
      WHERE event_type = 'purchase'
    ),
    grp AS (
      SELECT t.user_id, t.conv, t.channel,
             ROW_NUMBER() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY t.user_id, t.conv) AS n
      FROM touches t JOIN convs c
        ON c.user_id = t.user_id AND c.conv = t.conv
      WINDOW w AS (PARTITION BY t.user_id, t.conv ORDER BY t.ts, t.event_id)
    ),
    credited AS (
      SELECT channel,
             CASE
               WHEN n = 1 THEN 10000
               WHEN n = 2 THEN 5000
               WHEN rn = 1 THEN 4000 + (2000 - (2000 // (n - 2)) * (n - 2))
               WHEN rn = n THEN 4000
               ELSE 2000 // (n - 2)
             END AS bp
      FROM grp
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(bp) AS BIGINT) AS credit_bp
    FROM credited GROUP BY 1
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    purchase's credit splits 40% / 20% / 40% across its touch
    journey's first / middle / last touches (the journey = touches
    since the user's previous purchase).  All credit is INTEGER basis
    points per conversion (10000 bp total): middles get the truncated
    even split and the first touch absorbs the remainder, so per-
    conversion credit sums to exactly 10000 on both engines — no
    fractional credit anywhere.  Complements the single-touch
    event_attribution_last_touch.

    Scale shape: ONE user-keyed exchange serves the running purchase
    counter, the journey windows (rank + size share the (user, conv)
    partitioning), and the join that keeps only converted journeys;
    the channel rollup is tiny.  Touches after a user's final
    purchase are unconverted journeys and drop at the join."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_p"),
    )
    touches = ordered.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "event_id",
        F.col("event_type").alias("channel"),
        "ts",
        (F.col("cum_p") + 1).alias("conv"),
    )
    convs = (
        ordered.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("cum_p").alias("conv"))
        .distinct()
    )
    gw = Window.partitionBy("user_id", "conv").orderBy("ts", "event_id")
    grp = (
        touches.join(convs, ["user_id", "conv"])
        .select(
            "channel",
            F.row_number().over(gw).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id", "conv"))
            .alias("n"),
        )
    )
    bp = F.expr(
        "CASE WHEN n = 1 THEN 10000 "
        "WHEN n = 2 THEN 5000 "
        "WHEN rn = 1 THEN 4000 + (2000 - (2000 div (n - 2)) * (n - 2)) "
        "WHEN rn = n THEN 4000 "
        "ELSE 2000 div (n - 2) END"
    )
    return grp.select("channel", bp.alias("bp")).groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("bp").cast("bigint").alias("credit_bp"),
    )


# ---------------------------------------------- hourly trend slope


@query(
    "trend_slope_by_type",
    oracle=f"""
    WITH h AS (
      SELECT event_type, {duck_epoch('ts', 'hour')} AS hidx,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type,
             hidx - (SELECT MIN(hidx) FROM h) AS xi, cnt AS yi
      FROM h
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(COUNT(*) * SUM(xi * yi) - SUM(xi) * SUM(yi) AS BIGINT)
             AS slope_num,
           CAST(COUNT(*) * SUM(xi * xi) - SUM(xi) * SUM(xi) AS BIGINT)
             AS slope_den,
           CAST(((COUNT(*) * SUM(xi * yi) - SUM(xi) * SUM(yi)) * 1000000)
                // (COUNT(*) * SUM(xi * xi) - SUM(xi) * SUM(xi))
                AS BIGINT) AS slope_e6
    FROM x GROUP BY event_type
    """,
)
def trend_slope_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly traffic trend: least-squares slope of events
    per ACTIVE hour vs hour index — the 'is this metric growing'
    monitor a pipeline dashboard computes per segment.  The
    regression runs entirely on integer sums (n*Sxy - Sx*Sy over
    n*Sxx - Sx^2 — both exact BIGINTs on hour-grid magnitudes), so
    the raw numerator/denominator are emitted alongside slope_e6
    under one truncating division; negative slopes truncate toward
    zero identically on both engines.

    Scale shape: one corpus-sized (type, hour) group-by; the
    regression sums aggregate the tiny per-type hour grid.  Hours
    are re-based to the corpus minimum so the integer products stay
    small; zero-traffic hours are excluded by construction (this is
    a trend over active hours — compose with ts_gap_fill's grid for
    the zero-filled variant)."""
    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.expr(spark_epoch("ts", "hour")).alias("hidx")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    m = h.agg(F.min("hidx").alias("h0"))
    x = h.crossJoin(F.broadcast(m)).select(
        "event_type", (F.col("hidx") - F.col("h0")).alias("xi"), F.col("cnt").alias("yi")
    )
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.expr("CAST(COUNT(*) * SUM(xi * yi) - SUM(xi) * SUM(yi) AS BIGINT)").alias(
            "slope_num"
        ),
        F.expr("CAST(COUNT(*) * SUM(xi * xi) - SUM(xi) * SUM(xi) AS BIGINT)").alias(
            "slope_den"
        ),
        F.expr(
            "CAST(((COUNT(*) * SUM(xi * yi) - SUM(xi) * SUM(yi))"
            " * CAST(1000000 AS BIGINT))"
            " div (COUNT(*) * SUM(xi * xi) - SUM(xi) * SUM(xi)) AS BIGINT)"
        ).alias("slope_e6"),
    )


# ------------------------------------------ bitmap segment algebra


@query(
    "segment_bitmap_intersect",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase,
           CAST((SELECT COUNT(*) FROM c JOIN p USING (user_id)) AS BIGINT)
             AS n_both,
           CAST((SELECT COUNT(*) FROM (SELECT user_id FROM c
                                       UNION SELECT user_id FROM p))
                AS BIGINT) AS n_either
    """,
)
def segment_bitmap_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index segment algebra: the click and purchase audiences
    as bit-packed membership bitmaps (32 users per BIGINT word — bit
    = user_id mod 32, word = user_id div 32, kept off the sign bit so
    both engines agree), intersected and unioned with AND/OR +
    popcount instead of a distinct-user join.  This is how OLAP
    engines (Druid/ClickHouse/Pinot, roaring bitmaps) answer audience
    overlap at interactive speed: segment AND segment is word-aligned
    bit math on |users|/32 rows, not a shuffle of user ids.

    The ORACLE deliberately computes the same four counts by the
    naive algorithm (DISTINCT + join + UNION) — two different
    algorithms must agree exactly, a stronger check than mirroring
    the bit math.

    Scale shape: one (type, word) group-by builds both bitmaps
    (shuffle carries (word, bits) pairs — 32x fewer rows than user
    ids); the intersect is a word-keyed full-outer join of the two
    word tables; popcount sums are a tiny aggregate.  At 100 TB the
    word tables partition by word range and the AND never touches the
    fact table again."""
    e = t(spark, sf_dir, "events")

    def bitmap(ev: str, alias: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == ev)
            .select(
                (F.col("user_id") % 32).cast("int").alias("bit"),
                F.expr("user_id div 32").alias("word"),
            )
            .groupBy("word")
            .agg(
                F.bit_or(F.expr("SHIFTLEFT(CAST(1 AS BIGINT), bit)")).alias(alias)
            )
        )

    c = bitmap("click", "cb")
    p = bitmap("purchase", "pb")
    j = c.join(p, "word", "full").select(
        F.coalesce("cb", F.lit(0)).alias("cb"),
        F.coalesce("pb", F.lit(0)).alias("pb"),
    )
    return j.agg(
        F.sum(F.bit_count("cb")).cast("bigint").alias("n_click"),
        F.sum(F.bit_count("pb")).cast("bigint").alias("n_purchase"),
        F.sum(F.bit_count(F.expr("cb & pb"))).cast("bigint").alias("n_both"),
        F.sum(F.bit_count(F.expr("cb | pb"))).cast("bigint").alias("n_either"),
    )


# ------------------------------- point-in-time (leakage-free) features


@query(
    "features_point_in_time",
    oracle="""
    SELECT o_orderkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS prior_n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w, 0)
                * 100 AS BIGINT) AS prior_spend_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """,
)
def features_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature computation — the feature-store primitive
    that keeps training data leakage-free: each order row carries the
    customer's order count and lifetime spend STRICTLY BEFORE that
    order (frame ends at 1 PRECEDING, so the label row never sees
    itself or its future).  Joining 'current' aggregates instead is
    the classic target-leakage bug this op exists to prevent.  Spend
    is DECIMAL-exact cents.

    Scale shape: one customer-keyed exchange serves both exclusive-
    frame windows (count + sum share the frame); deterministic order
    by (date, orderkey).  At 100 TB this is the same shape as any
    running aggregate — and the features land on the fact rows
    without a join."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dec = F.expr("CAST(o_totalprice AS DECIMAL(12,2))")
    return o.select(
        "o_orderkey",
        F.count(F.lit(1)).over(w).cast("bigint").alias("prior_n_orders"),
        (F.coalesce(F.sum(dec).over(w), F.lit(0)) * 100)
        .cast("bigint")
        .alias("prior_spend_cents"),
    )


# ------------------------------------------------ session entry paths


@query(
    "session_path_topk",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR {duck_epoch('ts')}
                          - {duck_epoch('LAG(ts) OVER w')}
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    ),
    stepped AS (
      SELECT user_id, sess_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
                                ORDER BY ts, event_id) AS step
      FROM sess
    ),
    paths AS (
      SELECT user_id, sess_id,
             string_agg(event_type, '>' ORDER BY step) AS path
      FROM stepped WHERE step <= 3 GROUP BY user_id, sess_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session entry paths: sessionize (30-min gap), take each
    session's first three event types as a '>'-joined path, rank the
    ten most common — the 'how do users actually start' report that
    complements event_transition_matrix's pairwise view with real
    multi-step sequences.

    Scale shape: the sessionize windows, step ranking, and per-session
    path rollup ALL share the single user-keyed exchange (Catalyst
    reuses the partitioning); the path frequency table is tiny
    (|event_types|^3 max) and top-10 is TakeOrderedAndProject.
    Deterministic: event_id breaks ts ties, path string breaks count
    ties."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr(spark_epoch("ts"))
    lag_us = F.lag(us).over(w)
    new_sess = F.when(
        lag_us.isNull() | ((us - lag_us) > 1800 * 1_000_000), 1
    ).otherwise(0)
    sess = e.select(
        "user_id", "event_id", "event_type", "ts", new_sess.alias("new_sess")
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    stepped = sess.withColumn(
        "step",
        F.row_number().over(
            Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
        ),
    ).filter(F.col("step") <= 3)
    paths = stepped.groupBy("user_id", "sess_id").agg(
        F.concat_ws(
            ">", F.array_sort(F.collect_list(F.struct("step", "event_type"))).getField("event_type")
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


# ------------------------------------------- join-size estimation


@query(
    "join_size_estimate",
    oracle="""
    WITH actual AS (
      SELECT COUNT(*) AS n
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ha AS (SELECT o_orderkey AS k, COUNT(*) AS na FROM orders GROUP BY 1),
    hb AS (SELECT l_orderkey AS k, COUNT(*) AS nb FROM lineitem GROUP BY 1),
    pred AS (
      SELECT CAST(SUM(na * nb) AS BIGINT) AS predicted,
             CAST(MAX(na * nb) AS BIGINT) AS max_key_rows
      FROM ha JOIN hb USING (k)
    )
    SELECT CAST(actual.n AS BIGINT) AS actual_rows,
           pred.predicted AS predicted_rows,
           pred.max_key_rows,
           actual.n = pred.predicted AS exact_match
    FROM actual, pred
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality prediction from per-key histograms — the
    planner statistic that decides broadcast vs shuffle vs salt
    BEFORE paying for the join: |A join B| = sum over shared keys of
    count_a * count_b, plus the hottest key's contribution (the skew
    red flag).  The op computes the prediction from the two
    histograms AND executes the join to count the truth; exact_match
    certifies the identity (and the oracle recomputes both sides
    independently).  With approx_count_distinct histograms the same
    shape becomes a sampled estimator at 100 TB.

    Scale shape: two per-key count aggregates (map-side partial) and
    one histogram-sized join — the ACTUAL join here is the
    verification, not the product; a planner would run only the
    histogram legs."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    actual = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ha = o.groupBy(F.col("o_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("na"))
    hb = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("nb"))
    pred = ha.join(hb, "k").agg(
        F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("predicted"),
        F.max(F.col("na") * F.col("nb")).cast("bigint").alias("max_key_rows"),
    )
    return actual.crossJoin(F.broadcast(pred)).select(
        F.col("n").cast("bigint").alias("actual_rows"),
        F.col("predicted").alias("predicted_rows"),
        "max_key_rows",
        (F.col("n") == F.col("predicted")).alias("exact_match"),
    )


# ------------------------------------- deterministic negative sampling


@query(
    "negative_sampling_pairs",
    oracle=f"""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    mx AS (SELECT MAX(l_partkey) AS maxp FROM lineitem),
    cand AS (
      SELECT cust, part,
             ({duck_hash("CAST(cust AS VARCHAR) || ':' || CAST(part AS VARCHAR)"
                         " || ':' || CAST(j AS VARCHAR)", 17)}
              % (maxp + 1)) AS neg_part
      FROM pos, mx, (SELECT unnest([0, 1]) AS j)
    ),
    kept AS (
      SELECT c.cust, c.neg_part
      FROM cand c LEFT JOIN pos p
        ON p.cust = c.cust AND p.part = c.neg_part
      WHERE p.part IS NULL
    ),
    posb AS (
      SELECT cust % 16 AS cust_bucket, COUNT(*) AS n_positives
      FROM pos GROUP BY 1
    ),
    candb AS (
      SELECT cust % 16 AS cust_bucket, COUNT(*) AS n_candidates
      FROM cand GROUP BY 1
    ),
    keptb AS (
      SELECT cust % 16 AS cust_bucket, COUNT(*) AS n_negatives_kept
      FROM kept GROUP BY 1
    )
    SELECT p.cust_bucket,
           CAST(p.n_positives AS BIGINT) AS n_positives,
           CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(k.n_negatives_kept, 0) AS BIGINT) AS n_negatives_kept
    FROM posb p
    LEFT JOIN candb c ON c.cust_bucket = p.cust_bucket
    LEFT JOIN keptb k ON k.cust_bucket = p.cust_bucket
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender training data:
    each observed (customer, part) positive spawns 2 pseudo-random
    negative part candidates via the portable md5-derived h32 (seeded
    per (cust, part, j) — REPRODUCIBLE across runs and engines, the
    property df.sample never gives), keeping candidates the customer
    never actually bought (anti join back onto the positives).
    Reported per customer bucket: positives, candidates drawn,
    negatives surviving the collision filter.

    Scale shape: positives are one distinct projection of the
    orders-lineitem join; candidate generation is in-row hash math
    (explode by 2); the collision filter is a (cust, part)-keyed anti
    join — the same digest-keyed shape every dedup op here uses.  At
    100 TB the positives table is bucketed by cust and both the
    explode and anti join stay co-partitioned."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    mx = li.agg(F.max("l_partkey").alias("maxp"))
    h = spark_hash(
        "CAST(cust AS STRING) || ':' || CAST(part AS STRING) || ':' || CAST(j AS STRING)",
        17,
    )
    cand = (
        pos.crossJoin(F.broadcast(mx))
        .select("cust", "part", "maxp", F.explode(F.array(F.lit(0), F.lit(1))).alias("j"))
        .selectExpr("cust", f"{h} % (maxp + 1) AS neg_part")
    )
    kept = cand.join(
        pos.select("cust", F.col("part").alias("neg_part")),
        ["cust", "neg_part"],
        "left_anti",
    )
    posb = pos.groupBy((F.col("cust") % 16).alias("cust_bucket")).agg(
        F.count(F.lit(1)).alias("n_positives")
    )
    candb = cand.groupBy((F.col("cust") % 16).alias("cust_bucket")).agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    keptb = kept.groupBy((F.col("cust") % 16).alias("cust_bucket")).agg(
        F.count(F.lit(1)).alias("n_negatives_kept")
    )
    return (
        posb.join(candb, "cust_bucket", "left")
        .join(keptb, "cust_bucket", "left")
        .select(
            "cust_bucket",
            F.col("n_positives").cast("bigint").alias("n_positives"),
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("n_negatives_kept", F.lit(0))
            .cast("bigint")
            .alias("n_negatives_kept"),
        )
    )


# ------------------------------------------------- skyline (Pareto)


@query(
    "skyline_price_size",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    )
    SELECT p_partkey, price_cents, size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_cents <= a.price_cents AND b.size >= a.size
        AND (b.price_cents < a.price_cents OR b.size > a.size)
    )
    ORDER BY price_cents, size DESC, p_partkey
    """,
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query: parts not dominated on
    (minimize retail price, maximize size) — the multi-criteria
    shortlist operator (Borzsony/Kossmann/Stocker 2001) product
    search and supplier selection run.  Spark computes it with the
    sort-filter identity instead of the quadratic dominance test: any
    dominator sorts strictly earlier under (price asc, size desc), so
    a row survives iff no strictly-cheaper row reaches its size
    (value-RANGE running max) and no equal-price row exceeds it
    (price-partition max).  The ORACLE runs the naive NOT EXISTS
    dominance scan — two different algorithms must agree.

    Scale shape: two windows over one price-ordered exchange
    (global-order on the SMALL dim table; for a fact-sized skyline,
    range-partition by price and merge per-partition skylines — the
    standard distributed-skyline recipe).  All-integer columns."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr("CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)").alias(
            "price_cents"
        ),
        F.col("p_size").cast("bigint").alias("size"),
    )
    w_lt = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("price_cents")
    flagged = p.select(
        "p_partkey",
        "price_cents",
        "size",
        F.max("size").over(w_lt).alias("m_lt"),
        F.max("size").over(w_eq).alias("m_eq"),
    )
    return (
        flagged.filter(
            (F.col("m_lt").isNull() | (F.col("m_lt") < F.col("size")))
            & (F.col("m_eq") == F.col("size"))
        )
        .select("p_partkey", "price_cents", "size")
        .orderBy("price_cents", F.col("size").desc(), "p_partkey")
    )


# ------------------------------------------------ ABC classification


@query(
    "abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT l_partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             (SELECT SUM(cents) FROM rev) AS total_cents
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN 100 * cum_cents <= 80 * total_cents THEN 'A'
                  WHEN 100 * cum_cents <= 95 * total_cents THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM cum
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents
    FROM classed GROUP BY abc_class
    """,
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A
    until the running share passes 80%, B until 95%, C after — the
    per-ITEM complement of pareto_revenue_share's decile view, and
    the rule procurement teams actually stock by.  The class
    boundaries are integer cross-multiplies (100*cum <= p*total), so
    no float share is ever compared.

    Scale shape: one partkey group-by (DECIMAL-exact cents); the
    cumulative ranking is the two-phase prefix sum (two_phase_cumsum:
    per-revenue-range-bucket running sums + broadcast bucket offsets
    — value-domain cents DIV 2^22 buckets, bounded because per-part
    lineitem fan-in is basket-bounded), never a single global-order
    window; class rollup is 3 rows."""
    from instructions_mr_spark.queries._util import two_phase_cumsum

    li = t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    cum = two_phase_cumsum(
        rev,
        -F.expr("cents DIV 4194304"),
        [F.col("cents").desc(), F.col("l_partkey")],
        "cents",
        out="cum_cents",
        total_name="total_cents",
    )
    classed = cum.select(
        F.expr(
            "CASE WHEN 100 * cum_cents <= 80 * total_cents THEN 'A' "
            "WHEN 100 * cum_cents <= 95 * total_cents THEN 'B' "
            "ELSE 'C' END"
        ).alias("abc_class"),
        "cents",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("class_cents"),
    )


# ----------------------------------------- experiment assignment + SRM


@query(
    "experiment_assignment_srm",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    assigned AS (
      SELECT user_id, user_id % 4 AS stratum,
             CASE WHEN {duck_hash("CAST(user_id AS VARCHAR) || ':exp1#29'")} % 2 = 0
                  THEN 'control' ELSE 'treat' END AS arm
      FROM u
    ),
    counts AS (
      SELECT stratum,
             SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS n_control,
             SUM(CASE WHEN arm = 'treat' THEN 1 ELSE 0 END) AS n_treat
      FROM assigned GROUP BY 1
    )
    SELECT stratum,
           CAST(n_control AS BIGINT) AS n_control,
           CAST(n_treat AS BIGINT) AS n_treat,
           ABS(n_control - n_treat) * 10 > (n_control + n_treat) AS srm_flag
    FROM counts
    """,
)
def experiment_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic experiment bucketing + sample-ratio-mismatch
    screen: users land in control/treat by the portable h32 of
    (user, experiment) — sticky across runs, engines, and restarts,
    which df.sample/rand() assignments are not — and each stratum is
    flagged when the arm imbalance exceeds 10% of its population
    (the integer cross-multiply |c - t| * 10 > c + t; a real SRM
    gate swaps in the chi-square threshold, same shape).  SRM is the
    first sanity check every experimentation platform runs before
    reading a metric.

    Scale shape: one distinct-user aggregate, in-row hash
    assignment, a (stratum)-keyed rollup — nothing else touches the
    fact table."""
    e = t(spark, sf_dir, "events")
    u = e.select("user_id").distinct()
    h = spark_hash("CAST(user_id AS STRING) || ':exp1'", 29)
    assigned = u.selectExpr(
        "user_id",
        "user_id % 4 AS stratum",
        f"CASE WHEN {h} % 2 = 0 THEN 'control' ELSE 'treat' END AS arm",
    )
    counts = assigned.groupBy("stratum").agg(
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0)).alias("n_control"),
        F.sum(F.when(F.col("arm") == "treat", 1).otherwise(0)).alias("n_treat"),
    )
    return counts.select(
        "stratum",
        F.col("n_control").cast("bigint").alias("n_control"),
        F.col("n_treat").cast("bigint").alias("n_treat"),
        (
            F.abs(F.col("n_control") - F.col("n_treat")) * 10
            > (F.col("n_control") + F.col("n_treat"))
        ).alias("srm_flag"),
    )


# -------------------------------------------- rare-category collapse


@query(
    "rare_category_collapse",
    oracle="""
    WITH cat AS (
      SELECT json_extract_string(props, '$.k') AS k, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS total FROM cat),
    mapped AS (
      SELECT CASE WHEN n * 100 >= total THEN k ELSE '__other__' END AS category,
             n
      FROM cat, tot
    )
    SELECT category,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_source_values
    FROM mapped GROUP BY category
    """,
)
def rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-tail categorical collapse — the feature-encoding standard
    before one-hot/embedding layers: categories carrying at least
    1/100th of the rows keep their identity, everything rarer folds
    into '__other__' (with the count of distinct source values it
    absorbed, the cardinality-reduction report).  The threshold is an
    integer cross-multiply (n * 100 >= total), never a float share.
    Unbounded-cardinality features (user agents, query strings) are
    exactly where training pipelines blow up without this pass.

    Scale shape: one category group-by is the only corpus-sized
    exchange; the collapse decision and re-rollup run on the
    category-count table with the 1-row total broadcast."""
    e = t(spark, sf_dir, "events")
    cat = e.select(
        F.get_json_object("props", "$.k").alias("k")
    ).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    tot = cat.agg(F.sum("n").alias("total"))
    mapped = cat.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("n") * 100 >= F.col("total"), F.col("k"))
        .otherwise(F.lit("__other__"))
        .alias("category"),
        "n",
    )
    return mapped.groupBy("category").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_source_values"),
    )


# ------------------------------------------------ weekly seasonality


@query(
    "seasonality_profile",
    oracle=f"""
    WITH g AS (
      SELECT {duck_epoch('ts', 'day')} % 7 AS dow_idx,
             {duck_epoch('ts', 'hour')} % 24 AS hour_of_day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT dow_idx, hour_of_day, CAST(n AS BIGINT) AS n,
           n = MAX(n) OVER (PARTITION BY dow_idx) AS is_peak_hour
    FROM g
    """,
)
def seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality matrix: traffic per (day-of-week, hour)
    cell with each day's peak hour flagged — the capacity-planning /
    anomaly-baseline profile.  Day and hour indices come from PURE
    INTEGER epoch arithmetic ((epoch_us div day) mod 7, (epoch_us div
    hour) mod 24) rather than calendar functions, because dayofweek
    numbering conventions differ across engines (Spark counts 1 =
    Sunday, DuckDB dow counts 0 = Sunday) — integer math cannot
    disagree.  dow_idx 0 is the epoch's own weekday (a Thursday),
    documented rather than renamed.

    Scale shape: one corpus-sized (dow, hour) group-by; the peak
    window runs over the 168-row matrix."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    g = e.select(
        (F.expr(spark_epoch("ts", "day")) % 7).alias("dow_idx"),
        (F.expr(spark_epoch("ts", "hour")) % 24).alias("hour_of_day"),
    ).groupBy("dow_idx", "hour_of_day").agg(F.count(F.lit(1)).alias("n"))
    return g.select(
        "dow_idx",
        "hour_of_day",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n") == F.max("n").over(Window.partitionBy("dow_idx"))).alias(
            "is_peak_hour"
        ),
    )


# -------------------------------------- metric change decomposition


@query(
    "metric_change_contribution",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN({duck_epoch('ts')}) AS lo,
             MAX({duck_epoch('ts')}) AS hi
      FROM events
    ),
    halves AS (
      SELECT event_type,
             CASE WHEN 2 * ({duck_epoch('ts')} - lo)
                       < hi - lo THEN 1 ELSE 2 END AS half,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events, bounds
    ),
    seg AS (
      SELECT event_type,
             SUM(CASE WHEN half = 1 THEN cents ELSE 0 END) AS cents_h1,
             SUM(CASE WHEN half = 2 THEN cents ELSE 0 END) AS cents_h2
      FROM halves GROUP BY event_type
    )
    SELECT event_type,
           CAST(cents_h1 AS BIGINT) AS cents_h1,
           CAST(cents_h2 AS BIGINT) AS cents_h2,
           CAST(cents_h2 - cents_h1 AS BIGINT) AS delta_cents,
           CAST(SUM(cents_h2 - cents_h1) OVER () AS BIGINT) AS total_delta_cents
    FROM seg
    """,
)
def metric_change_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change decomposition — the 'why did the
    metric move' report: total value split into the first and second
    half of the time range per segment, each segment's delta next to
    the corpus-wide delta, so contribution = delta/total is one
    division away and the segments provably SUM to the total (the
    additivity audit dashboards break when filters drift).  All
    integer cents; the half boundary is an integer cross-multiply on
    epoch micros (2*(t - lo) < hi - lo), no float midpoint.

    Scale shape: one corpus-sized (segment, half) conditional
    aggregate with the 2-value bounds row broadcast; the window runs
    over the segment table."""
    e = t(spark, sf_dir, "events")
    us = F.expr(spark_epoch("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi"))
    halves = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(2 * (us - F.col("lo")) < F.col("hi") - F.col("lo"), 1)
        .otherwise(2)
        .alias("half"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    seg = halves.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 1, F.col("cents")).otherwise(0)).alias(
            "cents_h1"
        ),
        F.sum(F.when(F.col("half") == 2, F.col("cents")).otherwise(0)).alias(
            "cents_h2"
        ),
    )
    from pyspark.sql import Window

    return seg.select(
        "event_type",
        F.col("cents_h1").cast("bigint").alias("cents_h1"),
        F.col("cents_h2").cast("bigint").alias("cents_h2"),
        (F.col("cents_h2") - F.col("cents_h1")).cast("bigint").alias("delta_cents"),
        F.sum(F.col("cents_h2") - F.col("cents_h1"))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("total_delta_cents"),
    )


# ------------------------------------------------ churn label table


@query(
    "churn_label_table",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN({duck_epoch('ts')}) AS lo,
             MAX({duck_epoch('ts')}) AS hi
      FROM events
    ),
    marked AS (
      SELECT user_id,
             CASE WHEN 2 * ({duck_epoch('ts')} - lo)
                       < hi - lo THEN 1 ELSE 2 END AS half
      FROM events, bounds
    ),
    activity AS (
      SELECT user_id,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_h1,
             SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS n_h2
      FROM marked GROUP BY user_id
    )
    SELECT user_id % 8 AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_active_h1,
           CAST(SUM(CASE WHEN n_h2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned,
           CAST(SUM(n_h1) AS BIGINT) AS events_h1
    FROM activity WHERE n_h1 > 0 GROUP BY 1
    """,
)
def churn_label_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn label generation — the supervised-learning target the
    retention model trains on: users active in the observation window
    (first half of the range) labeled churned iff silent in the
    outcome window (second half).  The period boundary is the same
    integer cross-multiply as metric_change_contribution (no float
    midpoint), and the label definition is PIT-safe by construction:
    features may only come from the observation window
    (features_point_in_time is the companion), the label only from
    the outcome window.

    Scale shape: one user-keyed conditional aggregate; the bucket
    rollup is 8 rows.  In production the two windows slide — the
    query shape is identical per snapshot date."""
    e = t(spark, sf_dir, "events")
    us = F.expr(spark_epoch("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi"))
    marked = e.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(2 * (us - F.col("lo")) < F.col("hi") - F.col("lo"), 1)
        .otherwise(2)
        .alias("half"),
    )
    activity = marked.groupBy("user_id").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_h1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("n_h2"),
    )
    return (
        activity.filter(F.col("n_h1") > 0)
        .groupBy((F.col("user_id") % 8).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active_h1"),
            F.sum(F.when(F.col("n_h2") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_churned"),
            F.sum("n_h1").cast("bigint").alias("events_h1"),
        )
    )


@query(
    "experiment_uplift_report",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    assigned AS (
      SELECT user_id, user_id % 4 AS stratum,
             CASE WHEN {duck_hash("CAST(user_id AS VARCHAR) || ':exp1#29'")} % 2 = 0
                  THEN 'control' ELSE 'treat' END AS arm
      FROM u
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT a.stratum, a.arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted
    FROM assigned a LEFT JOIN conv c ON c.user_id = a.user_id
    GROUP BY a.stratum, a.arm
    """,
)
def experiment_uplift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm conversion report — the readout that follows
    experiment_assignment_srm's sanity gate: users per (stratum, arm)
    with how many converted (>= 1 purchase), as raw integer counts so
    uplift (and its confidence interval) is computed downstream from
    exact numerators, never from pre-rounded rates.  Shares the
    sticky hash assignment verbatim, so the two queries always
    describe the same experiment population.

    Scale shape: distinct-user and distinct-converter aggregates, a
    user-keyed left join, an 8-row rollup."""
    e = t(spark, sf_dir, "events")
    u = e.select("user_id").distinct()
    h = spark_hash("CAST(user_id AS STRING) || ':exp1'", 29)
    assigned = u.selectExpr(
        "user_id",
        "user_id % 4 AS stratum",
        f"CASE WHEN {h} % 2 = 0 THEN 'control' ELSE 'treat' END AS arm",
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    return (
        assigned.join(conv, "user_id", "left")
        .groupBy("stratum", "arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.coalesce("converted", F.lit(0))).cast("bigint").alias(
                "n_converted"
            ),
        )
    )


# --------------------------------------- time-decay attribution


@query(
    "attribution_time_decay",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             {duck_epoch('ts')} AS tsu,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS cum_p
      FROM events
    ),
    touches AS (
      SELECT user_id, event_id, event_type AS channel, tsu,
             cum_p + 1 AS conv
      FROM ordered WHERE event_type IN ('click', 'view')
    ),
    convs AS (
      SELECT user_id, cum_p AS conv, MIN(tsu) AS p_tsu
      FROM ordered WHERE event_type = 'purchase'
      GROUP BY user_id, cum_p
    ),
    weighted AS (
      SELECT t.channel,
             CASE WHEN (c.p_tsu - t.tsu) // 3600000000 >= 8 THEN 1
                  ELSE 1 << CAST(8 - (c.p_tsu - t.tsu) // 3600000000
                                 AS INTEGER) END AS w
      FROM touches t JOIN convs c
        ON c.user_id = t.user_id AND c.conv = t.conv
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(w) AS BIGINT) AS weight_total
    FROM weighted GROUP BY channel
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution — the third member of the attribution
    family (after last-touch and U-shaped): each touch in a journey
    earns weight 2^(8 - hours-before-purchase), floored at 1 past 8
    hours — halving per hour of staleness.  Because the decay base is
    2 and the exponent an INTEGER hour gap, every weight is an exact
    integer (the dyadic trick window_ewma_dyadic uses) — no float
    exponentials, no engine drift; per-channel totals are raw weight
    sums a reader normalizes.

    Scale shape: one user-keyed exchange for the running purchase
    counter and journey join (same skeleton as
    attribution_position_based); the weight is in-row bit math."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr(spark_epoch("ts"))
    ordered = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        us.alias("tsu"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_p"),
    )
    touches = ordered.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        "tsu",
        (F.col("cum_p") + 1).alias("conv"),
    )
    convs = (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("cum_p").alias("conv"))
        .agg(F.min("tsu").alias("p_tsu"))
    )
    weighted = touches.join(convs, ["user_id", "conv"]).selectExpr(
        "channel",
        "CASE WHEN (p_tsu - tsu) div 3600000000 >= 8 THEN CAST(1 AS BIGINT) "
        "ELSE SHIFTLEFT(CAST(1 AS BIGINT), "
        "CAST(8 - (p_tsu - tsu) div 3600000000 AS INT)) END AS w",
    )
    return weighted.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("w").cast("bigint").alias("weight_total"),
    )


# ------------------------------------- sequential pattern support


@query(
    "sequence_pattern_support",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR {duck_epoch('ts')}
                          - {duck_epoch('LAG(ts) OVER w')}
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    ),
    firsts AS (
      SELECT user_id, sess_id, event_type,
             MIN(lpad(CAST({duck_epoch('ts')} AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS first_key
      FROM sess GROUP BY user_id, sess_id, event_type
    ),
    n_sess AS (SELECT COUNT(DISTINCT (user_id, sess_id)) AS total FROM sess)
    SELECT a.event_type AS first_type, b.event_type AS then_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST((SELECT total FROM n_sess) AS BIGINT) AS total_sessions
    FROM firsts a JOIN firsts b
      ON a.user_id = b.user_id AND a.sess_id = b.sess_id
     AND a.event_type <> b.event_type AND a.first_key < b.first_key
    GROUP BY 1, 2
    """,
)
def sequence_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support (the 2-item case of GSP/PrefixSpan
    counting): for every ordered type pair (A then B), how many
    30-min sessions contain A's FIRST occurrence before B's — the
    sequence-containment statistic the adjacent-only transition
    matrix cannot express (A ... X ... B still counts here).  Each
    session contributes at most once per pattern (first-occurrence
    semantics), with the string-packed (ts, event_id) key as the
    tie-safe ordering.

    Scale shape: sessionization shares the user-keyed exchange;
    firsts is one (session, type) aggregate; the pattern join is
    per-session over at most |types| rows each side; output is
    |types|^2 with the session total attached for support ratios."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr(spark_epoch("ts"))
    lag_us = F.lag(us).over(w)
    new_sess = F.when(
        lag_us.isNull() | ((us - lag_us) > 1800 * 1_000_000), 1
    ).otherwise(0)
    sess = e.select(
        "user_id", "event_id", "event_type", "ts", new_sess.alias("new_sess")
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    firsts = sess.groupBy("user_id", "sess_id", "event_type").agg(
        F.min(
            F.concat(
                F.lpad(F.expr(spark_epoch("ts")).cast("string"), 20, "0"),
                F.lpad(F.col("event_id").cast("string"), 12, "0"),
            )
        ).alias("first_key")
    )
    total = sess.select("user_id", "sess_id").distinct().agg(
        F.count(F.lit(1)).alias("total")
    )
    a, b = firsts.alias("a"), firsts.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess_id") == F.col("b.sess_id"))
            & (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.first_key") < F.col("b.first_key")),
        )
        .groupBy(
            F.col("a.event_type").alias("first_type"),
            F.col("b.event_type").alias("then_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "first_type",
            "then_type",
            "n_sessions",
            "CAST(total AS BIGINT) AS total_sessions",
        )
    )


# --------------------------------- leave-one-out target encoding


@query(
    "target_encoding_loo",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    enc AS (
      SELECT event_type,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM base GROUP BY event_type
    )
    SELECT b.event_id, b.event_type,
           CAST(e.sum_cents - b.cents AS BIGINT) AS loo_num_cents,
           CAST(NULLIF(e.n_rows - 1, 0) AS BIGINT) AS loo_den
    FROM base b JOIN enc e USING (event_type)
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against the
    monetary target — the feature-engineering transform that replaces
    a categorical with the mean target of its OTHER members, the
    standard guard against the self-leakage a plain group-mean join
    would inject into training rows.  Emitted as exact integer
    sufficient statistics (numerator cents, denominator count) per
    the repo convention — the consumer divides; a singleton category
    yields NULL denominator (no peers, honest missing).

    Scale shape: the encoding table is one |types|-row aggregate,
    broadcast back onto the fact scan — the LOO subtraction is then
    per-row arithmetic inside the scan stage, so the whole transform
    costs one map-side aggregate plus zero fact-table shuffles."""
    base = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    enc = base.groupBy("event_type").agg(
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return base.join(F.broadcast(enc), "event_type").select(
        "event_id",
        "event_type",
        (F.col("sum_cents") - F.col("cents"))
        .cast("bigint")
        .alias("loo_num_cents"),
        F.nullif(F.col("n_rows") - 1, F.lit(0))
        .cast("bigint")
        .alias("loo_den"),
    )


# ------------------------------------ CUSUM changepoint detection


@query(
    "cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, hour_start, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY hour_start
                          ROWS UNBOUNDED PRECEDING) AS pre,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hour_start) AS k,
             SUM(c) OVER (PARTITION BY event_type) AS total,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly
    ),
    scored AS (
      SELECT event_type, hour_start,
             ABS(n * pre - k * total) AS s,
             n, total,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(n * pre - k * total) DESC,
                                         hour_start ASC) AS rn
      FROM series
    )
    SELECT event_type,
           CAST(hour_start AS TIMESTAMP) AS change_hour,
           CAST(s AS BIGINT) AS max_scaled_cusum,
           CAST(n AS BIGINT) AS n_buckets,
           CAST(total AS BIGINT) AS total_events
    FROM scored WHERE rn = 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint candidate per event series: bucket events
    hourly, accumulate deviations from the series mean, and report
    the hour where |CUSUM| peaks — the classic single-changepoint
    location statistic (Page 1954; peak of S_k = sum_{i<=k}(c_i -
    mean)).  Scaled by n so everything stays integer: n * S_k =
    n * prefix_k - k * total — zero float drift, and the earliest
    hour wins exact ties deterministically.

    Scale shape: the hourly rollup is the only corpus-sized
    aggregate; the prefix/ranking windows run per-series on
    bucket-count rows sharing one event_type hash partitioning.  A
    flat series scores low, a level shift scores ~ n * shift * k —
    the monitor thresholds downstream."""
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("hour_start")
    wp = Window.partitionBy("event_type")
    series = hourly.select(
        "event_type",
        "hour_start",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pre"),
        F.row_number().over(w).alias("k"),
        F.sum("c").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    s = F.abs(F.col("n") * F.col("pre") - F.col("k") * F.col("total"))
    scored = series.select(
        "event_type",
        "hour_start",
        s.alias("s"),
        "n",
        "total",
        F.row_number()
        .over(w.orderBy(s.desc(), F.col("hour_start").asc()))
        .alias("rn"),
    )
    return scored.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("hour_start").alias("change_hour"),
        F.col("s").cast("bigint").alias("max_scaled_cusum"),
        F.col("n").cast("bigint").alias("n_buckets"),
        F.col("total").cast("bigint").alias("total_events"),
    )


# ---------------------------------------- DAU/WAU stickiness


@query(
    "dau_wau_stickiness",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT
             {duck_epoch('ts', 'day')} AS day_idx,
             user_id
      FROM events
    ),
    daily AS (
      SELECT day_idx // 7 AS week_idx, day_idx, COUNT(*) AS dau
      FROM d GROUP BY 1, 2
    ),
    weekly AS (
      SELECT day_idx // 7 AS week_idx, COUNT(DISTINCT user_id) AS wau
      FROM d GROUP BY 1
    )
    SELECT w.week_idx,
           CAST(w.wau AS BIGINT) AS wau,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(dau) AS BIGINT) AS sum_dau,
           CAST(SUM(dau) * 1000000 // (COUNT(*) * w.wau) AS BIGINT)
             AS stickiness_e6
    FROM daily dd JOIN weekly w USING (week_idx)
    GROUP BY w.week_idx, w.wau
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly stickiness (avg DAU / WAU) — the engagement ratio product
    teams track: of the users active at all in a week, what share
    shows up on an average day.  Day and week indices are pure
    integer arithmetic on epoch microseconds (NTZ-safe cast through
    TIMESTAMP; no date-type or locale drift across engines), and the
    ratio is e6 integer units under truncating division.

    Scale shape: one DISTINCT (day, user) aggregate is the corpus
    exchange (map-side partial distinct); DAU reduces it by day, WAU
    re-aggregates the SAME distinct table by (week, user) — both
    downstream shuffles move (day|week, user) pairs, never raw
    events; the final join is on a handful of week rows."""
    d = (
        t(spark, sf_dir, "events")
        .selectExpr(
            f"{spark_epoch('ts', 'day')} AS day_idx",
            "user_id",
        )
        .distinct()
    )
    daily = d.groupBy(
        F.expr("day_idx DIV 7").alias("week_idx"), "day_idx"
    ).agg(F.count(F.lit(1)).alias("dau"))
    weekly = d.groupBy(F.expr("day_idx DIV 7").alias("week_idx")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        daily.join(F.broadcast(weekly), "week_idx")
        .groupBy("week_idx", "wau")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("dau").cast("bigint").alias("sum_dau"),
            F.expr(
                "CAST(SUM(dau) * 1000000 DIV (COUNT(*) * MAX(wau)) AS BIGINT)"
            ).alias("stickiness_e6"),
        )
        .select(
            "week_idx",
            F.col("wau").cast("bigint").alias("wau"),
            "n_days",
            "sum_dau",
            "stickiness_e6",
        )
    )


# ---------------------------------------- frequent 3-itemsets


@query(
    "itemset3_support",
    oracle="""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    t AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             c.l_partkey AS part_c, COUNT(*) AS support
      FROM p a
      JOIN p b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
      JOIN p c ON c.l_orderkey = a.l_orderkey
              AND c.l_orderkey = b.l_orderkey
              AND b.l_partkey < c.l_partkey
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    )
    SELECT part_a, part_b, part_c, CAST(support AS BIGINT) AS support
    FROM t
    """,
)
def itemset3_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemset mining — the next Apriori level above
    copurchase_pairs: part triples co-occurring in >= 2 distinct
    orders, the candidate set association-rule mining lifts
    'bought X and Y, also bought Z' rules from.

    Scale shape: the staged per-order distinct is the one corpus
    exchange; both self-joins key on l_orderkey (co-partitioned with
    the distinct's partitioning, no re-shuffle), and candidate volume
    is cubic only in ORDER SIZE — bounded by a small basket constant,
    so linear in lineitems overall.  The support rollup shuffles bare
    integer triples; the >= 2 filter keeps the output to genuinely
    repeated bundles (key-offset scale copies keep supports sparse,
    so output grows linearly with SF)."""
    from instructions_mr_spark.queries._util import supersede_checkpoint

    li = t(spark, sf_dir, "lineitem")
    p = supersede_checkpoint(
        "itemset3_parts",
        li.select("l_orderkey", "l_partkey").distinct(),
    )
    a, b, c = p.alias("a"), p.alias("b"), p.alias("c")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .join(
            c,
            (F.col("c.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("c.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("b.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
            F.col("c.l_partkey").alias("part_c"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select(
            "part_a", "part_b", "part_c", F.col("support").cast("bigint").alias("support")
        )
    )


# ------------------------------------ inventory running balance


@query(
    "inventory_stockout_scan",
    oracle="""
    WITH moves AS (
      SELECT l_partkey,
             CASE WHEN l_returnflag = 'R'
                  THEN CAST(l_quantity AS BIGINT)
                  ELSE -CAST(l_quantity AS BIGINT) END AS delta,
             l_shipdate, l_orderkey, l_linenumber
      FROM lineitem
    ),
    bal AS (
      SELECT l_partkey,
             SUM(delta) OVER (PARTITION BY l_partkey
                              ORDER BY l_shipdate, l_orderkey, l_linenumber
                              ROWS UNBOUNDED PRECEDING) AS balance
      FROM moves
    )
    SELECT l_partkey AS part,
           CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(MIN(balance) AS BIGINT) AS min_balance,
           CAST(SUM(CASE WHEN balance < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below_zero,
           CAST(SUM(balance) AS BIGINT) AS balance_mass
    FROM bal GROUP BY 1
    ORDER BY min_balance, part LIMIT 10
    """,
)
def inventory_stockout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running inventory balance per part — returns ('R') restock,
    everything else draws down — scanned for stock-out exposure: the
    deepest dip, how many movements sat below zero, and the total
    integral of the balance curve.  The 10 most-exposed parts
    (deepest min balance, part-id tiebreak) are the reorder-policy
    worklist.  Quantities are integral by construction, so balances
    are exact BIGINTs.

    Scale shape: ONE hash exchange on l_partkey feeds the running-sum
    window (full deterministic tie-break: shipdate, orderkey,
    linenumber) and the per-part rollup reuses the same partitioning;
    TakeOrderedAndProject keeps the top-10 without a global sort."""
    moves = t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)"
        " ELSE -CAST(l_quantity AS BIGINT) END AS delta",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bal = moves.select(
        "l_partkey", F.sum("delta").over(w).alias("balance")
    )
    return (
        bal.groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_moves"),
            F.min("balance").cast("bigint").alias("min_balance"),
            F.sum(F.when(F.col("balance") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_below_zero"),
            F.sum("balance").cast("bigint").alias("balance_mass"),
        )
        .orderBy("min_balance", "part")
        .limit(10)
    )


# ---------------------------------------- brand share shift


@query(
    "brand_share_shift",
    oracle=f"""
    WITH li AS (
      SELECT p.p_brand AS brand,
             {duck_epoch('l_shipdate', 'day')}
               AS day_idx,
             CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(8,4)))
                        * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    mid AS (SELECT (MIN(day_idx) + MAX(day_idx)) // 2 AS m FROM li),
    halves AS (
      SELECT brand,
             SUM(CASE WHEN day_idx <= m THEN cents ELSE 0 END) AS early_cents,
             SUM(CASE WHEN day_idx > m THEN cents ELSE 0 END) AS late_cents
      FROM li, mid GROUP BY 1
    ),
    tot AS (
      SELECT SUM(early_cents) AS te, SUM(late_cents) AS tl FROM halves
    )
    SELECT brand,
           CAST(early_cents AS BIGINT) AS early_cents,
           CAST(late_cents AS BIGINT) AS late_cents,
           CAST(early_cents * 1000000 // te AS BIGINT) AS early_share_e6,
           CAST(late_cents * 1000000 // tl AS BIGINT) AS late_share_e6,
           CAST(late_cents * 1000000 // tl
                - early_cents * 1000000 // te AS BIGINT) AS delta_e6
    FROM halves, tot
    """,
)
def brand_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-share drift per part brand between the early and late
    halves of the shipping calendar (split at the integer midpoint
    day) — the assortment-drift readout category managers and
    mixture re-balancers both read: delta_e6 > 0 means the brand is
    gaining share.  Revenue is DECIMAL-exact discounted cents; both
    halves' shares are e6 integers and the delta is a pure integer
    subtraction (negatives fine — no division of signed values).

    Scale shape: part joins the fact scan HINT-FREE (part grows
    linearly with sf — a forced broadcast is a deterministic OOM at
    100x; AQE still picks a broadcast when the measured size is
    small, r9 verdict item #1); the brand half-sums are ONE
    map-side-combinable aggregate over bounded (brand) keys; the
    calendar midpoint is a 1-row broadcast scalar; shares run on the
    |brands| aggregate."""
    from instructions_mr_spark.queries._util import supersede_checkpoint

    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = (
        t(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .selectExpr(
            "p_brand AS brand",
            f"{spark_epoch('l_shipdate', 'day')} AS day_idx",
            "CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (1 - CAST(l_discount AS DECIMAL(8,4))) * 100) AS BIGINT)"
            " AS cents",
        )
    )
    li = supersede_checkpoint("brand_shift_li", li)
    mid = li.agg(
        F.expr("(MIN(day_idx) + MAX(day_idx)) DIV 2").alias("m")
    )
    halves = (
        li.crossJoin(F.broadcast(mid))
        .groupBy("brand")
        .agg(
            F.sum(
                F.when(F.col("day_idx") <= F.col("m"), F.col("cents")).otherwise(0)
            ).alias("early_cents"),
            F.sum(
                F.when(F.col("day_idx") > F.col("m"), F.col("cents")).otherwise(0)
            ).alias("late_cents"),
        )
    )
    tot = halves.agg(
        F.sum("early_cents").alias("te"), F.sum("late_cents").alias("tl")
    )
    return halves.crossJoin(F.broadcast(tot)).selectExpr(
        "brand",
        "CAST(early_cents AS BIGINT) AS early_cents",
        "CAST(late_cents AS BIGINT) AS late_cents",
        "CAST(early_cents * 1000000 DIV te AS BIGINT) AS early_share_e6",
        "CAST(late_cents * 1000000 DIV tl AS BIGINT) AS late_share_e6",
        "CAST(late_cents * 1000000 DIV tl"
        " - early_cents * 1000000 DIV te AS BIGINT) AS delta_e6",
    )


# ---------------------------------------- open-order backlog aging


@query(
    "backlog_aging_buckets",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority,
             {duck_epoch('o_orderdate', 'day')}
               AS day_idx,
             CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
                  AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'O'
    ),
    mx AS (SELECT MAX(day_idx) AS m FROM o)
    SELECT o_orderpriority,
           CAST(LEAST((m - day_idx) // 180, 6) AS BIGINT) AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM o, mx GROUP BY 1, 2
    """,
)
def backlog_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — every still-open ('O') order binned
    by how many 180-day periods it has been waiting (capped at
    bucket 6 = '3+ years stale'), per priority class, with the cents
    at stake: the receivables-aging report every ops dashboard
    carries, and the data-freshness audit shape for any
    status-driven table.  Ages are integer day arithmetic against
    the newest open order (NTZ-safe epoch-day indices).

    Scale shape: status filter pushes into the scan; the max-day
    scalar broadcasts; one map-side-combinable aggregate over
    (priority, bucket) — at most 5 x 7 output rows."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .selectExpr(
            "o_orderpriority",
            f"{spark_epoch('o_orderdate', 'day')} AS day_idx",
            "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)"
            " AS cents",
        )
    )
    mx = o.agg(F.max("day_idx").alias("m"))
    return (
        o.crossJoin(F.broadcast(mx))
        .groupBy(
            "o_orderpriority",
            F.expr("CAST(LEAST((m - day_idx) DIV 180, 6) AS BIGINT)").alias(
                "age_bucket"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("value_cents"),
        )
    )


# ------------------------------------ inter-purchase gap profile


@query(
    "interpurchase_gap_profile",
    oracle=f"""
    WITH o AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             {duck_epoch('o.o_orderdate', 'day')}
               AS day_idx,
             o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    gaps AS (
      SELECT segment,
             day_idx - LAG(day_idx) OVER (PARTITION BY o_custkey
                                          ORDER BY day_idx, o_orderkey)
               AS gap
      FROM o
    ),
    g AS (SELECT segment, gap FROM gaps WHERE gap IS NOT NULL),
    v AS (SELECT segment, gap, COUNT(*) AS c FROM g GROUP BY 1, 2),
    cum AS (
      SELECT segment, gap, c,
             SUM(c) OVER (PARTITION BY segment ORDER BY gap
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY segment) AS n
      FROM v
    )
    SELECT segment,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN 2 * cum_c >= n THEN gap END) AS BIGINT)
             AS median_gap_days,
           CAST(MIN(CASE WHEN 10 * cum_c >= 9 * n THEN gap END) AS BIGINT)
             AS p90_gap_days
    FROM cum GROUP BY segment
    """,
)
def interpurchase_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap profile per market segment — the repeat-
    purchase cadence (median and p90 days between a customer's
    consecutive orders) that drives churn-window and re-engagement
    timing; both order statistics are value-domain exact integers
    over day gaps (the percentile_group_twophase identity), with the
    LAG tie-break pinned by (day, orderkey) so same-day orders are
    deterministic.

    Scale shape: one custkey-partitioned LAG window over (customer,
    day) rows — the corpus exchange — then the gap histogram and
    cumulative picks run on DISTINCT (segment, gap) rows only; the
    customer segment lookup is a plain equi-join (customer scales
    with sf — no forced broadcast; AQE picks one when measured
    small)."""
    o = (
        t(spark, sf_dir, "orders")
        .join(
            t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .selectExpr(
            "c_mktsegment AS segment",
            "o_custkey",
            f"{spark_epoch('o_orderdate', 'day')} AS day_idx",
            "o_orderkey",
        )
    )
    wl = Window.partitionBy("o_custkey").orderBy("day_idx", "o_orderkey")
    gaps = o.select(
        "segment", (F.col("day_idx") - F.lag("day_idx").over(wl)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    v = gaps.groupBy("segment", "gap").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("segment").orderBy("gap")
    cum = v.select(
        "segment",
        "gap",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_c"),
        F.sum("c").over(Window.partitionBy("segment")).alias("n"),
    )
    return cum.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min(F.when(2 * F.col("cum_c") >= F.col("n"), F.col("gap")))
        .cast("bigint")
        .alias("median_gap_days"),
        F.min(F.when(10 * F.col("cum_c") >= 9 * F.col("n"), F.col("gap")))
        .cast("bigint")
        .alias("p90_gap_days"),
    )


# ------------------------------------ week-over-week revenue delta


@query(
    "wow_revenue_delta",
    oracle=f"""
    WITH weekly AS (
      SELECT event_type,
             {duck_epoch('ts', 'week')} AS week_idx,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, week_idx, cents,
             LAG(cents) OVER (PARTITION BY event_type
                              ORDER BY week_idx) AS prev_cents
      FROM weekly
    )
    SELECT event_type, week_idx,
           CAST(prev_cents AS BIGINT) AS prev_cents,
           CAST(cents AS BIGINT) AS cur_cents,
           CAST(cents - prev_cents AS BIGINT) AS delta_cents,
           CAST(cents * 1000000 // prev_cents AS BIGINT) AS ratio_e6
    FROM lagged WHERE prev_cents IS NOT NULL
    """,
)
def wow_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue movement per event series — the
    headline growth panel: each week's total against the previous
    week as a signed integer delta plus an e6 ratio (1e6 = flat;
    division only of positive totals, so truncation is
    deterministic).  Week indices are integer epoch arithmetic —
    no calendar/locale drift between engines.

    Scale shape: the weekly aggregate is the corpus exchange
    (map-side combinable); LAG and the readout run per series over
    the calendar-bounded weekly rows."""
    weekly = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "week")).alias("week_idx"),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))"
            ).alias("cents")
        )
    )
    w = Window.partitionBy("event_type").orderBy("week_idx")
    lagged = weekly.select(
        "event_type",
        "week_idx",
        "cents",
        F.lag("cents").over(w).alias("prev_cents"),
    ).filter(F.col("prev_cents").isNotNull())
    return lagged.selectExpr(
        "event_type",
        "week_idx",
        "CAST(prev_cents AS BIGINT) AS prev_cents",
        "CAST(cents AS BIGINT) AS cur_cents",
        "CAST(cents - prev_cents AS BIGINT) AS delta_cents",
        "CAST(cents * 1000000 DIV prev_cents AS BIGINT) AS ratio_e6",
    )


# -------------------------------------- linear (even-split) attribution


@query(
    "attribution_linear",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS cum_p
      FROM events
    ),
    touches AS (
      SELECT user_id, event_id, event_type AS channel, ts,
             cum_p + 1 AS conv
      FROM ordered WHERE event_type IN ('click', 'view')
    ),
    convs AS (
      SELECT DISTINCT user_id, cum_p AS conv FROM ordered
      WHERE event_type = 'purchase'
    ),
    grp AS (
      SELECT t.channel,
             ROW_NUMBER() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY t.user_id, t.conv) AS n
      FROM touches t JOIN convs c
        ON c.user_id = t.user_id AND c.conv = t.conv
      WINDOW w AS (PARTITION BY t.user_id, t.conv ORDER BY t.ts, t.event_id)
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(10000 // n
                    + CASE WHEN rn = n THEN 10000 % n ELSE 0 END)
                AS BIGINT) AS credit_bp
    FROM grp GROUP BY 1
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (even-split) multi-touch attribution — every touch in a
    converted journey gets an equal share of the purchase's 10000
    basis points, completing the attribution family (last-touch /
    U-shaped / time-decay / linear).  The split is the truncated
    integer share with the remainder absorbed by the LAST touch
    (stated policy), so per-conversion credit sums to exactly 10000
    on both engines with no fractional credit anywhere.

    Scale shape: identical to attribution_position_based — ONE
    user-keyed exchange serves the running purchase counter, the
    journey rank/size windows, and the converted-journey join; the
    channel rollup is tiny."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_p"),
    )
    touches = ordered.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "event_id",
        F.col("event_type").alias("channel"),
        "ts",
        (F.col("cum_p") + 1).alias("conv"),
    )
    convs = (
        ordered.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("cum_p").alias("conv"))
        .distinct()
    )
    wj = Window.partitionBy("user_id", "conv").orderBy("ts", "event_id")
    grp = (
        touches.join(convs, ["user_id", "conv"])
        .select(
            "channel",
            F.row_number().over(wj).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id", "conv"))
            .alias("n"),
        )
    )
    return grp.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum(
            F.expr("10000 DIV n + CASE WHEN rn = n THEN 10000 % n ELSE 0 END")
        )
        .cast("bigint")
        .alias("credit_bp"),
    )


# ------------------------------------------ user acquisition curve


@query(
    "user_acquisition_curve",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT
             {duck_epoch('ts', 'day')} AS day_idx,
             user_id
      FROM events
    ),
    firsts AS (SELECT user_id, MIN(day_idx) AS first_day FROM d GROUP BY 1),
    daily AS (
      SELECT d.day_idx,
             COUNT(*) AS n_active,
             SUM(CASE WHEN f.first_day = d.day_idx THEN 1 ELSE 0 END)
               AS n_new
      FROM d JOIN firsts f USING (user_id)
      GROUP BY 1
    )
    SELECT day_idx,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(SUM(n_new) OVER (ORDER BY day_idx
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM daily
    """,
)
def user_acquisition_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily acquisition curve — active users, first-ever-seen users,
    and the cumulative registered base per day: the growth chart
    every product review opens with, and the user-id twin of
    ngram_novelty_rate's first-seen logic.  Day indices are integer
    epoch arithmetic (NTZ-safe).

    Scale shape: one DISTINCT (day, user) aggregate is the corpus
    exchange; first-seen derives from it by user (same key space),
    joins back on user_id, and the cumulative window runs over
    calendar-bounded daily rows."""
    d = (
        t(spark, sf_dir, "events")
        .selectExpr(
            f"{spark_epoch('ts', 'day')} AS day_idx",
            "user_id",
        )
        .distinct()
    )
    firsts = d.groupBy("user_id").agg(F.min("day_idx").alias("first_day"))
    daily = (
        d.join(firsts, "user_id")
        .groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("first_day") == F.col("day_idx"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    wc = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day_idx",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_new").cast("bigint").alias("n_new"),
        F.sum("n_new").over(wc).cast("bigint").alias("cum_users"),
    )


# ------------------------------------------ discount-volume curve


@query(
    "discount_volume_curve",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(CAST(l_discount AS DECIMAL(8,4)) * 100)
                  AS BIGINT) AS discount_pct,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    )
    SELECT discount_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           CAST(SUM(qty) * 1000000 // COUNT(*) AS BIGINT)
             AS qty_per_line_e6
    FROM b GROUP BY 1
    """,
)
def discount_volume_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-response curve — line volume and average quantity per
    whole-percent discount band: the demand-elasticity readout
    pricing teams eyeball before fitting anything fancier (does a
    deeper discount actually move units?).  The discount bands come
    from DECIMAL-exact flooring (never a float bucket boundary) and
    the per-line average is e6 integer units.

    Scale shape: pure scan projection + one map-side-combinable
    aggregate over ~11 bounded discount keys — the cheapest possible
    plan at any scale."""
    b = t(spark, sf_dir, "lineitem").selectExpr(
        "CAST(FLOOR(CAST(l_discount AS DECIMAL(8,4)) * 100) AS BIGINT)"
        " AS discount_pct",
        "CAST(l_quantity AS BIGINT) AS qty",
    )
    return b.groupBy("discount_pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("qty").cast("bigint").alias("sum_qty"),
        F.expr("CAST(SUM(qty) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "qty_per_line_e6"
        ),
    )


# ------------------------------------------ cart abandonment


@query(
    "cart_abandonment_daily",
    oracle=f"""
    WITH d AS (
      SELECT {duck_epoch('ts', 'day')} AS day_idx,
             user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS clicked,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS bought
      FROM events GROUP BY 1, 2
    )
    SELECT day_idx,
           CAST(SUM(clicked) AS BIGINT) AS n_clickers,
           CAST(SUM(CASE WHEN clicked = 1 AND bought = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN clicked = 1 AND bought = 0
                         THEN 1 ELSE 0 END) * 1000000
                // SUM(clicked) AS BIGINT) AS abandonment_e6
    FROM d GROUP BY 1 HAVING SUM(clicked) > 0
    """,
)
def cart_abandonment_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cart abandonment — of the users who clicked that day,
    the share who never purchased the SAME day: the conversion-leak
    panel merchandising teams watch hourly; a spike localizes a
    checkout regression to the day it shipped.  Same-day scoping
    makes the flags pure per-(day, user) aggregates (no cross-day
    state), and the rate is e6 integer units.

    Scale shape: ONE (day, user) aggregate with two conditional
    MAX flags is the corpus exchange; the daily rollup reduces it
    map-side to calendar-bounded rows."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
            "user_id",
        )
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicked"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("bought"),
        )
    )
    return (
        d.groupBy("day_idx")
        .agg(
            F.sum("clicked").cast("bigint").alias("n_clickers"),
            F.sum(
                F.when((F.col("clicked") == 1) & (F.col("bought") == 1), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_converted"),
            F.expr(
                "CAST(SUM(CASE WHEN clicked = 1 AND bought = 0 THEN 1 ELSE 0"
                " END) * 1000000 DIV SUM(clicked) AS BIGINT)"
            ).alias("abandonment_e6"),
        )
        .filter(F.col("n_clickers") > 0)
    )


# ------------------------------------- price-band x segment mix


@query(
    "priceband_segment_mix",
    oracle="""
    WITH f AS (
      SELECT c.c_mktsegment AS segment,
             CAST(FLOOR(CAST(p.p_retailprice AS DECIMAL(12,2)) / 10)
                  AS BIGINT) AS price_band,
             CAST(FLOOR(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(8,4)))
                        * 100) AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN part p ON l.l_partkey = p.p_partkey
    ),
    m AS (
      SELECT segment, price_band,
             COUNT(*) AS n_lines, SUM(cents) AS rev_cents
      FROM f GROUP BY 1, 2
    )
    SELECT segment, price_band,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(rev_cents * 1000000
                // SUM(rev_cents) OVER (PARTITION BY segment)
                AS BIGINT) AS seg_share_e6
    FROM m
    """,
)
def priceband_segment_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue mix by part price band within each customer segment —
    the assortment cross-tab ('do BUILDING customers buy premium
    parts?') merchandisers and mixture designers read side by side:
    $10-wide retail-price bands from DECIMAL-exact flooring,
    revenue in exact cents, and each cell's share of its segment in
    e6 units.

    Scale shape: the q9 join family — part and customer join
    hint-free (both scale with sf; AQE broadcasts while small),
    the only wide exchange is lineitem-orders on orderkey
    (co-partitionable/bucketable); the mix rollup reduces to
    |segments| x |bands| rows and the share window runs there."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(p, li.l_partkey == p.p_partkey)
        .selectExpr(
            "c_mktsegment AS segment",
            "CAST(FLOOR(CAST(p_retailprice AS DECIMAL(12,2)) / 10)"
            " AS BIGINT) AS price_band",
            "CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (1 - CAST(l_discount AS DECIMAL(8,4))) * 100) AS BIGINT)"
            " AS cents",
        )
    )
    m = f.groupBy("segment", "price_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("cents").cast("bigint").alias("rev_cents"),
    )
    wseg = Window.partitionBy("segment")
    return m.select(
        "segment",
        "price_band",
        "n_lines",
        "rev_cents",
        F.expr("rev_cents * 1000000").alias("_num"),
        F.sum("rev_cents").over(wseg).alias("_den"),
    ).selectExpr(
        "segment",
        "price_band",
        "n_lines",
        "rev_cents",
        "CAST(_num DIV _den AS BIGINT) AS seg_share_e6",
    )


# ------------------------------------------ returns rate by brand


@query(
    "brand_return_rates",
    oracle="""
    WITH f AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
             CAST(FLOOR(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(8,4)))
                        * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(ret) AS BIGINT) AS n_returned,
           CAST(SUM(ret) * 1000000 // COUNT(*) AS BIGINT)
             AS return_rate_e6,
           CAST(SUM(CASE WHEN ret = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS returned_cents
    FROM f GROUP BY 1
    """,
)
def brand_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rates per part brand — line share flagged 'R' and the
    exact cents that came back: the product-quality league table
    that catches a bad batch (or a bad listing) by brand before
    reviews do.  Rates are e6 integers; returned revenue is
    DECIMAL-exact cents.

    Scale shape: part joins hint-free onto the fact scan (AQE
    broadcasts it while small); one
    map-side-combinable aggregate over 25 bounded brand keys — scan
    + dim-join + partial-agg, nothing else."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    f = (
        t(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .selectExpr(
            "p_brand AS brand",
            "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret",
            "CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (1 - CAST(l_discount AS DECIMAL(8,4))) * 100) AS BIGINT)"
            " AS cents",
        )
    )
    return f.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("ret").cast("bigint").alias("n_returned"),
        F.expr("CAST(SUM(ret) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "return_rate_e6"
        ),
        F.sum(F.when(F.col("ret") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("returned_cents"),
    )


# ------------------------------------- association rules (lift)


@query(
    "copurchase_lift",
    oracle="""
    WITH p AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS MATERIALIZED (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM p
    ),
    item AS MATERIALIZED (
      SELECT l_partkey, COUNT(*) AS cnt FROM p GROUP BY 1
    ),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS support
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT pr.part_a, pr.part_b,
           CAST(pr.support AS BIGINT) AS support,
           CAST(pr.support * 1000000 // ia.cnt AS BIGINT) AS conf_ab_e6,
           CAST(pr.support * 1000000 // ib.cnt AS BIGINT) AS conf_ba_e6,
           CAST(pr.support * n.n_orders * 1000000
                // (ia.cnt * ib.cnt) AS BIGINT) AS lift_e6
    FROM pair pr
    JOIN item ia ON ia.l_partkey = pr.part_a
    JOIN item ib ON ib.l_partkey = pr.part_b, n
    """,
)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the co-purchase pairs — confidence in
    both directions (support(ab)/support(a), /support(b)) and lift
    (observed co-rate over the independence baseline), the three
    numbers that turn raw pair supports into 'customers who bought X
    also buy Y' rankings; lift > 1e6 means genuinely associated, not
    just both popular.  All three are e6 integers (the numerator
    support * n_orders * 1e6 stays in BIGINT to ~1e5 basket overlap
    x 1e9 orders; wider scales lift to DECIMAL as elsewhere).

    Scale shape (round 12, optimization session 5): the per-order
    basket table is staged once (the session-shared _order_baskets
    stage — ONE corpus exchange; see its note for why this replaced
    the (order, part) distinct + self-join); pair mining is the
    copurchase_pairs in-row plan; n_orders is a bare count of the
    staged basket rows (the old plan paid a countDistinct exchange
    for the same number); per-item counts explode the SAME staged
    table and broadcast onto the bounded pair table — no second
    corpus exchange."""
    baskets = _order_baskets(spark, sf_dir)
    # every lineitem order has >= 1 part: basket rows == distinct orders
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    item = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair = (
        _basket_pairs(baskets)
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "part_a",
            "part_b",
            "CAST(support AS BIGINT) AS support",
            "CAST(support * 1000000 DIV cnt_a AS BIGINT) AS conf_ab_e6",
            "CAST(support * 1000000 DIV cnt_b AS BIGINT) AS conf_ba_e6",
            "CAST(support * n_orders * 1000000 DIV (cnt_a * cnt_b)"
            " AS BIGINT) AS lift_e6",
        )
    )


# ------------------------------------- segment migration matrix


@query(
    "segment_migration_matrix",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey,
             {duck_epoch('o_orderdate', 'day')}
               AS day_idx,
             CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
                  AS BIGINT) AS cents
      FROM orders
    ),
    mid AS (SELECT (MIN(day_idx) + MAX(day_idx)) // 2 AS m FROM o),
    halves AS (
      SELECT o_custkey,
             SUM(CASE WHEN day_idx <= m THEN cents ELSE 0 END) AS early,
             SUM(CASE WHEN day_idx > m THEN cents ELSE 0 END) AS late
      FROM o, mid GROUP BY 1
    ),
    ranked AS (
      SELECT o_custkey,
             (ROW_NUMBER() OVER (ORDER BY early DESC, o_custkey) - 1) * 3
               // COUNT(*) OVER () AS tier_early,
             (ROW_NUMBER() OVER (ORDER BY late DESC, o_custkey) - 1) * 3
               // COUNT(*) OVER () AS tier_late
      FROM halves
    )
    SELECT CAST(tier_early AS BIGINT) AS tier_early,
           CAST(tier_late AS BIGINT) AS tier_late,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM ranked GROUP BY 1, 2
    """,
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-tier migration matrix — every customer ranked
    into revenue terciles (0 = top) separately for the early and
    late halves of the order calendar, then cross-tabbed: the
    upgrade/downgrade flow chart behind retention planning (mass on
    the diagonal = stable base; below it = churn risk).  Tiers use
    explicit (rank-1)*3 DIV n arithmetic with customer-id tiebreaks
    (never NTILE), so the cut is identical on both engines; revenue
    is DECIMAL-exact cents.

    Scale shape: one custkey aggregate (corpus exchange) with the
    1-row midpoint broadcast; the two tercile ranks are two-phase
    bucketed ranks (two_phase_rank, value-domain cents DIV 2^21
    buckets over the bounded half-lifetime-revenue range) — never a
    global-order window — and the matrix rollup is 9 rows.  Skew
    note: customers with zero revenue in a half all tie in the 0
    bucket; the midpoint split keeps both halves populated for
    almost every active customer, so that bucket stays a small
    minority."""
    from instructions_mr_spark.queries._util import two_phase_rank
    o = t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        f"{spark_epoch('o_orderdate', 'day')} AS day_idx",
        "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)"
        " AS cents",
    )
    mid = o.agg(F.expr("(MIN(day_idx) + MAX(day_idx)) DIV 2").alias("m"))
    halves = (
        o.crossJoin(F.broadcast(mid))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(F.col("day_idx") <= F.col("m"), F.col("cents")).otherwise(0)
            ).alias("early"),
            F.sum(
                F.when(F.col("day_idx") > F.col("m"), F.col("cents")).otherwise(0)
            ).alias("late"),
        )
    )
    r1 = two_phase_rank(
        halves,
        -F.expr("early DIV 2097152"),
        [F.col("early").desc(), F.col("o_custkey")],
        rn_name="_ern",
        n_name="_n",
    )
    r2 = two_phase_rank(
        r1,
        -F.expr("late DIV 2097152"),
        [F.col("late").desc(), F.col("o_custkey")],
        rn_name="_lrn",
    )
    ranked = r2.selectExpr(
        "o_custkey",
        "(_ern - 1) * 3 DIV _n AS tier_early",
        "(_lrn - 1) * 3 DIV _n AS tier_late",
    )
    return ranked.groupBy(
        F.col("tier_early").cast("bigint").alias("tier_early"),
        F.col("tier_late").cast("bigint").alias("tier_late"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))


# ------------------------------------------ user activity depth


@query(
    "user_activity_depth",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT user_id,
             {duck_epoch('ts', 'day')} AS day_idx
      FROM events
    ),
    per_user AS (SELECT user_id, COUNT(*) AS n_days FROM d GROUP BY 1)
    SELECT CAST(n_days AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY 1
    """,
)
def user_activity_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-depth histogram — how many users were active on
    exactly N distinct days: the power-user curve (its right mass is
    the habit cohort, its left spike the drive-by crowd) that
    complements rate-style metrics like dau_wau_stickiness with the
    full distribution.

    Scale shape: one DISTINCT (user, day) aggregate is the corpus
    exchange; per-user day counts reduce on the same user key, and
    the histogram rollup is bounded by the calendar length."""
    d = (
        t(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            f"{spark_epoch('ts', 'day')} AS day_idx",
        )
        .distinct()
    )
    per_user = d.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_days"))
    return per_user.groupBy(
        F.col("n_days").cast("bigint").alias("n_active_days")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


# ------------------------------------------ basket value curve


@query(
    "basket_value_curve",
    oracle="""
    WITH b AS (
      SELECT l_orderkey,
             COUNT(*) AS n_lines,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(8,4))))
                        * 100) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_lines AS BIGINT) AS basket_size,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS rev_cents,
           CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT)
             AS avg_order_cents_e6
    FROM b GROUP BY 1
    """,
)
def basket_value_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size value curve — order count and average order value
    per number of lines in the order: the upsell readout (does a
    5-line basket spend 5x a 1-line basket, or more?) and the
    denominator sanity check for every per-order metric.  Revenue is
    DECIMAL-exact cents; the average is e6 integer units.

    Scale shape: one orderkey aggregate (map-side combinable — count
    and sum together) then a bounded rollup over ~15 basket sizes."""
    b = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(
                "CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))) * 100) AS BIGINT)"
            ).alias("cents"),
        )
    )
    return b.groupBy(F.col("n_lines").cast("bigint").alias("basket_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("rev_cents"),
        F.expr(
            "CAST(SUM(cents) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("avg_order_cents_e6"),
    )


# ------------------------------------- session duration profile


@query(
    "session_duration_profile",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             {duck_epoch('ts', 's')} AS sec
      FROM events
    ),
    flagged AS (
      SELECT user_id, sec,
             CASE WHEN sec - LAG(sec) OVER (PARTITION BY user_id
                                            ORDER BY sec) <= 1800
                  THEN 0 ELSE 1 END AS new_session
      FROM e
    ),
    numbered AS (
      SELECT user_id, sec,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY sec
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    sess AS (
      SELECT user_id, sid,
             MAX(sec) - MIN(sec) AS dur_s,
             COUNT(*) AS n_events
      FROM numbered GROUP BY 1, 2
    ),
    v AS (SELECT dur_s, COUNT(*) AS c FROM sess GROUP BY 1),
    cum AS (
      SELECT dur_s, c,
             SUM(c) OVER (ORDER BY dur_s ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER () AS n
      FROM v
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_sessions,
           CAST((SELECT SUM(n_events) FROM sess) AS BIGINT)
             AS n_events,
           CAST(MIN(CASE WHEN 2 * cum_c >= n THEN dur_s END) AS BIGINT)
             AS median_dur_s,
           CAST(MIN(CASE WHEN 10 * cum_c >= 9 * n THEN dur_s END)
                AS BIGINT) AS p90_dur_s
    FROM cum
    """,
)
def session_duration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration order statistics — sessionize by the repo's
    30-minute inactivity convention (stream_session), then report
    the session count and the exact median/p90 duration in seconds:
    the engagement-length readout that pairs with
    session_bounce_rate's count view.  Durations are integer epoch
    seconds; both percentiles are value-domain exact.

    Scale shape: one user-keyed exchange serves the LAG flag, the
    running session id, and the per-session rollup (all share the
    partitioning); the percentile picks run on DISTINCT duration
    values only."""
    e = t(spark, sf_dir, "events").selectExpr(
        "user_id",
        f"{spark_epoch('ts', 's')} AS sec",
    )
    wu = Window.partitionBy("user_id").orderBy("sec")
    flagged = e.select(
        "user_id",
        "sec",
        F.when(
            F.col("sec") - F.lag("sec").over(wu) <= 1800, 0
        ).otherwise(1).alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        "sec",
        F.sum("new_session")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    sess = numbered.groupBy("user_id", "sid").agg(
        (F.max("sec") - F.min("sec")).alias("dur_s"),
        F.count(F.lit(1)).alias("n_events"),
    )
    tot_events = sess.agg(F.sum("n_events").alias("te"))
    v = sess.groupBy("dur_s").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("dur_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = v.select(
        "dur_s",
        F.sum("c").over(wc).alias("cum_c"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    return (
        cum.agg(
            F.max("n").cast("bigint").alias("n_sessions"),
            F.min(F.when(2 * F.col("cum_c") >= F.col("n"), F.col("dur_s")))
            .cast("bigint")
            .alias("median_dur_s"),
            F.min(
                F.when(10 * F.col("cum_c") >= 9 * F.col("n"), F.col("dur_s"))
            )
            .cast("bigint")
            .alias("p90_dur_s"),
        )
        .crossJoin(F.broadcast(tot_events))
        .select(
            "n_sessions",
            F.col("te").cast("bigint").alias("n_events"),
            "median_dur_s",
            "p90_dur_s",
        )
    )


# ------------------------------------- supplier redundancy profile


@query(
    "part_supplier_redundancy",
    oracle="""
    WITH ps AS (
      SELECT l_partkey,
             COUNT(DISTINCT l_suppkey) AS n_suppliers,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(8,4))))
                        * 100) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS rev_cents,
           CAST(SUM(cents) * 1000000
                // (SELECT SUM(cents) FROM ps) AS BIGINT)
             AS rev_share_e6
    FROM ps GROUP BY 1
    """,
)
def part_supplier_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-redundancy profile — parts bucketed by how many
    distinct suppliers actually shipped them, with each bucket's
    revenue share: the single-source-risk report (revenue sitting in
    the n_suppliers = 1 bucket has no fallback vendor).  Revenue is
    DECIMAL-exact discounted cents; shares are e6 integers.

    Scale shape: one partkey aggregate carrying the distinct-supplier
    count and the cents sum together (partial distinct + partial sum
    in the same exchange); the redundancy histogram is a bounded
    rollup and the total is a 1-row broadcast."""
    ps = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.expr(
                "CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))) * 100) AS BIGINT)"
            ).alias("cents"),
        )
    )
    h = ps.groupBy(
        F.col("n_suppliers").cast("bigint").alias("n_suppliers")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("rev_cents"),
    )
    tot = h.agg(F.sum("rev_cents").alias("total"))
    return h.crossJoin(F.broadcast(tot)).selectExpr(
        "n_suppliers",
        "n_parts",
        "rev_cents",
        "CAST(rev_cents * 1000000 DIV total AS BIGINT) AS rev_share_e6",
    )


# ------------------------------------- 7-day moving revenue (RANGE)


@query(
    "moving_7d_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_idx,
           CAST(cents AS BIGINT) AS cents,
           CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY day_idx
                                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_7d_cents
    FROM daily
    """,
)
def moving_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per series via a true RANGE frame on
    the integer day index — the time-based sibling of the ROWS-frame
    window_moving_avg: RANGE counts CALENDAR days (missing days
    still age out of the window), which a ROWS frame silently gets
    wrong on gappy series.  All integer cents.

    Scale shape: the daily aggregate is the corpus exchange; the
    RANGE window runs per series over calendar-bounded rows with the
    same partitioning."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))"
            ).alias("cents")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day_idx",
        F.col("cents").cast("bigint").alias("cents"),
        F.sum("cents").over(w).cast("bigint").alias("trailing_7d_cents"),
    )


# --------------------------------------------- weekend lift


@query(
    "weekend_lift",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             CASE WHEN ({duck_epoch('ts', 'day')} + 4)
                       % 7 IN (5, 6) THEN 1 ELSE 0 END AS weekend,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT event_type,
             SUM(CASE WHEN weekend = 1 THEN cents ELSE 0 END) AS we_cents,
             SUM(CASE WHEN weekend = 0 THEN cents ELSE 0 END) AS wd_cents,
             SUM(CASE WHEN weekend = 1 THEN 1 ELSE 0 END) AS we_n,
             SUM(CASE WHEN weekend = 0 THEN 1 ELSE 0 END) AS wd_n
      FROM d GROUP BY 1
    )
    SELECT event_type,
           CAST(we_cents AS BIGINT) AS weekend_cents,
           CAST(wd_cents AS BIGINT) AS weekday_cents,
           CAST(we_n AS BIGINT) AS weekend_events,
           CAST(wd_n AS BIGINT) AS weekday_events,
           CAST(CAST(we_cents AS HUGEINT) * wd_n * 1000000
                // (CAST(wd_cents AS HUGEINT) * we_n) AS BIGINT)
             AS per_event_lift_e6
    FROM g
    """,
)
def weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday per-event value lift per series — do
    weekend events carry more value each?  The day-of-week split
    uses pure integer epoch-day arithmetic ((day + 4) % 7 maps
    1970-01-01 Thursday so 5/6 = Sat/Sun — no locale-dependent
    DAYOFWEEK), and the lift cross-multiplies the two means into one
    integer ratio (we_cents/we_n over wd_cents/wd_n) with
    DECIMAL(38,0)/HUGEINT numerators (cents * events * 1e6 passes
    BIGINT below ~1e6 events per series) — no float division
    anywhere.

    Scale shape: single scan, one map-side-combinable conditional
    aggregate per bounded series key; the lift math runs on |types|
    rows."""
    d = t(spark, sf_dir, "events").selectExpr(
        "event_type",
        f"CASE WHEN ({spark_epoch('ts', 'day')} + 4)"
        " % 7 IN (5, 6) THEN 1 ELSE 0 END AS weekend",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    g = d.groupBy("event_type").agg(
        F.sum(F.when(F.col("weekend") == 1, F.col("cents")).otherwise(0)).alias(
            "we_cents"
        ),
        F.sum(F.when(F.col("weekend") == 0, F.col("cents")).otherwise(0)).alias(
            "wd_cents"
        ),
        F.sum(F.when(F.col("weekend") == 1, 1).otherwise(0)).alias("we_n"),
        F.sum(F.when(F.col("weekend") == 0, 1).otherwise(0)).alias("wd_n"),
    )
    return g.selectExpr(
        "event_type",
        "CAST(we_cents AS BIGINT) AS weekend_cents",
        "CAST(wd_cents AS BIGINT) AS weekday_cents",
        "CAST(we_n AS BIGINT) AS weekend_events",
        "CAST(wd_n AS BIGINT) AS weekday_events",
        "CAST(CAST(we_cents AS DECIMAL(38,0)) * wd_n * 1000000"
        " DIV (CAST(wd_cents AS DECIMAL(38,0)) * we_n) AS BIGINT)"
        " AS per_event_lift_e6",
    )


# ------------------------------------------ rolling 7-day retention


@query(
    "rolling_retention_7d",
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT DISTINCT
             {duck_epoch('ts', 'day')} AS day_idx,
             user_id
      FROM events
    ),
    ret AS (
      SELECT a.day_idx, a.user_id,
             MAX(CASE WHEN b.user_id IS NULL THEN 0 ELSE 1 END) AS retained
      FROM d a LEFT JOIN d b
        ON b.user_id = a.user_id
       AND b.day_idx > a.day_idx AND b.day_idx <= a.day_idx + 7
      GROUP BY 1, 2
    )
    SELECT day_idx,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(retained) AS BIGINT) AS n_retained,
           CAST(SUM(retained) * 1000000 // COUNT(*) AS BIGINT)
             AS retention_e6
    FROM ret GROUP BY 1
    """,
)
def rolling_retention_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day retention — for every day, the share of that
    day's active users who return within the next 7 days: the
    standard product-health curve (cohort_retention's weekly matrix
    collapsed to one rolling line, readable daily).  Day arithmetic
    is integer epoch days; the rate is e6 integer units.  The last
    7 days read artificially low (right-censored) — the curve's
    consumers know to trim them.

    Scale shape: the DISTINCT (day, user) table stages once; the
    return lookup is a user-keyed self-join banded to a 7-day window
    (the join_range_banded shape — at 100 TB, bucket both sides on
    user_id), and the daily rollup is map-side combinable."""
    from instructions_mr_spark.queries._util import supersede_checkpoint

    d = (
        t(spark, sf_dir, "events")
        .selectExpr(
            f"{spark_epoch('ts', 'day')} AS day_idx",
            "user_id",
        )
        .distinct()
    )
    d = supersede_checkpoint("rolling_ret_d", d)
    a, b = d.alias("a"), d.alias("b")
    ret = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.day_idx") > F.col("a.day_idx"))
            & (F.col("b.day_idx") <= F.col("a.day_idx") + 7),
            "left",
        )
        .groupBy(F.col("a.day_idx").alias("day_idx"), F.col("a.user_id"))
        .agg(
            F.max(
                F.when(F.col("b.user_id").isNull(), 0).otherwise(1)
            ).alias("retained")
        )
    )
    return ret.groupBy("day_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("retained").cast("bigint").alias("n_retained"),
        F.expr(
            "CAST(SUM(retained) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("retention_e6"),
    )


# --------------------------------------- association-rule confidence

_RULE_MIN_SUPPORT = 2


@query(
    "assoc_rules_confidence",
    oracle=f"""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    item AS (SELECT l_partkey, COUNT(*) AS n_item FROM p GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS support
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_RULE_MIN_SUPPORT}
    ),
    rules AS (
      SELECT part_a AS antecedent, part_b AS consequent, support FROM pair
      UNION ALL
      SELECT part_b, part_a, support FROM pair
    )
    SELECT r.antecedent, r.consequent,
           CAST(r.support AS BIGINT) AS support,
           CAST(r.support * 1000000 // i.n_item AS BIGINT) AS conf_e6
    FROM rules r JOIN item i ON i.l_partkey = r.antecedent
    """,
)
def assoc_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules with DIRECTIONAL confidence — the step after
    copurchase_pairs/copurchase_lift in the classic market-basket
    stack: every supported pair emits both rules A=>B and B=>A with
    conf(A=>B) = support(AB) / support(A) in e6 integer units
    (truncating division; 'customers who bought A also bought B 37%
    of the time' is what ranks recommendations, and lift alone cannot
    give the direction).

    Scale shape: the distinct and the pair self-join key on
    l_orderkey (one exchange, reused); per-order pair generation is
    basket-bounded so candidates are linear; the item-support join
    back is a narrow int table joined on the antecedent key."""
    li = t(spark, sf_dir, "lineitem")
    from instructions_mr_spark.queries._util import supersede_checkpoint

    p = supersede_checkpoint(
        "rules_distinct",
        li.select("l_orderkey", "l_partkey").distinct(),
    )
    item = p.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = p.alias("a"), p.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _RULE_MIN_SUPPORT)
    )
    rules = pair.selectExpr(
        "part_a AS antecedent", "part_b AS consequent", "support"
    ).unionByName(
        pair.selectExpr("part_b AS antecedent", "part_a AS consequent", "support")
    )
    return rules.join(
        item.withColumnRenamed("l_partkey", "antecedent"), "antecedent"
    ).selectExpr(
        "antecedent",
        "consequent",
        "CAST(support AS BIGINT) AS support",
        "CAST(support * 1000000 DIV n_item AS BIGINT) AS conf_e6",
    )


# ----------------------------------------------- cohort LTV curve

_LTV_PERIOD_DAYS = 30


@query(
    "cohort_ltv_curve",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey,
             {duck_epoch('o_orderdate', 'day')}
               // {_LTV_PERIOD_DAYS} AS period,
             CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
               AS cents
      FROM orders
    ),
    first_p AS (SELECT o_custkey, MIN(period) AS cohort FROM o GROUP BY 1),
    rev AS (
      SELECT f.cohort, o.period - f.cohort AS age, SUM(o.cents) AS cents
      FROM o JOIN first_p f USING (o_custkey)
      GROUP BY 1, 2
    ),
    sized AS (SELECT cohort, COUNT(*) AS n_customers FROM first_p GROUP BY 1)
    SELECT r.cohort, r.age,
           CAST(s.n_customers AS BIGINT) AS n_customers,
           CAST(SUM(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.age
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_cents,
           CAST(SUM(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.age
                                   ROWS UNBOUNDED PRECEDING)
                // s.n_customers AS BIGINT) AS ltv_per_customer_cents
    FROM rev r JOIN sized s USING (cohort)
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    period ({_LTV_PERIOD_DAYS}-day epoch buckets — integer day
    arithmetic, no locale-dependent month functions), each cohort's
    CUMULATIVE revenue by age, absolute and per acquired customer —
    the payback table growth teams read next to cohort_retention's
    activity view.  DECIMAL-exact cents, truncating per-customer
    division.

    Scale shape: one custkey aggregate (first period) joined back on
    the same key, one (cohort, age) rollup; the cumulative window
    partitions BY COHORT over ages — both axes calendar-bounded, so
    the window state is metadata-sized at any corpus size."""
    o = t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        f"{spark_epoch('o_orderdate', 'day')} DIV {_LTV_PERIOD_DAYS} AS period",
        "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)"
        " AS cents",
    )
    first_p = o.groupBy("o_custkey").agg(F.min("period").alias("cohort"))
    rev = (
        o.join(first_p, "o_custkey")
        .groupBy("cohort", (F.col("period") - F.col("cohort")).alias("age"))
        .agg(F.sum("cents").alias("cents"))
    )
    sized = first_p.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sized), "cohort")
        .select(
            "cohort",
            "age",
            F.col("n_customers").cast("bigint").alias("n_customers"),
            F.sum("cents").over(w).cast("bigint").alias("cum_cents"),
            F.expr("n_customers").alias("_n"),
        )
        .selectExpr(
            "cohort",
            "age",
            "n_customers",
            "cum_cents",
            "CAST(cum_cents DIV _n AS BIGINT) AS ltv_per_customer_cents",
        )
    )


cohort_ltv_curve.__doc__ = (cohort_ltv_curve.__doc__ or "").replace(
    "{_LTV_PERIOD_DAYS}", str(_LTV_PERIOD_DAYS)
)


# ------------------------------------- new vs returning revenue split


@query(
    "new_vs_returning_split",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey,
             {duck_epoch('o_orderdate', 'day')}
               // {_LTV_PERIOD_DAYS} AS period,
             CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
               AS cents
      FROM orders
    ),
    first_p AS (SELECT o_custkey, MIN(period) AS first_period FROM o GROUP BY 1)
    SELECT o.period,
           CAST(SUM(CASE WHEN o.period = f.first_period THEN o.cents
                         ELSE 0 END) AS BIGINT) AS new_cents,
           CAST(SUM(CASE WHEN o.period > f.first_period THEN o.cents
                         ELSE 0 END) AS BIGINT) AS returning_cents,
           CAST(SUM(CASE WHEN o.period = f.first_period THEN 1
                         ELSE 0 END) AS BIGINT) AS n_new_orders,
           CAST(SUM(CASE WHEN o.period > f.first_period THEN 1
                         ELSE 0 END) AS BIGINT) AS n_returning_orders
    FROM o JOIN first_p f USING (o_custkey)
    GROUP BY 1
    """,
)
def new_vs_returning_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning revenue split per {_LTV_PERIOD_DAYS}-day
    period: each period's revenue and order count divided between
    customers in their FIRST period and everyone after it — the
    growth-accounting readout that separates acquisition from
    retention revenue.  Integer day/period arithmetic, DECIMAL-exact
    cents.

    Scale shape: one custkey aggregate for first periods, joined back
    on the same key (co-partitioned), one period rollup — no window,
    no driver state."""
    o = t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        f"{spark_epoch('o_orderdate', 'day')} DIV {_LTV_PERIOD_DAYS} AS period",
        "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)"
        " AS cents",
    )
    first_p = o.groupBy("o_custkey").agg(F.min("period").alias("first_period"))
    j = o.join(first_p, "o_custkey")
    is_new = F.col("period") == F.col("first_period")
    is_ret = F.col("period") > F.col("first_period")
    return j.groupBy("period").agg(
        F.sum(F.when(is_new, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("new_cents"),
        F.sum(F.when(is_ret, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("returning_cents"),
        F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint").alias("n_new_orders"),
        F.sum(F.when(is_ret, 1).otherwise(0))
        .cast("bigint")
        .alias("n_returning_orders"),
    )


new_vs_returning_split.__doc__ = (new_vs_returning_split.__doc__ or "").replace(
    "{_LTV_PERIOD_DAYS}", str(_LTV_PERIOD_DAYS)
)


# --------------------------------------------- duplicate-order audit


@query(
    "duplicate_line_audit",
    oracle="""
    SELECT l_orderkey, l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS cents_total,
           CAST(MIN(l_linenumber) AS BIGINT) AS first_line,
           CAST(MAX(l_linenumber) AS BIGINT) AS last_line
    FROM lineitem
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def duplicate_line_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate line-entry screen: the same part entered on MULTIPLE
    line numbers of one order — the double-entry / double-charge audit
    a finance pipeline runs before close (and the data-quality gate
    before any per-(order, part) join assumes uniqueness).  Emits each
    suspicious group with its multiplicity, the total exposed cents,
    and the first/last line numbers for triage.

    Scale shape: ONE hash aggregate on the natural (orderkey, partkey)
    key — map-side partial combine does nearly all the work since
    duplicate groups are rare; no join, no window, no sort."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100"
                " AS BIGINT)"
            ).alias("cents_total"),
            F.min("l_linenumber").cast("bigint").alias("first_line"),
            F.max("l_linenumber").cast("bigint").alias("last_line"),
        )
        .filter(F.col("n_lines") >= 2)
    )


# ----------------------------------- Markov stationary distribution

_MARKOV_DUCK = """
    WITH nxt AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
      FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    states AS (SELECT DISTINCT event_type AS state FROM events),
    p AS (
      SELECT src, dst,
             (n * 1000000) // SUM(n) OVER (PARTITION BY src) AS p_e6
      FROM c
      UNION ALL
      SELECT state, state, 1000000
      FROM states WHERE state NOT IN (SELECT src FROM c)
    ),
    v0 AS (
      SELECT state, 1000000 // (SELECT COUNT(*) FROM states) AS v_e6
      FROM states
    ),
    v1 AS (
      SELECT p.dst AS state, SUM(v0.v_e6 * p.p_e6) // 1000000 AS v_e6
      FROM v0 JOIN p ON v0.state = p.src GROUP BY 1
    ),
    v2 AS (
      SELECT p.dst AS state, SUM(v1.v_e6 * p.p_e6) // 1000000 AS v_e6
      FROM v1 JOIN p ON v1.state = p.src GROUP BY 1
    ),
    v3 AS (
      SELECT p.dst AS state, SUM(v2.v_e6 * p.p_e6) // 1000000 AS v_e6
      FROM v2 JOIN p ON v2.state = p.src GROUP BY 1
    )
    SELECT s.state, CAST(COALESCE(v3.v_e6, 0) AS BIGINT) AS v_e6
    FROM states s LEFT JOIN v3 ON v3.state = s.state
    ORDER BY s.state
"""


@query("markov_stationary_power", oracle=_MARKOV_DUCK)
def markov_stationary_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary-distribution estimate of the user event chain: the
    event_transition_matrix probabilities (integer e6 units, dangling
    states closed with a self-loop) advanced three synchronous power-
    iteration steps from the uniform vector — 'where does a user's
    session settle' as one number per event type.  Every step is
    all-integer (SUM(v_e6 * p_e6) DIV 1e6, truncating), so both
    engines run the identical fixed-point arithmetic and agree
    exactly; mass lost to truncation stays lost identically.

    Scale shape: the event stream is touched once (the same user-keyed
    lead window event_transition_matrix exchanges on); after that
    rollup everything is K x K for K = distinct event types (a
    handful), broadcast through all three steps — iteration depth
    adds NO shuffle of the big table.  Cites the power-iteration
    pattern of operators/graph.py:258 (pagerank) at matrix scale."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = nxt.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    states = e.select(F.col("event_type").alias("state")).distinct()
    share_w = Window.partitionBy("src")
    p_trans = c.select(
        "src",
        "dst",
        F.expr("(n * CAST(1000000 AS BIGINT)) ").alias("_num"),
        F.sum("n").over(share_w).alias("_den"),
    ).selectExpr("src", "dst", "_num DIV _den AS p_e6")
    dangling = states.join(
        c.select("src").distinct(), states.state == F.col("src"), "left_anti"
    ).select(
        F.col("state").alias("src"),
        F.col("state").alias("dst"),
        F.lit(1000000).cast("bigint").alias("p_e6"),
    )
    p_full = p_trans.unionByName(dangling)
    k = states.agg(F.count(F.lit(1)).alias("_k"))
    v = states.join(F.broadcast(k)).selectExpr(
        "state", "CAST(1000000 AS BIGINT) DIV _k AS v_e6"
    )
    for _ in range(3):
        v = (
            p_full.join(
                F.broadcast(v), p_full.src == v.state
            )
            .groupBy("dst")
            .agg(F.expr("SUM(v_e6 * p_e6) DIV 1000000 AS v_e6"))
            .select(F.col("dst").alias("state"), "v_e6")
        )
    return (
        states.join(v.withColumnRenamed("state", "_vs"),
                    states.state == F.col("_vs"), "left")
        .select(
            "state",
            F.coalesce(F.col("v_e6"), F.lit(0)).cast("bigint").alias("v_e6"),
        )
        .orderBy("state")
    )


# ------------------------------------ log-log elasticity regression

_ELAST_DUCK = f"""
    WITH per_part AS (
      SELECT p.p_brand, p.p_partkey,
             CAST({round_half('LN(p.p_retailprice)', 10)} AS DECIMAL(12,10)) AS x,
             CAST({round_half('LN(1.0 + SUM(CAST(l.l_quantity AS DECIMAL(12,2))))', 10)} AS DECIMAL(12,10)) AS y
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2, p.p_retailprice
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           {dec_double("SUM(CAST(x * y AS DECIMAL(38,20)))")} AS sxy,
           {dec_double("SUM(CAST(x * x AS DECIMAL(38,20)))")} AS sxx
    FROM per_part
    GROUP BY 1 ORDER BY 1
"""


@query("elasticity_loglog_terms", oracle=_ELAST_DUCK)
def elasticity_loglog_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand log-log demand-curve sufficient statistics: x =
    ln(retail price), y = ln(1 + total quantity sold) per part, and
    the brand-level OLS moments (n, Sx, Sy, Sxy, Sxx) from which the
    reader forms slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) — the price
    elasticity a pricing team fits per brand.  Logs follow the 10-dp
    decimal convention (theil_index_terms) and the cross moments are
    exact DECIMAL(38,20) products; each exact sum leaves as the nearest
    DOUBLE (the _util output-type rule: Sxy and Sxx pass 2^53 unscaled
    and go through dec_double), so the emitted statistics are
    bit-identical across engines.

    Scale shape: lineitem aggregates to per-part quantity first
    (map-side partial on l_partkey), the part join is dim-sized, and
    the brand rollup is a handful of rows."""
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.expr("SUM(CAST(l_quantity AS DECIMAL(12,2))) AS _qty"))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .select(
            "p_brand",
            F.expr(
                f"CAST({round_half('LN(p_retailprice)', 10)} AS DECIMAL(12,10))"
            ).alias("x"),
            F.expr(
                f"CAST({round_half('LN(1.0 + _qty)', 10)} AS DECIMAL(12,10))"
            ).alias("y"),
        )
    )
    return (
        per_part.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.expr("CAST(SUM(x) AS DOUBLE) AS sx"),
            F.expr("CAST(SUM(y) AS DOUBLE) AS sy"),
            F.expr(dec_double("SUM(CAST(x * y AS DECIMAL(38,20)))"))
            .alias("sxy"),
            F.expr(dec_double("SUM(CAST(x * x AS DECIMAL(38,20)))"))
            .alias("sxx"),
        )
        .orderBy("p_brand")
    )


# ------------------------------ Markov removal-effect attribution

_MRK_STEPS = 8


def _markov_removal_oracle() -> str:
    """Unrolled DuckDB twin of attribution_markov_removal (the Spark
    side loops {_MRK_STEPS} tiny broadcast joins; SQL unrolls them)."""
    steps = []
    prev = "v0"
    for i in range(1, _MRK_STEPS + 1):
        steps.append(
            f"""v{i} AS MATERIALIZED (
      SELECT p.r, p.dst AS state, SUM({prev}.m * p.p_e6) // 1000000 AS m
      FROM {prev} JOIN p ON p.r = {prev}.r AND p.src = {prev}.state
      GROUP BY 1, 2
    )"""
        )
        prev = f"v{i}"
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH firstbuy AS MATERIALIZED (
      SELECT user_id,
             MIN(ROW(ts, event_id)) AS fb
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    journey AS MATERIALIZED (
      SELECT e.user_id, e.ts, e.event_id, e.event_type,
             fb.fb IS NOT NULL AS converted
      FROM events e LEFT JOIN firstbuy fb ON fb.user_id = e.user_id
      WHERE fb.fb IS NULL OR ROW(e.ts, e.event_id) <= fb.fb
    ),
    seq AS MATERIALIZED (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt,
             converted
      FROM journey
    ),
    trans AS MATERIALIZED (
      SELECT event_type AS src,
             CASE WHEN nxt = 'purchase' THEN 'CONV'
                  WHEN nxt IS NULL THEN 'NULL'
                  ELSE nxt END AS dst
      FROM seq WHERE event_type <> 'purchase'
      UNION ALL
      SELECT 'START',
             CASE WHEN first_type = 'purchase' THEN 'CONV'
                  ELSE first_type END
      FROM (
        SELECT user_id, event_type AS first_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM journey
      ) WHERE rn = 1
    ),
    cnt AS MATERIALIZED (SELECT src, dst, COUNT(*) AS n FROM trans GROUP BY 1, 2),
    prob AS MATERIALIZED (
      SELECT src, dst,
             (n * 1000000) // SUM(n) OVER (PARTITION BY src) AS p_e6
      FROM cnt
    ),
    chan AS MATERIALIZED (
      SELECT DISTINCT src AS c FROM prob WHERE src <> 'START'
    ),
    rkeys AS MATERIALIZED (SELECT c AS r FROM chan UNION ALL SELECT '(none)'),
    p_adj AS MATERIALIZED (
      SELECT rk.r, pr.src,
             CASE WHEN pr.dst = rk.r THEN 'NULL' ELSE pr.dst END AS dst,
             pr.p_e6
      FROM prob pr CROSS JOIN rkeys rk
      WHERE pr.src <> rk.r
    ),
    p AS MATERIALIZED (
      SELECT r, src, dst, SUM(p_e6) AS p_e6
      FROM (
        SELECT r, src, dst, p_e6 FROM p_adj
        UNION ALL
        SELECT c, c, 'NULL', 1000000 FROM chan
        UNION ALL
        SELECT r, s, s, 1000000
        FROM rkeys CROSS JOIN (VALUES ('CONV'), ('NULL')) AS a(s)
      ) GROUP BY 1, 2, 3
    ),
    v0 AS MATERIALIZED (SELECT r, 'START' AS state, CAST(1000000 AS BIGINT) AS m
           FROM rkeys),
    {steps_sql},
    conv AS MATERIALIZED (
      SELECT rk.r, COALESCE(vf.m, 0) AS conv_e6
      FROM rkeys rk
      LEFT JOIN (SELECT r, m FROM v{_MRK_STEPS} WHERE state = 'CONV') vf
        ON vf.r = rk.r
    ),
    eff AS MATERIALIZED (
      SELECT c.r AS channel, b.conv_e6 AS conv_base_e6,
             c.conv_e6 AS conv_removed_e6,
             1000000 - (c.conv_e6 * 1000000) // b.conv_e6
               AS removal_effect_e6
      FROM conv c CROSS JOIN (SELECT conv_e6 FROM conv
                              WHERE r = '(none)') b
      WHERE c.r <> '(none)'
    )
    SELECT channel,
           CAST(conv_base_e6 AS BIGINT) AS conv_base_e6,
           CAST(conv_removed_e6 AS BIGINT) AS conv_removed_e6,
           CAST(removal_effect_e6 AS BIGINT) AS removal_effect_e6,
           CAST((removal_effect_e6 * 1000000)
                // (SELECT SUM(removal_effect_e6) FROM eff)
                AS BIGINT) AS attribution_e6
    FROM eff
    ORDER BY attribution_e6 DESC, channel
"""


@query("attribution_markov_removal", oracle=_markov_removal_oracle())
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) multi-touch attribution — the
    data-driven model that replaces positional heuristics: journeys
    are each user's events up to their FIRST purchase, a first-order
    chain START -> channels -> CONV/NULL is fit as e6 integer
    probabilities, and each channel's credit is its removal effect
    1 - P(conv | channel's transitions redirected to NULL), computed
    by {_MRK_STEPS} synchronous power-iteration steps with absorbing
    CONV/NULL self-loops (markov_stationary_power's arithmetic:
    SUM(m * p) DIV 1e6, truncating — both engines identical).
    Completes the attribution family (last-touch / linear /
    position / time-decay) with the removal-effect member.

    Scale shape: the event stream is touched once (the user-keyed
    lead window every sessionization op shares + one user-keyed
    first-event argmin); everything after lives on the K x K
    transition matrix crossed with |channels|+1 removal variants — a
    few hundred rows total.  The removal variants are built by
    crossJoin against the DISTINCT channel table (no driver collect,
    no data-dependent loop), and the {_MRK_STEPS}-step power
    iteration is unrolled as chained map-algebra projections over ONE
    collected row per variant (round 12; previously 8 broadcast
    join+agg stages whose fixed scheduling cost dominated the wall at
    every scale).  prob and the post-iteration conv vector are
    localCheckpointed (supersede_checkpoint) so no broadcast subtree
    replays the event-stream lineage — the post-rollup cost is one
    tiny exchange plus codegen'd integer algebra, CONSTANT in corpus
    size (only the one event-stream pass scales)."""
    e = t(spark, sf_dir, "events")
    buys = e.filter(F.col("event_type") == "purchase")
    firstbuy = buys.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id")).alias("fb")
    )
    journey = (
        e.join(firstbuy, "user_id", "left")
        .filter(
            F.col("fb").isNull()
            | (F.struct("ts", "event_id") <= F.col("fb"))
        )
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = journey.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    )
    trans_mid = seq.filter(F.col("event_type") != "purchase").select(
        F.col("event_type").alias("src"),
        F.expr(
            "CASE WHEN nxt = 'purchase' THEN 'CONV'"
            " WHEN nxt IS NULL THEN 'NULL' ELSE nxt END"
        ).alias("dst"),
    )
    trans_start = (
        journey.groupBy("user_id")
        .agg(
            F.min(F.struct("ts", "event_id", "event_type")).alias("fe")
        )
        .select(
            F.lit("START").alias("src"),
            F.expr(
                "CASE WHEN fe.event_type = 'purchase' THEN 'CONV'"
                " ELSE fe.event_type END"
            ).alias("dst"),
        )
    )
    cnt = (
        trans_mid.unionByName(trans_start)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from instructions_mr_spark.queries._util import supersede_checkpoint

    share_w = Window.partitionBy("src")
    prob = supersede_checkpoint(
        "markov_removal_prob",
        cnt.select(
            "src",
            "dst",
            F.expr("(n * CAST(1000000 AS BIGINT))").alias("_num"),
            F.sum("n").over(share_w).alias("_den"),
        )
        .selectExpr("src", "dst", "_num DIV _den AS p_e6")
        .coalesce(1)
        ,
    )
    chan = prob.filter(F.col("src") != "START").select(
        F.col("src").alias("c")
    ).distinct()
    rkeys = supersede_checkpoint(
        "markov_removal_rkeys",
        chan.select(F.col("c").alias("r"))
        .unionByName(literal_df(spark, [("(none)",)], "r string"))
        .coalesce(1)
        ,
    )
    p_adj = (
        prob.crossJoin(F.broadcast(rkeys))
        .filter(F.col("src") != F.col("r"))
        .select(
            "r",
            "src",
            F.expr("CASE WHEN dst = r THEN 'NULL' ELSE dst END").alias("dst"),
            "p_e6",
        )
    )
    self_null = chan.select(
        F.col("c").alias("r"),
        F.col("c").alias("src"),
        F.lit("NULL").alias("dst"),
        F.lit(1000000).cast("bigint").alias("p_e6"),
    )
    absorb = rkeys.crossJoin(
        F.broadcast(literal_df(spark, [("CONV",), ("NULL",)], "s string"))
    ).select(
        "r",
        F.col("s").alias("src"),
        F.col("s").alias("dst"),
        F.lit(1000000).cast("bigint").alias("p_e6"),
    )
    p_full = (
        p_adj.unionByName(self_null)
        .unionByName(absorb)
        .groupBy("r", "src", "dst")
        .agg(F.sum("p_e6").alias("p_e6"))
    )
    # Collapse the {_MRK_STEPS}-step power iteration into ONE
    # higher-order fold over ONE collected row per removal variant
    # (round 12).  The previous shape looped 8 broadcast join+agg
    # stages over the same few-hundred-row matrix — correct and
    # corpus-constant, but ~5 s of fixed tiny-stage scheduling at ANY
    # scale (driver heavies r11: 6.3-6.7 s total).  Per r the matrix
    # is K+2 states, so the whole iteration is O(steps * K * |trans|)
    # integer algebra that whole-stage codegen evaluates in
    # microseconds.  The fold MUST be a single aggregate() whose
    # accumulator is the state map: chaining per-step projection
    # columns instead lets CollapseProject inline step i's map
    # expression into step i+1's per-element lambda, where it is
    # RE-EVALUATED per element_at — an O(K^steps) blowup (measured:
    # the 8-step chain hung the optimizer/codegen for minutes; the
    # fold runs in milliseconds).  Arithmetic is bit-identical to the
    # join version: per dst, SUM(m[src] * p_e6) DIV 1e6 with absent
    # states contributing 0 (the join version drops them pre-sum;
    # adding zero terms to an integer sum before the one truncating
    # division changes nothing).
    conv = supersede_checkpoint(
        "markov_removal_conv",
        p_full.groupBy("r")
        .agg(F.collect_list(F.struct("src", "dst", "p_e6")).alias("trans"))
        .coalesce(1)
        .withColumn(
            "_dsts", F.expr("array_distinct(transform(trans, t -> t.dst))")
        )
        .select(
            "r",
            F.expr(
                f"""coalesce(element_at(
                  aggregate(
                    sequence(1, {_MRK_STEPS}),
                    map('START', CAST(1000000 AS BIGINT)),
                    (v, step) -> map_from_arrays(
                      _dsts,
                      transform(_dsts, d ->
                        aggregate(
                          filter(trans, t -> t.dst = d),
                          CAST(0 AS BIGINT),
                          (acc, t) -> acc
                            + coalesce(element_at(v, t.src),
                                       CAST(0 AS BIGINT)) * t.p_e6
                        ) DIV 1000000))
                  ),
                  'CONV'), CAST(0 AS BIGINT)) AS conv_e6"""
            ),
        ),
    )
    base = conv.filter(F.col("r") == "(none)").select(
        F.col("conv_e6").alias("_base")
    )
    eff = (
        conv.filter(F.col("r") != "(none)")
        .crossJoin(F.broadcast(base))
        .selectExpr(
            "r AS channel",
            "_base AS conv_base_e6",
            "conv_e6 AS conv_removed_e6",
            "1000000 - (conv_e6 * 1000000) DIV _base AS removal_effect_e6",
        )
    )
    tot = eff.agg(F.sum("removal_effect_e6").alias("_tot"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .selectExpr(
            "channel",
            "CAST(conv_base_e6 AS BIGINT) AS conv_base_e6",
            "CAST(conv_removed_e6 AS BIGINT) AS conv_removed_e6",
            "CAST(removal_effect_e6 AS BIGINT) AS removal_effect_e6",
            "CAST((removal_effect_e6 * 1000000) DIV _tot AS BIGINT)"
            " AS attribution_e6",
        )
        .orderBy(F.col("attribution_e6").desc(), "channel")
    )


attribution_markov_removal.__doc__ = (
    attribution_markov_removal.__doc__ or ""
).replace("{_MRK_STEPS}", str(_MRK_STEPS))


@query(
    "simpsons_paradox_audit",
    oracle="""
    WITH l AS (
      SELECT CASE WHEN GROUPING(CAST((p.p_size - 1) // 10 AS BIGINT)) = 1
                  THEN -1
                  ELSE CAST((p.p_size - 1) // 10 AS BIGINT) END AS stratum,
             CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_t,
             CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                  THEN CAST(FLOOR(li.l_discount * 10000 + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS s_t,
             CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_c,
             CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN 0
                  ELSE CAST(FLOOR(li.l_discount * 10000 + 0.5) AS BIGINT)
                  END) AS BIGINT) AS s_c
      FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
      GROUP BY ROLLUP (CAST((p.p_size - 1) // 10 AS BIGINT))
    )
    SELECT stratum, n_t, s_t, n_c, s_c,
           CAST(CAST(s_t AS DECIMAL(38,0)) * n_c
                > CAST(s_c AS DECIMAL(38,0)) * n_t AS BOOLEAN)
             AS treat_higher
    FROM l WHERE n_t > 0 AND n_c > 0
    """,
)
def simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen for the PROMO discount story: mean
    discount of PROMO vs non-PROMO lines, overall (stratum -1) AND
    within each part-size class — if ``treat_higher`` flips sign
    between the ALL row and the strata, the aggregate comparison is
    confounded by size mix and any 'promos get deeper discounts'
    conclusion must condition on it.  The comparison is the exact
    cross-multiplication s_t·n_c > s_c·n_t in DECIMAL(38,0) (means
    never materialize, so nothing floats); strata with an empty arm
    are dropped on both engines.

    Scale shape: part joins hint-free; ONE map-side-combinable ROLLUP
    aggregate produces all strata and the ALL row in a single
    exchange — output is bounded by the size-class domain."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).withColumn(
        "size_cls", F.expr("CAST((p_size - 1) DIV 10 AS BIGINT)")
    )
    disc = "CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT)"
    rolled = (
        j.rollup("size_cls")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_t"),
            F.expr(
                f"CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {disc}"
                f" ELSE 0 END) AS BIGINT)"
            ).alias("s_t"),
            F.expr(
                "CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN 0 ELSE 1 END)"
                " AS BIGINT)"
            ).alias("n_c"),
            F.expr(
                f"CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN 0"
                f" ELSE {disc} END) AS BIGINT)"
            ).alias("s_c"),
            F.grouping(F.col("size_cls")).alias("g"),
        )
        .select(
            F.expr(
                "CAST(CASE WHEN g = 1 THEN -1 ELSE size_cls END AS BIGINT)"
            ).alias("stratum"),
            "n_t",
            "s_t",
            "n_c",
            "s_c",
        )
    )
    return rolled.filter((F.col("n_t") > 0) & (F.col("n_c") > 0)).select(
        "stratum",
        "n_t",
        "s_t",
        "n_c",
        "s_c",
        F.expr(
            "CAST(CAST(s_t AS DECIMAL(38,0)) * n_c"
            " > CAST(s_c AS DECIMAL(38,0)) * n_t AS BOOLEAN)"
        ).alias("treat_higher"),
    )


@query(
    "session_gap_sensitivity",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             {duck_epoch('ts', 's')} AS sec
      FROM events
    ),
    d AS (
      SELECT sec - LAG(sec) OVER (PARTITION BY user_id
                                  ORDER BY sec, user_id) AS delta
      FROM ev
    ),
    agg AS (
      SELECT COUNT(*) AS n_events,
             SUM(CASE WHEN delta IS NULL THEN 1 ELSE 0 END) AS n_users,
             SUM(CASE WHEN delta > 600 THEN 1 ELSE 0 END) AS b600,
             SUM(CASE WHEN delta > 1800 THEN 1 ELSE 0 END) AS b1800,
             SUM(CASE WHEN delta > 3600 THEN 1 ELSE 0 END) AS b3600
      FROM d
    )
    SELECT g.gap_s,
           CAST(agg.n_users + CASE g.gap_s WHEN 600 THEN b600
                WHEN 1800 THEN b1800 ELSE b3600 END AS BIGINT) AS n_sessions,
           CAST(agg.n_users AS BIGINT) AS n_users,
           CAST(agg.n_events AS BIGINT) AS n_events
    FROM agg, (SELECT 600 AS gap_s UNION ALL SELECT 1800
               UNION ALL SELECT 3600) g
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization sensitivity analysis: how many sessions the
    corpus splits into at inactivity gaps of 10 / 30 / 60 minutes,
    computed in ONE pass — per user, each inter-event delta above a
    threshold starts a session, so n_sessions(g) = n_users + breaks(g)
    and all three thresholds fall out of the same delta table.  The
    standard calibration before committing a session definition
    (pick the knee of this curve, not a folklore 30).

    Scale shape: one LAG window partitioned by user (the natural
    sessionization exchange), one global conditional aggregate, and
    a 3-row unpivot of that single row — the threshold sweep costs
    nothing extra."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.expr(spark_epoch("ts", "s")).alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "user_id")
    d = ev.select((F.col("sec") - F.lag("sec").over(w)).alias("delta"))
    agg = d.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("delta").isNull(), 1).otherwise(0)).alias(
            "n_users"
        ),
        F.sum(F.when(F.col("delta") > 600, 1).otherwise(0)).alias("b600"),
        F.sum(F.when(F.col("delta") > 1800, 1).otherwise(0)).alias("b1800"),
        F.sum(F.when(F.col("delta") > 3600, 1).otherwise(0)).alias("b3600"),
    )
    return agg.selectExpr(
        "stack(3, 600, b600, 1800, b1800, 3600, b3600)"
        " AS (gap_s, breaks)",
        "n_users",
        "n_events",
    ).select(
        F.col("gap_s").cast("int").alias("gap_s"),
        (F.col("n_users") + F.col("breaks")).cast("bigint").alias(
            "n_sessions"
        ),
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@query(
    "audience_overlap_matrix",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT event_type, COUNT(*) AS n_u FROM tu GROUP BY 1),
    boths AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(na.n_u AS BIGINT) AS n_a,
           CAST(nb.n_u AS BIGINT) AS n_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_both * 1000000 // (na.n_u + nb.n_u - n_both) AS BIGINT)
             AS jaccard_e6
    FROM boths
    JOIN n na ON na.event_type = type_a
    JOIN n nb ON nb.event_type = type_b
    """,
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every pair of event types: distinct
    user counts per type, the co-audience size, and its Jaccard as a
    1e6 fixed-point truncating ratio — 'do purchasers also click?' as
    a full pairwise matrix, the segmentation readout behind channel
    dedup and lookalike seeding.

    Scale shape: the corpus collapses to distinct (type, user) pairs
    in one exchange; the pair join is co-located on user_id (types
    per user are few, so the wedge volume is bounded by
    types-per-user squared, not corpus size); per-type counts
    broadcast back onto the pair rows."""
    tu = t(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    n = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_u"))
    a, b = tu.alias("a"), tu.alias("b")
    boths = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = n.select(F.col("event_type").alias("type_a"), F.col("n_u").alias("n_a"))
    nb = n.select(F.col("event_type").alias("type_b"), F.col("n_u").alias("n_b"))
    return (
        boths.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr(
                "CAST(n_both * CAST(1000000 AS BIGINT)"
                " DIV (n_a + n_b - n_both) AS BIGINT)"
            ).alias("jaccard_e6"),
        )
    )


@query(
    "repeat_purchase_rate_by_brand",
    oracle="""
    WITH bc AS (
      SELECT p.p_brand, o.o_custkey,
             COUNT(DISTINCT l.l_orderkey) AS n_ord
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           CAST(SUM(n_ord) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS repeat_e6
    FROM bc GROUP BY p_brand
    """,
)
def repeat_purchase_rate_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat-purchase rate per brand: of the customers who ever
    bought the brand, the share that ordered it in two or more
    DISTINCT orders (1e6 fixed point) — the loyalty KPI that separates
    habitual brands from one-off trials and the denominator sheet for
    any retention target.

    Scale shape: lineitem joins orders on the natural l_orderkey key
    (one corpus-scale shuffle), part joins hint-free; the (brand,
    customer)
    distinct-order rollup and the per-brand reduce are both map-side
    combinable."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bc = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "o_custkey")
        .agg(F.countDistinct("l_orderkey").alias("n_ord"))
    )
    return bc.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum(F.when(F.col("n_ord") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeat"),
        F.sum("n_ord").cast("bigint").alias("n_orders"),
        F.expr(
            "CAST(SUM(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(1) AS BIGINT)"
        ).alias("repeat_e6"),
    )


@query(
    "single_source_parts_risk",
    oracle="""
    WITH ps AS (
      SELECT l_partkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(LEAST(n_supp, 4) AS BIGINT) AS supp_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_c) AS BIGINT) AS rev_c
    FROM ps GROUP BY 1
    """,
)
def single_source_parts_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration risk: parts bucketed by how many
    DISTINCT suppliers ever shipped them (1 / 2 / 3 / 4+), with the
    exact-cents revenue riding on each bucket — the single-source
    bucket's revenue is the exposure a procurement team must dual-
    source first.  The inverse cut of part_supplier_redundancy (which
    profiles the catalog file); this one weights by actual shipped
    revenue.

    Scale shape: one (part)-keyed aggregate with a distinct-count
    (partial aggregation handles the distinct), then a 4-bucket
    rollup — map-side combinable both stages."""
    ps = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("rev_c"),
        )
    )
    return ps.groupBy(
        F.least(F.col("n_supp"), F.lit(4)).cast("bigint").alias("supp_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("rev_c").cast("bigint").alias("rev_c"),
    )


@query(
    "nation_trade_balance",
    oracle="""
    WITH sell AS (
      SELECT s.s_nationkey AS nkey,
             SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               AS sell_c
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1
    ),
    buy AS (
      SELECT c.c_nationkey AS nkey,
             SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               AS buy_c
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT COALESCE(sell.nkey, buy.nkey) AS nkey,
           CAST(COALESCE(sell_c, 0) AS BIGINT) AS sell_c,
           CAST(COALESCE(buy_c, 0) AS BIGINT) AS buy_c,
           CAST(COALESCE(sell_c, 0) - COALESCE(buy_c, 0) AS BIGINT)
             AS balance_c
    FROM sell FULL OUTER JOIN buy ON sell.nkey = buy.nkey
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade balance per nation: revenue its suppliers SHIPPED minus
    revenue its customers SPENT (exact cents, full outer join so a
    nation active on only one side still reports) — the TPC-H-world
    import/export sheet, and a nontrivial exercise of two independent
    corpus aggregations meeting in a coalesced full join.

    Scale shape: the sell side joins supplier hint-free; the buy side
    shuffles lineitem->orders on the natural orderkey then joins
    customer's (custkey, nationkey) projection; both collapse to
    nation-domain tables BEFORE the full join, which therefore moves
    ~25 rows."""
    li = t(spark, sf_dir, "lineitem")
    cents = "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sell = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nkey"))
        .agg(F.expr(cents).alias("sell_c"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    buy = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nkey"))
        .agg(F.expr(cents).alias("buy_c"))
    )
    j = sell.withColumnRenamed("nkey", "snkey").join(
        buy.withColumnRenamed("nkey", "bnkey"),
        F.col("snkey") == F.col("bnkey"),
        "full",
    )
    return j.select(
        F.coalesce("snkey", "bnkey").alias("nkey"),
        F.coalesce("sell_c", F.lit(0)).cast("bigint").alias("sell_c"),
        F.coalesce("buy_c", F.lit(0)).cast("bigint").alias("buy_c"),
        (F.coalesce("sell_c", F.lit(0)) - F.coalesce("buy_c", F.lit(0)))
        .cast("bigint")
        .alias("balance_c"),
    )


@query(
    "bgnbd_input_terms",
    oracle=f"""
    WITH days AS (
      SELECT o_custkey,
             {duck_epoch('o_orderdate', 'day')}
               AS day_idx
      FROM orders
    ),
    per AS (
      SELECT o_custkey,
             COUNT(*) AS n_ord,
             MIN(day_idx) AS first_d,
             MAX(day_idx) AS last_d
      FROM days GROUP BY 1
    ),
    horizon AS (SELECT MAX(day_idx) AS h FROM days)
    SELECT o_custkey,
           CAST(n_ord - 1 AS BIGINT) AS x,
           CAST(last_d - first_d AS BIGINT) AS t_x_days,
           CAST(h - first_d AS BIGINT) AS cap_t_days
    FROM per, horizon
    """,
)
def bgnbd_input_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BG/NBD customer-lifetime inputs: per customer, the repeat count
    x = orders - 1, recency t_x = days between first and last order,
    and observation age T = days from first order to the corpus
    horizon — exactly the (x, t_x, T) triple the Fader/Hardie
    buy-till-you-die model fits, emitted as exact integer days so the
    likelihood optimization downstream starts from bit-stable data.

    Scale shape: one customer-keyed aggregate over orders; the corpus
    horizon is a 1-row aggregate broadcast back via cross join (the
    house refdate idiom — no second scan, no collect)."""
    days = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(spark_epoch("o_orderdate", "day")).alias("day_idx"),
    )
    per = days.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_ord"),
        F.min("day_idx").alias("first_d"),
        F.max("day_idx").alias("last_d"),
    )
    horizon = days.agg(F.max("day_idx").alias("h"))
    return per.crossJoin(F.broadcast(horizon)).select(
        "o_custkey",
        (F.col("n_ord") - 1).cast("bigint").alias("x"),
        (F.col("last_d") - F.col("first_d")).cast("bigint").alias("t_x_days"),
        (F.col("h") - F.col("first_d")).cast("bigint").alias("cap_t_days"),
    )


@query(
    "event_cooccurrence_60s",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type,
             {duck_epoch('ts', 's')} AS sec
      FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM ev a JOIN ev b
      ON a.user_id = b.user_id
     AND a.event_type < b.event_type
     AND b.sec BETWEEN a.sec - 60 AND a.sec + 60
    GROUP BY 1, 2
    """,
)
def event_cooccurrence_60s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal co-occurrence matrix: pairs of DIFFERENT event types
    fired by the same user within 60 seconds of each other, with the
    distinct-user reach of each pairing — the signal behind 'viewing
    and carting happen together' session insights and the feature
    cross-correlation screen before building sequence models.  Type
    pairs are ordered (a < b) so each co-occurrence counts once.

    Scale shape: a SELF-join co-located on user_id (the equi-key;
    the +/-60 s band is a residual predicate inside the join, never a
    cross product) — per-user event counts bound the wedge volume,
    and the rollup is map-side combinable."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(spark_epoch("ts", "s")).alias("sec")
    )
    a, b = ev.alias("a"), ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type"))
        & (F.col("b.sec") >= F.col("a.sec") - 60)
        & (F.col("b.sec") <= F.col("a.sec") + 60),
    )
    return pairs.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct(F.col("a.user_id")).cast("bigint").alias("n_users"),
    )


@query(
    "agg_argminmax",
    oracle="""
    WITH k AS (
      SELECT c_mktsegment, c_custkey,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) * 1000000000000
               + c_custkey AS ordkey
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(arg_max(c_custkey, ordkey) AS BIGINT) AS richest_key,
           CAST(arg_min(c_custkey, ordkey) AS BIGINT) AS poorest_key,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM k GROUP BY c_mktsegment
    """,
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAX_BY / MIN_BY aggregate surface with a DETERMINISTIC tie
    break: the richest and poorest customer per segment, ordered by
    the packed scalar cents*1e12 + custkey so equal balances resolve
    by key instead of by partition order — the one-line replacement
    for the self-join-on-max anti-pattern, pinned with the tie
    discipline that makes it reproducible (bare max_by on a tied
    column is engine-order-dependent).  The packing is total while
    custkey < 1e12 (the graph.py triangle-key bound, same caveat).

    Scale shape: single map-side-combinable aggregate on the segment
    key — argmin/argmax carry one (value, key) pair per group through
    the combine."""
    k = t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.expr(
            "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) * 1000000000000"
            " + c_custkey"
        ).alias("ordkey"),
    )
    return k.groupBy("c_mktsegment").agg(
        F.expr("max_by(c_custkey, ordkey)").cast("bigint").alias(
            "richest_key"
        ),
        F.expr("min_by(c_custkey, ordkey)").cast("bigint").alias(
            "poorest_key"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@query(
    "agg_listagg_ordered",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_custkey)
             AS top_names,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    WHERE c_custkey <= 200
    GROUP BY c_nationkey
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP): customer
    names per nation concatenated in (balance desc, key) order — the
    report-formatting aggregate whose ORDER BY clause is the whole
    point: an unordered listagg is nondeterministic across partitions
    and WILL hash-differently on every run, so the engine pins the
    ordered form only.  Input bounded to the first 200 keys to keep
    the string payload a report, not a blob.

    Scale shape: one aggregate on the nation key; the ordered concat
    sorts WITHIN each group only (group-local, never a global
    sort)."""
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 200)
        .groupBy("c_nationkey")
        .agg(
            F.expr(
                "listagg(c_name, ',')"
                " WITHIN GROUP (ORDER BY c_acctbal DESC, c_custkey)"
            ).alias("top_names"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


@query(
    "order_brand_diversity",
    oracle="""
    WITH per AS (
      SELECT l.l_orderkey,
             COUNT(DISTINCT p.p_brand) AS n_brands
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    )
    SELECT CAST(n_brands AS BIGINT) AS n_brands,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM per GROUP BY 1
    """,
)
def order_brand_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket diversity histogram: orders bucketed by how many
    DISTINCT brands they mix — single-brand baskets signal
    destination shopping, many-brand baskets signal assortment
    browsing, and the histogram's shape decides whether
    cross-merchandising is worth shelf space.

    Scale shape: part joins hint-free; one order-keyed distinct-count
    aggregate, then a rollup onto the small diversity domain — both
    map-side combinable."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.countDistinct("p_brand").alias("n_brands"))
    )
    return per.groupBy(
        F.col("n_brands").cast("bigint").alias("n_brands")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))


@query(
    "dominant_period_by_type",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT unnest(generate_series(1, 14)) AS lag),
    terms AS (
      SELECT a.event_type, l.lag,
             COUNT(*) AS n_pairs,
             SUM(a.n * b.n) AS s_xy,
             SUM(a.n) AS s_x, SUM(b.n) AS s_y,
             SUM(a.n * a.n) AS s_xx, SUM(b.n * b.n) AS s_yy
      FROM lags l, daily a
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day_idx = a.day_idx + l.lag
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, lag, n_pairs,
             CAST(n_pairs * s_xy - s_x * s_y AS DECIMAL(38,0)) AS cov_num,
             CAST(n_pairs * s_xx - s_x * s_x AS DECIMAL(38,0)) AS var_x,
             CAST(n_pairs * s_yy - s_y * s_y AS DECIMAL(38,0)) AS var_y
      FROM terms WHERE n_pairs >= 8
    ),
    r2 AS (
      SELECT event_type, lag,
             CASE WHEN var_x = 0 OR var_y = 0 THEN -1
                  WHEN cov_num < 0 THEN -1
                  ELSE CAST(CAST(cov_num * cov_num * 1000000
                                 AS HUGEINT)
                            // CAST(var_x * var_y AS HUGEINT) AS BIGINT)
             END AS r2_e6
      FROM scored
    )
    SELECT event_type,
           CAST(arg_max(lag, r2_e6 * 100 - lag) AS BIGINT) AS best_lag,
           CAST(arg_max(r2_e6, r2_e6 * 100 - lag) AS BIGINT) AS best_r2_e6
    FROM r2 GROUP BY event_type
    """,
)
def dominant_period_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant periodicity detector: for each event type, the lag in
    1..14 days whose positive autocorrelation r^2 (1e6 fixed point,
    computed as the exact integer (n*cov)^2 / (var_x * var_y), HUGEINT
    division) is highest — weekly traffic surfaces as best_lag = 7,
    and a flat series pins -1.  Ties break toward the SHORTER lag via
    the packed argmax key r2_e6*100 - lag (|lag| < 100, so the
    packing is a total order), keeping the answer deterministic.
    The argmax-over-grid composition on top of acf_lag_terms'
    sufficient-statistics machinery.  Numeric envelope: cov^2 * 1e6
    must fit DECIMAL(38)/HUGEINT, which holds while per-type daily
    counts stay under ~4e4 on a ~2400-day grid — pre-scale the daily
    series (n DIV 2^k) before the lag join beyond that, exactly as
    the emitted moments allow.

    Scale shape: one (type, day) aggregate is the corpus exchange;
    the 14-lag grid joins on the calendar-bounded daily grid against
    a broadcast lag table; the final argmax is a tiny
    map-side-combinable max_by over type x 14 rows."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr(spark_epoch("ts", "day")).alias(
            "day_idx"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))
    lags = literal_df(ev.sparkSession,
        [(i,) for i in range(1, 15)], "lag int"
    )
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    terms = (
        a.join(
            daily.alias("b"),
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day_idx") == F.col("a.day_idx") + F.col("lag")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("a.n") * F.col("b.n")).alias("s_xy"),
            F.sum("a.n").alias("s_x"),
            F.sum("b.n").alias("s_y"),
            F.sum(F.col("a.n") * F.col("a.n")).alias("s_xx"),
            F.sum(F.col("b.n") * F.col("b.n")).alias("s_yy"),
        )
        .filter(F.col("n_pairs") >= 8)
    )
    r2 = terms.select(
        "event_type",
        "lag",
        F.expr(
            "CASE WHEN CAST(n_pairs * s_xx - s_x * s_x AS DECIMAL(38,0)) = 0"
            "       OR CAST(n_pairs * s_yy - s_y * s_y AS DECIMAL(38,0)) = 0"
            "      THEN -1"
            "      WHEN CAST(n_pairs * s_xy - s_x * s_y AS DECIMAL(38,0)) < 0"
            "      THEN -1"
            "      ELSE CAST(CAST(n_pairs * s_xy - s_x * s_y AS DECIMAL(38,0))"
            "                * CAST(n_pairs * s_xy - s_x * s_y"
            "                       AS DECIMAL(38,0)) * 1000000"
            "           DIV (CAST(n_pairs * s_xx - s_x * s_x AS DECIMAL(38,0))"
            "                * CAST(n_pairs * s_yy - s_y * s_y"
            "                       AS DECIMAL(38,0))) AS BIGINT)"
            " END"
        ).alias("r2_e6"),
    )
    return r2.groupBy("event_type").agg(
        F.expr("max_by(lag, r2_e6 * 100 - lag)")
        .cast("bigint")
        .alias("best_lag"),
        F.expr("max_by(r2_e6, r2_e6 * 100 - lag)")
        .cast("bigint")
        .alias("best_r2_e6"),
    )


@query(
    "user_longest_streak",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             {duck_epoch('ts', 'day')} AS d
      FROM events
    ),
    isl AS (
      SELECT user_id,
             d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
               AS grp
      FROM days
    ),
    runs AS (
      SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2
    ),
    longest AS (
      SELECT user_id, MAX(len) AS max_streak FROM runs GROUP BY 1
    )
    SELECT CAST(max_streak AS BIGINT) AS streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM longest GROUP BY 1
    """,
)
def user_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user, histogrammed:
    the classic d - ROW_NUMBER() gaps-and-islands trick (consecutive
    days share a constant difference against their rank), rolled up
    to 'how many users have a best streak of exactly k days' — the
    engagement-habit metric behind every daily-streak product
    feature.  ROW_NUMBER runs over DISTINCT days, so it is
    deterministic without a tiebreak.

    Scale shape: distinct (user, day) is the corpus exchange; the
    rank window and both rollups are PARTITIONED by user_id; the
    final histogram lands on the small streak-length domain."""
    days = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(spark_epoch("ts", "day")).alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", (F.col("d") - F.row_number().over(w)).alias("grp")
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    longest = runs.groupBy("user_id").agg(F.max("len").alias("max_streak"))
    return longest.groupBy(
        F.col("max_streak").cast("bigint").alias("streak_days")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


@query(
    "catalog_dead_stock",
    oracle="""
    WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem)
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dead,
           CAST(SUM(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS dead_e6
    FROM part p LEFT JOIN sold s ON s.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def catalog_dead_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock share per brand: catalog parts that never appear on
    a single line item (left anti against the distinct sold set),
    as a count and a 1e6 fixed-point share — the assortment-hygiene
    number behind delisting reviews, and the reason catalogs bloat
    when nobody measures it.

    Scale shape: the sold set collapses to distinct part keys (one
    corpus exchange, bare ints); the catalog-side left join then
    rolls up on brand — at 100 TB the distinct key set is
    dimension-sized and broadcasts."""
    sold = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey")
        .distinct()
        .withColumn("sold", F.lit(1))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = p.join(sold, p["p_partkey"] == sold["l_partkey"], "left")
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.when(F.col("sold").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dead"),
        F.expr(
            "CAST(SUM(CASE WHEN sold IS NULL THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(1) AS BIGINT)"
        ).alias("dead_e6"),
    )


@query(
    "captive_customer_share",
    oracle="""
    WITH spend AS (
      SELECT o.o_custkey, l.l_suppkey,
             SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT o_custkey, SUM(c) AS tc FROM spend GROUP BY 1
    )
    SELECT s.l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN 2 * s.c > t.tc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_captive,
           CAST(SUM(s.c) AS BIGINT) AS supplier_rev_c
    FROM spend s JOIN tot t ON t.o_custkey = s.o_custkey
    GROUP BY 1
    """,
)
def captive_customer_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Captive-customer count per supplier: customers whose spend with
    this supplier exceeds HALF their total spend (the strict-majority
    test 2*c > total in exact integers — no share ever floats) — the
    B2B account-concentration metric that tells a supplier which
    relationships are moats and tells the buyer where it has no
    leverage.

    Scale shape: lineitem->orders on the natural orderkey (the corpus
    exchange), one (customer, supplier) rollup, customer totals join
    back on custkey (same partitioning), supplier rollup — every
    stage map-side combinable on a natural key."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    spend = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("c")
        )
    )
    tot = spend.groupBy("o_custkey").agg(F.sum("c").alias("tc"))
    return (
        spend.join(tot, "o_custkey")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.when(2 * F.col("c") > F.col("tc"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_captive"),
            F.sum("c").cast("bigint").alias("supplier_rev_c"),
        )
    )


@query(
    "share_of_parent_two_level",
    oracle="""
    WITH leaf AS (
      SELECT split_part(p.p_type, ' ', 1) AS category, p.p_brand,
             SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    cat AS (SELECT category, SUM(rev) AS crev FROM leaf GROUP BY 1),
    tot AS (SELECT SUM(rev) AS trev FROM leaf)
    SELECT l.category, l.p_brand,
           CAST(l.rev AS BIGINT) AS rev_c,
           CAST(l.rev * 1000000 // c.crev AS BIGINT) AS share_of_cat_e6,
           CAST(c.crev * 1000000 // t.trev AS BIGINT) AS cat_share_e6
    FROM leaf l JOIN cat c USING (category), tot t
    """,
)
def share_of_parent_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level share-of-parent report: each brand's exact-cents
    revenue share WITHIN its category (first word of the part type)
    and each category's share of the total — the drill-down
    percentages every hierarchy report shows side by side, both as
    1e6 truncating fixed point so the engine never emits a float
    share.

    Scale shape: part joins hint-free; one (category, brand) aggregate is
    the corpus exchange; category totals and the 1-row grand total
    join back broadcast (the ratio-to-report pattern without any
    window)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.expr("split_part(p_type, ' ', 1)").alias("category"),
    )
    leaf = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("category", "p_brand")
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("rev")
        )
    )
    cat = leaf.groupBy("category").agg(F.sum("rev").alias("crev"))
    tot = leaf.agg(F.sum("rev").alias("trev"))
    return (
        leaf.join(F.broadcast(cat), "category")
        .crossJoin(F.broadcast(tot))
        .select(
            "category",
            "p_brand",
            F.col("rev").cast("bigint").alias("rev_c"),
            F.expr("CAST(rev * 1000000 DIV crev AS BIGINT)").alias(
                "share_of_cat_e6"
            ),
            F.expr("CAST(crev * 1000000 DIV trev AS BIGINT)").alias(
                "cat_share_e6"
            ),
        )
    )


@query(
    "dwell_time_by_type",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             {duck_epoch('ts', 's')} AS sec
      FROM events
    ),
    d AS (
      SELECT event_type,
             LEAD(sec) OVER (PARTITION BY user_id
                             ORDER BY sec, event_id) - sec AS dwell
      FROM ev
    )
    SELECT event_type,
           CAST(COUNT(dwell) AS BIGINT) AS n_dwells,
           CAST(SUM(dwell) AS BIGINT) AS total_dwell_s,
           CAST(SUM(CASE WHEN dwell = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_instant,
           CAST(MAX(dwell) AS BIGINT) AS max_dwell_s
    FROM d GROUP BY event_type
    """,
)
def dwell_time_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time attributed to the CURRENT event's type: seconds
    until the same user's next event (LEAD over a total per-user
    order), rolled up per type — 'how long do users sit on a click
    vs a view' — with instant transitions (same-second bursts)
    counted separately because they dominate bot traffic.  Each
    user's LAST event has no successor and drops out of the counts
    identically on both engines.

    Scale shape: one LEAD window partitioned by user_id (the
    sessionization exchange), one map-side-combinable per-type
    rollup."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(spark_epoch("ts", "s")).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    d = ev.select(
        "event_type", (F.lead("sec").over(w) - F.col("sec")).alias("dwell")
    )
    return d.groupBy("event_type").agg(
        F.count("dwell").cast("bigint").alias("n_dwells"),
        F.sum("dwell").cast("bigint").alias("total_dwell_s"),
        F.sum(F.when(F.col("dwell") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_instant"),
        F.max("dwell").cast("bigint").alias("max_dwell_s"),
    )


@query(
    "arpu_weekly",
    oracle=f"""
    WITH wk AS (
      SELECT {duck_epoch('ts', 'week')} AS week_idx,
             user_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                  ELSE 0 END AS rev_c
      FROM events
    )
    SELECT week_idx,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users,
           CAST(SUM(rev_c) AS BIGINT) AS revenue_c,
           CAST(SUM(rev_c) * 10000 // COUNT(DISTINCT user_id) AS BIGINT)
             AS arpu_e4
    FROM wk GROUP BY week_idx
    """,
)
def arpu_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly ARPU: purchase revenue divided by DISTINCT active users
    (any event type counts as active — the denominator choice that
    separates honest ARPU from 'revenue per payer'), emitted as 1e4
    fixed-point cents-per-user under truncating division.  Weeks are
    epoch-aligned 7-day blocks, the same convention as the
    epoch-day grid everywhere else in the engine.

    Scale shape: ONE aggregate keyed on the bounded week grid; the
    distinct-user count partial-aggregates; no join at all."""
    wk = t(spark, sf_dir, "events").select(
        F.expr(spark_epoch("ts", "week")).alias("week_idx"),
        "user_id",
        F.expr(
            "CASE WHEN event_type = 'purchase'"
            " THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END"
        ).alias("rev_c"),
    )
    return wk.groupBy("week_idx").agg(
        F.countDistinct("user_id").cast("bigint").alias("active_users"),
        F.sum("rev_c").cast("bigint").alias("revenue_c"),
        F.expr(
            "CAST(SUM(rev_c) * 10000 DIV COUNT(DISTINCT user_id) AS BIGINT)"
        ).alias("arpu_e4"),
    )


@query(
    "topn_revenue_share",
    oracle="""
    WITH per AS (
      SELECT l_partkey,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(rev) AS trev FROM per)
    SELECT l_partkey,
           CAST(rev AS BIGINT) AS rev_c,
           CAST(rev * 1000000 // t.trev AS BIGINT) AS share_e6
    FROM per, tot t
    ORDER BY rev DESC, l_partkey
    LIMIT 10
    """,
)
def topn_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hero-SKU table: top-10 parts by exact-cents revenue, each
    with its 1e6 fixed-point share of TOTAL revenue (not of the
    top-10) — the 'how dependent are we on our best sellers' slide,
    deterministic through ties by the partkey tiebreak.

    Scale shape: one part-keyed aggregate, the grand total broadcast
    via cross join, and a TakeOrderedAndProject top-10 — Spark never
    materializes a full sort for ORDER BY + LIMIT."""
    per = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("rev")
        )
    )
    tot = per.agg(F.sum("rev").alias("trev"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            F.col("rev").cast("bigint").alias("rev_c"),
            F.expr("CAST(rev * 1000000 DIV trev AS BIGINT)").alias(
                "share_e6"
            ),
        )
        .orderBy(F.col("rev_c").desc(), "l_partkey")
        .limit(10)
    )


@query(
    "value_percentile_lookup",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_totalprice < 10000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS below_10k_e6,
           CAST(SUM(CASE WHEN o_totalprice < 100000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS below_100k_e6,
           CAST(SUM(CASE WHEN o_totalprice < 200000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS below_200k_e6
    FROM orders
    """,
)
def value_percentile_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-percentile lookup: what FRACTION of orders falls below
    each business threshold ($10k / $100k / $200k), as 1e6 fixed
    point — the opposite direction from percentile queries ('what
    value is p90' vs 'what p is this value'), and the cheap form:
    thresholds turn the question into one conditional aggregate, no
    sort, no histogram.

    Scale shape: ONE map-side-combinable pass over the scan."""
    return t(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr(
            "CAST(SUM(CASE WHEN o_totalprice < 10000 THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("below_10k_e6"),
        F.expr(
            "CAST(SUM(CASE WHEN o_totalprice < 100000 THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("below_100k_e6"),
        F.expr(
            "CAST(SUM(CASE WHEN o_totalprice < 200000 THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("below_200k_e6"),
    )


@query(
    "burst_max_rate_per_user",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             {duck_epoch('ts', 's')} AS sec
      FROM events
    ),
    rate AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                            RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
               AS r60
      FROM ev
    ),
    peak AS (SELECT user_id, MAX(r60) AS peak60 FROM rate GROUP BY 1)
    SELECT CAST(peak60 AS BIGINT) AS peak_events_60s,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM peak GROUP BY 1
    """,
)
def burst_max_rate_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: each user's PEAK events-per-trailing-60-seconds
    (a RANGE frame over epoch seconds, so simultaneous events count
    together as peers), histogrammed across users — humans top out in
    single digits, scripted clients do not, and this histogram's tail
    is the rate-limit policy input.

    Scale shape: one RANGE window partitioned by user_id (the
    sessionization exchange), a per-user max, and a rollup onto the
    small peak-rate domain — all map-side combinable."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.expr(spark_epoch("ts", "s")).alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-59, Window.currentRow)
    )
    rate = ev.select("user_id", F.count(F.lit(1)).over(w).alias("r60"))
    peak = rate.groupBy("user_id").agg(F.max("r60").alias("peak60"))
    return peak.groupBy(
        F.col("peak60").cast("bigint").alias("peak_events_60s")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


@query(
    "user_dominance_share",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    dom AS (
      SELECT user_id,
             MAX(n) * 1000000 // SUM(n) AS dom_e6
      FROM per GROUP BY 1
    )
    SELECT CAST(dom_e6 // 100000 AS BIGINT) AS dominance_decile,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM dom GROUP BY 1
    """,
)
def user_dominance_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-purpose-ness of each user's activity: the share of their
    events taken by their MOST frequent event type (1e6 fixed point),
    histogrammed in 10%-wide bands — a spike at 1.0 means bots or
    one-feature users, a hump near 1/k means broad engagement; the
    one-number per-user complement to user_activity_depth's distinct
    counts.

    Scale shape: one (user, type) aggregate, a per-user max/sum
    reduce, and a 10-band rollup — all map-side combinable on natural
    keys."""
    per = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dom = per.groupBy("user_id").agg(
        F.expr("MAX(n) * 1000000 DIV SUM(n)").alias("dom_e6")
    )
    return dom.groupBy(
        F.expr("CAST(dom_e6 DIV 100000 AS BIGINT)").alias("dominance_decile")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


@query(
    "supplier_customer_hhi",
    oracle=f"""
    WITH spend AS (
      SELECT l.l_suppkey, o.o_custkey,
             SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    )
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(c) AS BIGINT) AS total_c,
           {dec_double("SUM(CAST(c AS DECIMAL(38,0)) * c)")} AS sumsq_c,
           CAST(CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) * 1000000 AS HUGEINT)
                // CAST(CAST(SUM(c) AS DECIMAL(38,0)) * SUM(c) AS HUGEINT)
                AS BIGINT) AS hhi_e6
    FROM spend GROUP BY 1
    """,
)
def supplier_customer_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-concentration HHI per supplier: Σ share_i² over the
    supplier's customers, computed as Σc_i² · 1e6 / (Σc_i)² in exact
    wide-integer arithmetic (HUGEINT/DECIMAL division — shares never
    float) — 1e6/n for a perfectly even book, ~1e6 when one customer
    IS the business; the revenue-at-risk twin of
    captive_customer_share, from the supplier's side of the table.

    Scale shape: lineitem->orders on the natural orderkey, one
    (supplier, customer) rollup, one supplier reduce — map-side
    combinable; squares in DECIMAL(38,0), whose sum leaves as the
    nearest DOUBLE (the _util output-type rule)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    spend = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_suppkey", "o_custkey")
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("c")
        )
    )
    return spend.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("c").cast("bigint").alias("total_c"),
        F.expr(dec_double("SUM(CAST(c AS DECIMAL(38,0)) * c)"))
        .alias("sumsq_c"),
        F.expr(
            "CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) * 1000000"
            " DIV (CAST(SUM(c) AS DECIMAL(38,0)) * SUM(c)) AS BIGINT)"
        ).alias("hhi_e6"),
    )


@query(
    "events_to_first_purchase",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             {duck_epoch('ts')} AS us
      FROM events
    ),
    firstbuy AS (
      SELECT user_id, MIN(ROW(us, event_id)) AS fb
      FROM ev WHERE event_type = 'purchase' GROUP BY 1
    ),
    pre AS (
      SELECT e.user_id, COUNT(*) AS n_before
      FROM ev e JOIN firstbuy f ON f.user_id = e.user_id
      WHERE ROW(e.us, e.event_id) < f.fb
      GROUP BY 1
    ),
    buyers AS (
      SELECT f.user_id, COALESCE(p.n_before, 0) AS n_before
      FROM firstbuy f LEFT JOIN pre p ON p.user_id = f.user_id
    )
    SELECT CAST(n_before AS BIGINT) AS events_before_purchase,
           CAST(COUNT(*) AS BIGINT) AS n_buyers
    FROM buyers GROUP BY 1
    """,
)
def events_to_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion effort histogram: how many events each buyer fired
    BEFORE their first purchase (strictly before, under the total
    (time, event_id) order), bucketed by that count — the event-count
    twin of funnel_time_to_convert's duration view; zero-touch buyers
    (purchase as first act) land in bucket 0 instead of vanishing,
    which is exactly the cohort attribution models misplace.

    Scale shape: first-purchase election is a keyed argmin; the
    before-count is one equi-join on user_id with the tuple
    comparison as a residual; both rollups map-side combinable."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(spark_epoch("ts")).alias("us"),
    )
    firstbuy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("us", "event_id")).alias("fb"))
    )
    pre = (
        ev.join(firstbuy, "user_id")
        .filter(F.struct("us", "event_id") < F.col("fb"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_before"))
    )
    buyers = firstbuy.join(pre, "user_id", "left").select(
        F.coalesce("n_before", F.lit(0)).alias("n_before")
    )
    return buyers.groupBy(
        F.col("n_before").cast("bigint").alias("events_before_purchase")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_buyers"))


@query(
    "zero_day_share_by_type",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS d
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS active_days,
           CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS span_days,
           CAST((MAX(d) - MIN(d) + 1 - COUNT(*)) * 1000000
                // (MAX(d) - MIN(d) + 1) AS BIGINT) AS zero_share_e6
    FROM daily GROUP BY event_type
    """,
)
def zero_day_share_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflation screen per event type: the share of calendar
    days inside each type's own [first, last] span with NO events —
    near zero for steady traffic, large for bursty/seasonal types,
    and the decision input between Poisson and zero-inflated count
    models (pairs with poisson_dispersion_audit, which conditions on
    active days only).

    Scale shape: one (type, day) distinct aggregate, one per-type
    reduce — the span needs only min/max, never a calendar join."""
    daily = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("d"),
        )
        .distinct()
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_days"),
        (F.max("d") - F.min("d") + 1).cast("bigint").alias("span_days"),
        F.expr(
            "CAST((MAX(d) - MIN(d) + 1 - COUNT(1)) * 1000000"
            " DIV (MAX(d) - MIN(d) + 1) AS BIGINT)"
        ).alias("zero_share_e6"),
    )


@query(
    "double_charge_candidates",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c,
             {duck_epoch('o_orderdate', 'day')} AS d
      FROM orders
    ),
    pairs AS (
      SELECT a.o_custkey
      FROM o a JOIN o b
        ON a.o_custkey = b.o_custkey
       AND a.total_c = b.total_c
       AND a.o_orderkey < b.o_orderkey
       AND b.d BETWEEN a.d - 7 AND a.d + 7
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM pairs
    """,
)
def double_charge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge screen: pairs of DISTINCT orders by the same
    customer for the IDENTICAL total (exact cents) within 7 calendar
    days — the classic duplicate-payment signature that exact-dup
    detection misses (different order keys) and that fuzzy matching
    overfires on (same customer reordering a different basket at a
    different price is fine).  Counts pairs and affected customers.

    Scale shape: a self-join EQUI-keyed on (custkey, total cents) —
    the two high-selectivity keys — with the date band as a residual
    predicate; the wedge volume is bounded by per-(customer, amount)
    multiplicity, which is ~1 for honest data."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "total_c"
        ),
        F.expr(spark_epoch("o_orderdate", "day")).alias("d"),
    )
    a, b = o.alias("a"), o.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.total_c") == F.col("b.total_c"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("b.d") >= F.col("a.d") - 7)
        & (F.col("b.d") <= F.col("a.d") + 7),
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        F.countDistinct(F.col("a.o_custkey")).cast("bigint").alias(
            "n_customers"
        ),
    )


# ================================================================ round 9
# Revenue decomposition, demand-variability classes, trade flows,
# effect sizes, session entry/exit, changepoint-by-SSE, time-split
# hygiene — the analytics shapes a 100 TB warehouse reports daily.


@query(
    "trade_flow_matrix",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,4))) * 100) AS BIGINT))
               AS BIGINT) AS rev_cents
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def trade_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full supplier-nation x customer-nation trade matrix — TPC-H
    Q7 generalized from one nation pair to the complete |N| x |N|
    flow grid (exact cents), the input to any trade-imbalance or
    gravity-model readout.

    Scale shape: facts shuffle once on orderkey for the
    lineitem-orders join; the two nation lookups are forced
    broadcasts (25 rows at every sf — the one legitimately hinted
    dim); supplier/customer join hint-free (they scale with sf; the
    planner broadcasts them only while measured small); the final
    rollup groups on a bounded 25x25 key space, map-side
    combinable."""
    li = t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_suppkey",
        "CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))"
        " * (1 - CAST(l_discount AS DECIMAL(8,4))) * 100) AS BIGINT) AS cents",
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
        .orderBy("supp_nation", "cust_nation")
    )


@query(
    "price_volume_bridge",
    oracle="""
    WITH m AS (
      SELECT p_brand AS brand,
             EXTRACT(year FROM l_shipdate) * 12
               + EXTRACT(month FROM l_shipdate) AS m_idx,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
             CAST(SUM(CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(8,4))) * 100)
                      AS BIGINT)) AS BIGINT) AS rev_c
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    ),
    last_m AS (SELECT MAX(m_idx) AS m1 FROM m),
    two AS (
      SELECT brand,
             SUM(CASE WHEN m_idx = m1 - 1 THEN q ELSE 0 END) AS q0,
             SUM(CASE WHEN m_idx = m1 THEN q ELSE 0 END) AS q1,
             SUM(CASE WHEN m_idx = m1 - 1 THEN rev_c ELSE 0 END) AS rev0,
             SUM(CASE WHEN m_idx = m1 THEN rev_c ELSE 0 END) AS rev1
      FROM m, last_m GROUP BY brand
    )
    SELECT brand,
           CAST(q0 AS BIGINT) AS q0, CAST(q1 AS BIGINT) AS q1,
           CAST(rev0 AS BIGINT) AS rev0_cents,
           CAST(rev1 AS BIGINT) AS rev1_cents,
           CAST(rev1 - rev0 AS BIGINT) AS delta_cents,
           CAST(CASE WHEN q1 >= q0 THEN rev0 * (q1 - q0) // q0
                     ELSE -(rev0 * (q0 - q1) // q0) END AS BIGINT)
             AS volume_effect_cents,
           CAST(rev1 - rev0
                - (CASE WHEN q1 >= q0 THEN rev0 * (q1 - q0) // q0
                        ELSE -(rev0 * (q0 - q1) // q0) END) AS BIGINT)
             AS price_effect_cents
    FROM two WHERE q0 > 0 AND q1 > 0
    ORDER BY brand
    """,
)
def price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume bridge per brand between the last two calendar
    months of shipments: delta revenue split into a volume effect
    (base-month unit economics applied to the quantity change,
    truncating integer division on NON-NEGATIVE operands only — the
    sign is factored out so Spark's DIV and DuckDB's // agree) and
    the residual price/mix effect.  The standard FP&A 'why did
    revenue move' decomposition.

    Scale shape: one (brand, month)-keyed aggregate over the fact
    scan (map-side combinable; part joins hint-free), a 1-row MAX
    month broadcast, and a 25-brand readout."""
    li = t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "year(l_shipdate) * 12 + month(l_shipdate) AS m_idx",
        "CAST(l_quantity AS BIGINT) AS qty",
        "CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))"
        " * (1 - CAST(l_discount AS DECIMAL(8,4))) * 100) AS BIGINT) AS cents",
    )
    p = t(spark, sf_dir, "part").select("p_partkey", F.col("p_brand").alias("brand"))
    m = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("brand", "m_idx")
        .agg(F.sum("qty").alias("q"), F.sum("cents").alias("rev_c"))
    )
    m1 = m.agg(F.max("m_idx").alias("m1"))
    two = (
        m.crossJoin(F.broadcast(m1))
        .groupBy("brand")
        .agg(
            F.sum(F.when(F.col("m_idx") == F.col("m1") - 1, F.col("q")).otherwise(0)).alias("q0"),
            F.sum(F.when(F.col("m_idx") == F.col("m1"), F.col("q")).otherwise(0)).alias("q1"),
            F.sum(F.when(F.col("m_idx") == F.col("m1") - 1, F.col("rev_c")).otherwise(0)).alias("rev0"),
            F.sum(F.when(F.col("m_idx") == F.col("m1"), F.col("rev_c")).otherwise(0)).alias("rev1"),
        )
        .filter((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    vol = (
        "CASE WHEN q1 >= q0 THEN rev0 * (q1 - q0) DIV q0"
        " ELSE -(rev0 * (q0 - q1) DIV q0) END"
    )
    return two.selectExpr(
        "brand",
        "CAST(q0 AS BIGINT) AS q0",
        "CAST(q1 AS BIGINT) AS q1",
        "CAST(rev0 AS BIGINT) AS rev0_cents",
        "CAST(rev1 AS BIGINT) AS rev1_cents",
        "CAST(rev1 - rev0 AS BIGINT) AS delta_cents",
        f"CAST({vol} AS BIGINT) AS volume_effect_cents",
        f"CAST(rev1 - rev0 - ({vol}) AS BIGINT) AS price_effect_cents",
    ).orderBy("brand")


@query(
    "xyz_demand_variability",
    oracle=f"""
    WITH wk AS (
      SELECT l_partkey,
             {duck_epoch('l_shipdate', 'week')} AS w,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey, COUNT(*) AS n_active,
             SUM(q) AS tot, SUM(q * q) AS ss
      FROM wk GROUP BY 1
    ),
    classed AS (
      SELECT l_partkey, tot,
             (n_active * ss - tot * tot) * 1000000 // (tot * tot) AS cv2_e6
      FROM per_part
    )
    SELECT CASE WHEN cv2_e6 < 250000 THEN 'X'
                WHEN cv2_e6 < 1000000 THEN 'Y' ELSE 'Z' END AS xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(tot) AS BIGINT) AS total_qty
    FROM classed GROUP BY 1 ORDER BY 1
    """,
)
def xyz_demand_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the ABC companion):
    per-part weekly demand coefficient of variation squared over the
    part's ACTIVE weeks (intermittency — the zero-week share — is its
    own signal, measured by zero_day_share_by_type /
    poisson_dispersion_audit; XYZ conditions on weeks with demand),
    as the exact integer cv2_e6 = (W*SS - T^2)*1e6 DIV T^2; parts
    class as X (cv < 0.5, steady — forecastable), Y (cv < 1), Z
    (lumpy).  Envelope: per-part
    total quantity is bounded by the ~30 lines/part TPC-H ratio
    (constant in sf), so T^2 * 1e6 stays far inside BIGINT at any sf.

    Scale shape: one (part, week) aggregate, one part aggregate (both
    map-side combinable, same part-keyed exchange), and a 3-row
    readout."""
    wk = (
        t(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_partkey",
            f"{spark_epoch('l_shipdate', 'week')} AS w",
            "CAST(l_quantity AS BIGINT) AS qty",
        )
        .groupBy("l_partkey", "w")
        .agg(F.sum("qty").alias("q"))
    )
    per_part = wk.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum("q").alias("tot"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
    )
    classed = per_part.selectExpr(
        "tot",
        "(n_active * ss - tot * tot) * 1000000 DIV (tot * tot) AS cv2_e6",
    )
    return (
        classed.selectExpr(
            "CASE WHEN cv2_e6 < 250000 THEN 'X'"
            " WHEN cv2_e6 < 1000000 THEN 'Y' ELSE 'Z' END AS xyz_class",
            "tot",
        )
        .groupBy("xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("tot").cast("bigint").alias("total_qty"),
        )
        .orderBy("xyz_class")
    )


@query(
    "effect_size_cohens_d_terms",
    oracle="""
    WITH j AS (
      SELECT c_mktsegment AS seg,
             CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS d
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    )
    SELECT
      CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      CAST(SUM(CASE WHEN seg = 'BUILDING' THEN d ELSE 0 END) AS BIGINT) AS sum_a,
      CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN d ELSE 0 END) AS BIGINT) AS sum_b,
      CAST(SUM(CASE WHEN seg = 'BUILDING' THEN d * d ELSE 0 END) AS BIGINT) AS ss_a,
      CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN d * d ELSE 0 END) AS BIGINT) AS ss_b
    FROM j
    """,
)
def effect_size_cohens_d_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d sufficient statistics for BUILDING vs MACHINERY order
    values (whole dollars, floored DECIMAL-exact): counts, sums and
    sums of squares per arm — the reader forms
    d = (m_a - m_b) / s_pooled with two divisions and a square root,
    but no float ever crosses the engines (the house *_terms
    convention).  The 'is this segment difference material or just
    big-n significant' readout that p-values alone miss.  Envelope:
    dollars <= ~6e5, d^2 <= 3.6e11, BIGINT holds past 1e7 orders per
    arm (sf100).

    Scale shape: one customer-keyed equi-join (dim hint-free) feeding
    a single global conditional aggregate — map-side combinable, one
    result row."""
    j = (
        t(spark, sf_dir, "orders")
        .join(
            t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .selectExpr(
            "c_mktsegment AS seg",
            "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS d",
        )
    )
    a = F.col("seg") == "BUILDING"
    b = F.col("seg") == "MACHINERY"
    return j.agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(b, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(a, F.col("d")).otherwise(0)).cast("bigint").alias("sum_a"),
        F.sum(F.when(b, F.col("d")).otherwise(0)).cast("bigint").alias("sum_b"),
        F.sum(F.when(a, F.col("d") * F.col("d")).otherwise(0)).cast("bigint").alias("ss_a"),
        F.sum(F.when(b, F.col("d") * F.col("d")).otherwise(0)).cast("bigint").alias("ss_b"),
    )


@query(
    "session_entry_exit_matrix",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             {duck_epoch('ts', 's')} AS sec
      FROM events
    ),
    gaps AS (
      SELECT *, CASE WHEN sec - LAG(sec) OVER w <= 1800 THEN 0 ELSE 1 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ),
    ends AS (
      SELECT DISTINCT user_id, sid,
             FIRST_VALUE(event_type) OVER w2 AS entry_type,
             LAST_VALUE(event_type) OVER w2 AS exit_type
      FROM sess
      WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY sec, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM ends GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def session_entry_exit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry/exit matrix: the 30-minute-gap sessionization
    every funnel op shares, read out as how sessions START x how they
    END (first and last event type under the total (time, event_id)
    order) — the landing-page/exit-page table that shows whether
    sessions opened by a view die there or convert.

    Scale shape: ONE user-keyed exchange drives the LAG
    sessionization AND both first/last window passes (same
    partitioning, re-sorted in place); the matrix rollup groups on a
    bounded |types|^2 key space."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr(spark_epoch("ts", "s")).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    brk = F.when(
        F.col("sec") - F.lag("sec").over(w) <= 1800, 0
    ).otherwise(1)
    sess = e.withColumn(
        "sid",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    w2 = (
        Window.partitionBy("user_id", "sid")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ends = sess.select(
        "user_id",
        "sid",
        F.first("event_type").over(w2).alias("entry_type"),
        F.last("event_type").over(w2).alias("exit_type"),
    ).distinct()
    return (
        ends.groupBy("entry_type", "exit_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy("entry_type", "exit_type")
    )


@query(
    "best_split_sse_terms",
    oracle=f"""
    WITH daily AS (
      SELECT {duck_epoch('ts', 'day')} AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) // 100 AS x
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day, x,
             SUM(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cs,
             COUNT(*) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cn
      FROM daily
    ),
    tot AS (SELECT SUM(x) AS s, COUNT(*) AS n FROM daily),
    objs AS (
      SELECT day,
             (CAST(cs AS HUGEINT) * cs * 1000 // cn
               + CAST(s - cs AS HUGEINT) * (s - cs) * 1000
                 // (CASE WHEN n - cn = 0 THEN 1 ELSE n - cn END)) // n
               AS obj_e3
      FROM cum, tot WHERE cn < n
    ),
    best AS (SELECT MAX(obj_e3) AS bo FROM objs)
    SELECT CAST(MIN(day) AS BIGINT) AS best_split_day,
           CAST(bo AS BIGINT) AS best_obj_e3,
           CAST((SELECT CAST(s AS HUGEINT) * s * 1000 // n // n FROM tot)
               AS BIGINT) AS base_obj_e3,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_days
    FROM objs, best WHERE obj_e3 = bo GROUP BY bo
    """,
)
def best_split_sse_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single changepoint by SSE reduction over the daily revenue
    series (binary segmentation, first split): the day boundary whose
    two-segment fit maximizes S_l^2/n_l + S_r^2/n_r — exactly the
    split minimizing total within-segment SSE (the sum-of-squares
    identity), in e3 integer arithmetic on whole dollars (both
    engines truncate identically; ties resolve to the EARLIEST day).
    Complements cusum_changepoint (drift detection) with the
    variance-reduction view.  The objective is normalized PER DAY
    (DIV n) with DECIMAL(38,0)/HUGEINT intermediates (the
    pareto/t-closeness convention): S^2 grows quadratically with the
    corpus and passed BIGINT already at sf2 (caught by this round's
    sf2 curve run), while the per-day objective ~ (mean daily
    dollars)^2 * 1e3 stays inside BIGINT past sf1000.

    Scale shape: the corpus collapses to the bounded day grid in one
    map-side-combinable aggregate; the prefix sums are one ordered
    pass over that calendar-bounded grid (the documented
    partitionless-window exemption class), and the argmax is a 1-row
    broadcast + min-day election."""
    daily = (
        t(spark, sf_dir, "events")
        .selectExpr(
            f"{spark_epoch('ts', 'day')} AS day",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c",
        )
        .groupBy("day")
        .agg(F.expr("SUM(c) DIV 100").alias("x"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "day",
        F.sum("x").over(w).alias("cs"),
        F.count(F.lit(1)).over(w).alias("cn"),
    )
    tot = daily.agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    objs = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cn") < F.col("n"))
        .selectExpr(
            "day",
            # DECIMAL(38,0) squares (BIGINT overflows at sf2); the CASE
            # guard keeps ANSI Spark from tripping on the filtered-out
            # last row (codegen can evaluate the projection alongside
            # the cn < n filter)
            "CAST((CAST(cs AS DECIMAL(38,0)) * cs * 1000 DIV cn"
            " + CAST(s - cs AS DECIMAL(38,0)) * (s - cs) * 1000"
            " DIV (CASE WHEN n - cn = 0 THEN 1 ELSE n - cn END)) DIV n"
            " AS BIGINT) AS obj_e3",
        )
    )
    best = objs.agg(F.max("obj_e3").alias("bo"))
    base = tot.selectExpr(
        "CAST(CAST(s AS DECIMAL(38,0)) * s * 1000 DIV n DIV n AS BIGINT)"
        " AS base_obj_e3",
        "n",
    )
    return (
        objs.crossJoin(F.broadcast(best))
        .filter(F.col("obj_e3") == F.col("bo"))
        .crossJoin(F.broadcast(base))
        .groupBy("bo")
        .agg(
            F.min("day").cast("bigint").alias("best_split_day"),
            F.max("bo").cast("bigint").alias("best_obj_e3"),
            F.max("base_obj_e3").cast("bigint").alias("base_obj_e3"),
            F.max("n").cast("bigint").alias("n_days"),
        )
        .select("best_split_day", "best_obj_e3", "base_obj_e3", "n_days")
    )


@query(
    "time_split_boundary_audit",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             {duck_epoch('ts', 'day')} AS day
      FROM events
    ),
    thr AS (SELECT (MIN(day) + MAX(day)) // 2 AS t FROM e),
    per_user AS (
      SELECT user_id,
             MAX(CASE WHEN day <= t THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN day > t THEN 1 ELSE 0 END) AS in_test,
             SUM(CASE WHEN day <= t THEN 1 ELSE 0 END) AS n_tr,
             SUM(CASE WHEN day > t THEN 1 ELSE 0 END) AS n_te
      FROM e, thr GROUP BY 1
    )
    SELECT CAST((SELECT t FROM thr) AS BIGINT) AS split_day,
           CAST(SUM(n_tr) AS BIGINT) AS n_train_rows,
           CAST(SUM(n_te) AS BIGINT) AS n_test_rows,
           CAST(SUM(in_train) AS BIGINT) AS users_train,
           CAST(SUM(in_test) AS BIGINT) AS users_test,
           CAST(SUM(in_train * in_test) AS BIGINT) AS users_both,
           CAST(SUM(in_train * in_test) * 1000000 // SUM(in_test) AS BIGINT)
             AS straddle_share_e6
    FROM per_user
    """,
)
def time_split_boundary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split hygiene: split the event stream at
    the midpoint day and report row/user counts per side plus the
    users present on BOTH sides — the population whose test-side
    behavior is entangled with training history (the entity-overlap
    leak a random split hides and a time split makes visible;
    complements split_leakage_audit's content-hash view with the
    entity view).

    Scale shape: a 1-row min/max broadcast fixes the boundary; ONE
    user-keyed aggregate computes per-user side membership; the
    readout is a global sum."""
    e = t(spark, sf_dir, "events").selectExpr(
        "user_id",
        f"{spark_epoch('ts', 'day')} AS day",
    )
    thr = e.agg(F.expr("(MIN(day) + MAX(day)) DIV 2").alias("t"))
    per_user = (
        e.crossJoin(F.broadcast(thr))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("day") <= F.col("t"), 1).otherwise(0)).alias("in_train"),
            F.max(F.when(F.col("day") > F.col("t"), 1).otherwise(0)).alias("in_test"),
            F.sum(F.when(F.col("day") <= F.col("t"), 1).otherwise(0)).alias("n_tr"),
            F.sum(F.when(F.col("day") > F.col("t"), 1).otherwise(0)).alias("n_te"),
            F.max("t").alias("t"),
        )
    )
    return per_user.agg(
        F.max("t").cast("bigint").alias("split_day"),
        F.sum("n_tr").cast("bigint").alias("n_train_rows"),
        F.sum("n_te").cast("bigint").alias("n_test_rows"),
        F.sum("in_train").cast("bigint").alias("users_train"),
        F.sum("in_test").cast("bigint").alias("users_test"),
        F.sum(F.col("in_train") * F.col("in_test")).cast("bigint").alias("users_both"),
        F.expr(
            "CAST(SUM(in_train * in_test) * 1000000 DIV SUM(in_test) AS BIGINT)"
        ).alias("straddle_share_e6"),
    )


@query(
    "engagement_decay_scores",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             {duck_epoch('ts', 'day')} AS day
      FROM events
    ),
    mx AS (SELECT MAX(day) AS mday FROM e),
    scored AS (
      SELECT user_id,
             SUM(1000000 // (CAST(1 AS BIGINT)
                 << CAST(LEAST((mday - day) // 7, 19) AS INT))) AS score_e6
      FROM e, mx GROUP BY user_id
    )
    SELECT CAST(score_e6 // 500000 AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(score_e6) AS BIGINT) AS sum_score_e6
    FROM scored GROUP BY 1 ORDER BY 1
    """,
)
def engagement_decay_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user — each
    event contributes 2^-age_weeks (anchored at the corpus max day,
    capped at 19 weeks), as EXACT integers: 1e6 DIV (1 << weeks) is a
    dyadic weight both engines truncate identically (the
    window_ewma_dyadic trick applied corpus-wide).  The score bands
    (half-point buckets) are the recency-weighted activity histogram
    behind 'engaged user' thresholds — a plain event count can't tell
    a lapsed heavy user from a current light one.

    Scale shape: a 1-row max-day broadcast, ONE user-keyed aggregate
    (map-side combinable — the weight is in-row arithmetic), and a
    bounded band rollup."""
    e = t(spark, sf_dir, "events").selectExpr(
        "user_id",
        f"{spark_epoch('ts', 'day')} AS day",
    )
    mx = e.agg(F.max("day").alias("mday"))
    scored = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.expr(
                "SUM(1000000 DIV SHIFTLEFT(CAST(1 AS BIGINT),"
                " CAST(LEAST((mday - day) DIV 7, 19) AS INT)))"
            ).alias("score_e6")
        )
    )
    return (
        scored.selectExpr("score_e6 DIV 500000 AS band", "score_e6")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("score_e6").cast("bigint").alias("sum_score_e6"),
        )
        .selectExpr("CAST(band AS BIGINT) AS band", "n_users", "sum_score_e6")
        .orderBy("band")
    )


@query(
    "cart_split_gain_terms",
    oracle="""
    WITH bands AS (
      SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS band,
             COUNT(*) AS n,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS nt, SUM(pos) AS post FROM bands)
    SELECT b.band AS threshold_band,
           CAST(SUM(b2.n) AS BIGINT) AS n_le,
           CAST(SUM(b2.pos) AS BIGINT) AS pos_le,
           CAST(MAX(t.nt) - SUM(b2.n) AS BIGINT) AS n_gt,
           CAST(MAX(t.post) - SUM(b2.pos) AS BIGINT) AS pos_gt
    FROM bands b JOIN bands b2 ON b2.band <= b.band, tot t
    GROUP BY b.band
    ORDER BY threshold_band
    """,
)
def cart_split_gain_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART split-evaluation terms: for every candidate threshold on
    the discount band (the one in-row ordinal feature), the exact
    (count, positives) pair on each side of '<= threshold', target =
    returned line.  The reader forms Gini/entropy gain with two
    divisions per row — the terms convention keeps impurity floats
    out of the hash — and the argmax row is the first split of a
    decision stump/tree over 100 TB, computed in ONE pass.

    Scale shape: the corpus collapses to the bounded discount-band
    histogram (map-side combinable); the cumulative <= rollup is the
    bounded broadcast band self-join (11 x 11 rows), never a window
    over data."""
    bands = (
        t(spark, sf_dir, "lineitem")
        .selectExpr(
            "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS band",
            "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos",
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("pos"))
    )
    tot = bands.agg(F.sum("n").alias("nt"), F.sum("pos").alias("post"))
    b2 = bands.selectExpr("band AS band2", "n AS n2", "pos AS pos2")
    return (
        bands.join(F.broadcast(b2), F.col("band2") <= F.col("band"))
        .crossJoin(F.broadcast(tot))
        .groupBy("band")
        .agg(
            F.sum("n2").cast("bigint").alias("n_le"),
            F.sum("pos2").cast("bigint").alias("pos_le"),
            (F.max("nt") - F.sum("n2")).cast("bigint").alias("n_gt"),
            (F.max("post") - F.sum("pos2")).cast("bigint").alias("pos_gt"),
        )
        .selectExpr(
            "band AS threshold_band", "n_le", "pos_le", "n_gt", "pos_gt"
        )
        .orderBy("threshold_band")
    )


@query(
    "cold_start_recs_by_nation",
    oracle=f"""
    WITH anchor AS (
      SELECT MAX({duck_epoch('o_orderdate', 'day')})
               AS max_day
      FROM orders
    ),
    recent AS (
      SELECT o_orderkey FROM orders, anchor
      WHERE {duck_epoch('o_orderdate', 'day')}
            > anchor.max_day - 30
    ),
    rev AS (
      SELECT c.c_nationkey AS nationkey, l.l_partkey AS partkey,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(8,4)))) * 100)
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN recent r ON r.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nationkey, partkey, cents,
             ROW_NUMBER() OVER (PARTITION BY nationkey
                                ORDER BY cents DESC, partkey) AS rnk
      FROM rev
    )
    SELECT n.n_name AS nation, CAST(rnk AS BIGINT) AS rnk,
           CAST(partkey AS BIGINT) AS partkey, cents
    FROM ranked JOIN nation n ON n.n_nationkey = ranked.nationkey
    WHERE rnk <= 3
    ORDER BY nation, rnk
    """,
)
def cold_start_recs_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start recommendation baseline: the top-3 parts by
    discounted revenue over the trailing 30 days (anchored to the
    corpus's max order date — deterministic, never wall-clock), per
    customer nation — the popularity-by-region fallback every
    recommender serves to users with no history, built as a table so
    serving is a broadcast-joinable lookup rather than a model call.

    Scale shape: the 1-row anchor broadcasts onto the orders scan
    (date filter pushes to the recent slice); revenue aggregates on
    (nationkey, partkey); the per-nation top-3 window compiles to
    WindowGroupLimit (map-side top-k before the exchange); the
    25-row nation dim is the one justified broadcast."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(spark_epoch("o_orderdate", "day")).alias("day"),
    )
    anchor = o.agg(F.max("day").alias("max_day"))
    recent = (
        o.crossJoin(F.broadcast(anchor))
        .filter(F.col("day") > F.col("max_day") - 30)
        .select("o_orderkey", "o_custkey")
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_partkey",
            F.expr(
                "CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))"
            ).alias("r"),
        )
        .join(recent, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(F.expr("CAST(FLOOR(SUM(r) * 100) AS BIGINT)").alias("cents"))
    )
    w = Window.partitionBy("nationkey").orderBy(F.col("cents").desc(), "partkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.select("nationkey", "partkey", "cents", F.row_number().over(w).alias("rnk"))
        .filter("rnk <= 3")
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("partkey").cast("bigint").alias("partkey"),
            "cents",
        )
        .orderBy("nation", "rnk")
    )


@query(
    "unit_price_dispersion_by_part",
    oracle="""
    WITH u AS (
      SELECT l_partkey,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
               // CAST(l_quantity AS BIGINT) AS unitc
      FROM lineitem WHERE l_quantity > 0
    ),
    terms AS (
      SELECT l_partkey AS partkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(unitc) AS BIGINT) AS min_unitc,
             CAST(MAX(unitc) AS BIGINT) AS max_unitc,
             CAST(SUM(unitc) AS BIGINT) AS sum_unitc
      FROM u GROUP BY 1 HAVING COUNT(*) >= 3
    )
    SELECT partkey, n, min_unitc, max_unitc,
           CAST((max_unitc - min_unitc) * 1000000 * n // sum_unitc
                AS BIGINT) AS rel_range_e6
    FROM terms
    ORDER BY rel_range_e6 DESC, partkey
    LIMIT 20
    """,
)
def unit_price_dispersion_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by relative unit-price dispersion: unit price as
    integer cents-per-unit under truncating division, then
    (max - min) / mean as an e6 integer — the price-consistency audit
    that surfaces data-entry errors and off-contract pricing (a part
    selling at 3x its own median unit price is either a discount tier
    or a decimal slip; both deserve a look before revenue modeling).
    Parts with fewer than 3 sales are excluded (a 1-line 'range' is
    noise, not dispersion).

    Scale shape: one part-keyed map-side-combinable aggregate, then a
    global top-20 via TakeOrderedAndProject — never a full sort."""
    u = (
        t(spark, sf_dir, "lineitem")
        .filter("l_quantity > 0")
        .selectExpr(
            "l_partkey",
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
            " DIV CAST(l_quantity AS BIGINT) AS unitc",
        )
    )
    return (
        u.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("unitc").cast("bigint").alias("min_unitc"),
            F.max("unitc").cast("bigint").alias("max_unitc"),
            F.sum("unitc").cast("bigint").alias("sum_unitc"),
        )
        .filter("n >= 3")
        .selectExpr(
            "partkey",
            "n",
            "min_unitc",
            "max_unitc",
            "CAST((max_unitc - min_unitc) * 1000000 * n DIV sum_unitc"
            " AS BIGINT) AS rel_range_e6",
        )
        .orderBy(F.col("rel_range_e6").desc(), "partkey")
        .limit(20)
    )


@query(
    "revenue_growth_accounting",
    oracle="""
    WITH cm AS (
      SELECT o_custkey AS cust,
             year(CAST(o_orderdate AS TIMESTAMP)) * 12
               + month(CAST(o_orderdate AS TIMESTAMP)) AS m,
             CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100)
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    months AS (SELECT DISTINCT m FROM cm),
    pairs AS (
      SELECT cur.m AS m, cur.cust,
             COALESCE(prev.cents, 0) AS prev_cents, cur.cents AS cur_cents
      FROM cm cur LEFT JOIN cm prev
        ON prev.cust = cur.cust AND prev.m = cur.m - 1
      UNION ALL
      SELECT prev.m + 1 AS m, prev.cust, prev.cents AS prev_cents,
             0 AS cur_cents
      FROM cm prev LEFT JOIN cm cur
        ON cur.cust = prev.cust AND cur.m = prev.m + 1
      WHERE cur.cust IS NULL AND prev.m + 1 IN (SELECT m FROM months)
    )
    SELECT CAST(m AS BIGINT) AS month_idx,
           CAST(SUM(CASE WHEN prev_cents = 0 AND cur_cents > 0
                    THEN cur_cents ELSE 0 END) AS BIGINT) AS new_cents,
           CAST(SUM(CASE WHEN prev_cents > 0 AND cur_cents > prev_cents
                    THEN cur_cents - prev_cents ELSE 0 END) AS BIGINT)
             AS expansion_cents,
           CAST(SUM(CASE WHEN cur_cents > 0 AND cur_cents < prev_cents
                    THEN cur_cents - prev_cents ELSE 0 END) AS BIGINT)
             AS contraction_cents,
           CAST(SUM(CASE WHEN cur_cents = 0 AND prev_cents > 0
                    THEN -prev_cents ELSE 0 END) AS BIGINT) AS churn_cents,
           CAST(SUM(cur_cents - prev_cents) AS BIGINT) AS net_delta_cents
    FROM pairs GROUP BY m
    ORDER BY month_idx
    """,
)
def revenue_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SaaS-style growth accounting over order revenue: each month's
    net change split into NEW (customer absent last month), EXPANSION
    (spent more), CONTRACTION (spent less, still active) and CHURN
    (went to zero — materialized by the anti-join side of the union,
    since churned customers have no current-month row to aggregate),
    with the accounting identity new + expansion + contraction +
    churn = net delta holding exactly in integer cents.  The
    month-over-month decomposition that tells a revenue team WHY the
    number moved, not just that it did.

    Prev-month lookups are customer-keyed equi-joins (co-partitioned
    with the (cust, month) rollup — no broadcast of the
    corpus-scaling customer side); churn months are restricted to
    observed months so the series never invents a trailing month.

    Scale shape: one (cust, month) aggregate, two self-joins on the
    same key, a month-keyed rollup — |months| result rows."""
    from instructions_mr_spark.queries._util import supersede_checkpoint

    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        (
            F.year(F.col("o_orderdate").cast("timestamp")) * 12
            + F.month(F.col("o_orderdate").cast("timestamp"))
        ).alias("m"),
        F.expr("CAST(o_totalprice AS DECIMAL(12,2))").alias("p"),
    )
    cm = o.groupBy("cust", "m").agg(
        F.expr("CAST(FLOOR(SUM(p) * 100) AS BIGINT)").alias("cents")
    )
    cm = supersede_checkpoint("growth_cm", cm)
    months = cm.select("m").distinct()
    prev = cm.select(
        F.col("cust").alias("p_cust"),
        (F.col("m") + 1).alias("p_m"),
        F.col("cents").alias("prev_cents"),
    )
    cur_side = cm.join(
        prev,
        (F.col("cust") == F.col("p_cust")) & (F.col("m") == F.col("p_m")),
        "left",
    ).select(
        "m",
        "cust",
        F.coalesce("prev_cents", F.lit(0)).alias("prev_cents"),
        F.col("cents").alias("cur_cents"),
    )
    churn_side = (
        prev.join(
            cm,
            (F.col("cust") == F.col("p_cust")) & (F.col("m") == F.col("p_m")),
            "left_anti",
        )
        .join(months, F.col("p_m") == F.col("m"), "left_semi")
        .select(
            F.col("p_m").alias("m"),
            F.col("p_cust").alias("cust"),
            "prev_cents",
            F.lit(0).alias("cur_cents"),
        )
    )
    pairs = cur_side.unionAll(churn_side)
    return (
        pairs.groupBy("m")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN prev_cents = 0 AND cur_cents > 0"
                " THEN cur_cents ELSE 0 END) AS BIGINT)"
            ).alias("new_cents"),
            F.expr(
                "CAST(SUM(CASE WHEN prev_cents > 0 AND cur_cents > prev_cents"
                " THEN cur_cents - prev_cents ELSE 0 END) AS BIGINT)"
            ).alias("expansion_cents"),
            F.expr(
                "CAST(SUM(CASE WHEN cur_cents > 0 AND cur_cents < prev_cents"
                " THEN cur_cents - prev_cents ELSE 0 END) AS BIGINT)"
            ).alias("contraction_cents"),
            F.expr(
                "CAST(SUM(CASE WHEN cur_cents = 0 AND prev_cents > 0"
                " THEN -prev_cents ELSE 0 END) AS BIGINT)"
            ).alias("churn_cents"),
            F.expr("CAST(SUM(cur_cents - prev_cents) AS BIGINT)").alias(
                "net_delta_cents"
            ),
        )
        .selectExpr(
            "CAST(m AS BIGINT) AS month_idx",
            "new_cents",
            "expansion_cents",
            "contraction_cents",
            "churn_cents",
            "net_delta_cents",
        )
        .orderBy("month_idx")
    )

"""Window-function surface (SURVEY.md §2.7 window_rank /
window_analytic).  Absent from the reference (§2.6).

Scale note: every window here partitions by a real key (segment,
customer, supplier) — one shuffle on the partition key, then a local
sort per partition.  No global-ORDER-BY windows (those single-thread
at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_epoch, round_half, spark_epoch
from instructions_mr_spark.queries._util import t
from instructions_mr_spark.registry import query


@query(
    "window_rank",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    wr = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    wn = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.rank().over(wr).cast("bigint").alias("rnk"),
        F.dense_rank().over(wr).cast("bigint").alias("drnk"),
        F.row_number().over(wn).cast("bigint").alias("rn"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).over(w).cast("double").alias("running_spend"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           DATE_DIFF('day',
                     LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey),
                     o_orderdate) AS days_since_prev,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS next_order
    FROM orders
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("bigint").alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


@query(
    "window_moving_avg",
    oracle=f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           {round_half('CAST(AVG(CAST(l_quantity AS DECIMAL(12,2)))'
                ' OVER (PARTITION BY l_suppkey'
                      ' ORDER BY l_shipdate, l_orderkey, l_linenumber,'
                               ' l_quantity, l_extendedprice'
                      ' ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)', 4)}
             AS qty_ma4
    FROM lineitem
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over a 4-row frame.  The ordering includes
    l_quantity/l_extendedprice tiebreakers: the generated lineitem has
    duplicate (orderkey, linenumber) pairs (118k at sf0.1, one of
    which also ties on suppkey+shipdate), and a frame-sensitive
    aggregate over a non-total order is nondeterministic — Spark's
    tie order varies by partition arrival, DuckDB's by its own sort."""
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        )
        .rowsBetween(-3, W.currentRow)
    )
    return t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        round_half(
            F.avg(F.col("l_quantity").cast("decimal(12,2)")).over(w).cast("double"), 4
        ).alias("qty_ma4"),
    )


@query(
    "window_ntile_cume",
    oracle=f"""
    SELECT c_custkey,
           NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
           {round_half('CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey)', 8)} AS cume
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-ordered window on a pre-filtered slice (bounded input) —
    the only acceptable shape for an unpartitioned window."""
    w = W.orderBy("c_acctbal", "c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            "c_custkey",
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
            round_half(F.cume_dist().over(w), 8).alias("cume"),
        )
    )


@query(
    "window_ratio_to_report",
    oracle=f"""
    WITH nrev AS (
      SELECT n_regionkey, n_name,
             SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS bal
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      GROUP BY n_regionkey, n_name)
    SELECT n_name,
           CAST(bal AS DOUBLE) AS nation_bal,
           {round_half('CAST(bal AS DOUBLE)'
                 ' / CAST(SUM(bal) OVER (PARTITION BY n_regionkey) AS DOUBLE)', 6)} AS region_share
    FROM nrev
    ORDER BY n_name
    """,
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's customer
    balance — aggregate once, then a partition-total window over the
    SMALL aggregated frame (25 rows), never a second pass over the
    fact table.  Share division happens in exact DECIMAL until the
    final rounded double."""
    nrev = (
        t(spark, sf_dir, "nation")
        .join(
            t(spark, sf_dir, "customer"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey", "n_name")
        .agg(F.expr("SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS bal"))
    )
    total = F.sum("bal").over(W.partitionBy("n_regionkey"))
    return nrev.select(
        "n_name",
        F.col("bal").cast("double").alias("nation_bal"),
        round_half(F.col("bal").cast("double") / total.cast("double"), 6).alias("region_share"),
    ).orderBy("n_name")


@query(
    "window_first_last",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             FIRST_VALUE(o_orderkey) OVER w AS first_order,
             LAST_VALUE(o_orderkey) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_order
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey, first_order, last_order, COUNT(*) AS n_orders
    FROM o GROUP BY o_custkey, first_order, last_order
    ORDER BY o_custkey
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value per customer (the classic
    first-touch/last-touch attribution kernel).  LAST_VALUE needs the
    full-partition frame on both engines — the default running frame
    would return the CURRENT row.  (o_orderdate, o_orderkey) ordering
    makes ties deterministic; both windows share one exchange+sort."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(full).alias("last_order"),
    )
    return (
        o.groupBy("o_custkey", "first_order", "last_order")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_custkey")
    )


@query(
    "window_moving_median",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           {round_half('quantile_cont(o_totalprice, 0.5) OVER ('
             ' PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey'
             ' ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)', 4)} AS median5
    FROM orders
    """,
)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median (exact interpolated percentile) over the last 5
    orders per customer — an order-statistic window aggregate, the
    robust-smoothing twin of window_moving_avg.  Spark's percentile()
    and DuckDB's quantile_cont share linear-interpolation semantics."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        round_half(F.expr("percentile(o_totalprice, 0.5)").over(w), 4).alias("median5"),
    )


_EWMA_LAGS = 8  # trailing observations; alpha = 1/2 -> dyadic weights


def _ewma_terms() -> tuple[str, str]:
    """(num, den) SQL fragments: sum of lag_i * 2^(7-i) over available
    lags (lag 0 is the current row's cnt, lag i>0 the LAG column li)."""
    col = lambda i: "cnt" if i == 0 else f"l{i}"  # noqa: E731
    num = " + ".join(
        f"COALESCE({col(i)} * {2 ** (_EWMA_LAGS - 1 - i)}, 0)"
        for i in range(_EWMA_LAGS)
    )
    den = " + ".join(
        f"(CASE WHEN {col(i)} IS NOT NULL"
        f" THEN {2 ** (_EWMA_LAGS - 1 - i)} ELSE 0 END)"
        for i in range(_EWMA_LAGS)
    )
    return num, den


@query(
    "window_ewma_dyadic",
    oracle=(lambda num_den: f"""
    WITH h AS (
      SELECT event_type,
             CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS hour_start,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, hour_start, cnt,
             {', '.join(f'LAG(cnt, {i}) OVER w AS l{i}' for i in range(1, 8))}
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_start)
    )
    SELECT event_type, hour_start,
           CAST({num_den[0]} AS BIGINT) AS ewma_num,
           CAST({num_den[1]} AS BIGINT) AS ewma_den,
           CAST(({num_den[0]}) * 1000000 // ({num_den[1]}) AS BIGINT) AS ewma_e6
    FROM lagged
    """)(_ewma_terms()),
)
def window_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of hourly event counts
    with alpha = 1/2, truncated at the trailing 8 OBSERVATIONS — and
    because halving weights are DYADIC (powers of two), the whole
    smoothing is exact integer math: ewma = sum(cnt_lag_i * 2^(7-i))
    over sum(2^(7-i) for available lags), emitted as raw num/den plus
    ewma_e6 under one truncating division.  Floating EWMA recursions
    accumulate engine-dependent rounding; the dyadic truncated form
    is the cross-engine-exact variant of the same smoother.

    Scale shape: one (type, hour) group-by; the 7 LAGs share a single
    event_type-keyed window exchange over the tiny hour grid (the
    same grid every trend op here uses)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("hour_start")
    lagged = h.select(
        "event_type",
        "hour_start",
        "cnt",
        *[F.lag("cnt", i).over(w).alias(f"l{i}") for i in range(1, _EWMA_LAGS)],
    )
    num, den = _ewma_terms()
    return lagged.selectExpr(
        "event_type",
        "hour_start",
        f"CAST({num} AS BIGINT) AS ewma_num",
        f"CAST({den} AS BIGINT) AS ewma_den",
        f"CAST(({num}) * CAST(1000000 AS BIGINT) div ({den}) AS BIGINT) AS ewma_e6",
    )


@query(
    "rolling_corr_terms",
    oracle=f"""
    WITH h AS (
      SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS hour_start,
             {duck_epoch('ts', 'hour')} AS hr,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1, 2
    )
    SELECT hour_start,
           CAST(COUNT(*) OVER w AS BIGINT) AS n,
           CAST(SUM(x) OVER w AS BIGINT) AS sx,
           CAST(SUM(y) OVER w AS BIGINT) AS sy,
           CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
           CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
           CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
           CAST(COUNT(*) OVER w * SUM(x * y) OVER w
                - SUM(x) OVER w * SUM(y) OVER w AS BIGINT) AS corr_num
    FROM h
    WINDOW w AS (ORDER BY hr RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_corr_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling click-purchase correlation over the trailing 24
    WALL-CLOCK hours: a RANGE frame over epoch-hour integers (the
    moving_7d_revenue pattern — r8 verdict item #5), so a gap in the
    hour grid NARROWS the window instead of silently stretching it
    in wall-clock time the way the previous ROWS frame did.  Exact
    integer sufficient statistics: per hour, the six
    sums (n, Sx, Sy, Sxy, Sxx, Syy) plus the correlation numerator
    n*Sxy - Sx*Sy — the reader forms r with two square roots, but no
    float ever crosses the engines (a float rolling corr accumulates
    engine-dependent rounding; sufficient statistics do not).  The
    co-movement monitor behind 'did purchases decouple from clicks
    this day'.

    Scale shape: one (hour) group-by over the corpus; all seven
    windows share a single ordered pass over the tiny hour grid (per
    series key at scale — partition the window by it)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.expr(spark_epoch("ts", "hour")).alias("hr"),
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )
    w = Window.orderBy("hr").rangeBetween(-23, 0)
    return h.select(
        "hour_start",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
        (
            F.count(F.lit(1)).over(w) * F.sum(F.col("x") * F.col("y")).over(w)
            - F.sum("x").over(w) * F.sum("y").over(w)
        )
        .cast("bigint")
        .alias("corr_num"),
    )


@query(
    "window_nth_value",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment,
             NTH_VALUE(c_custkey, 3) OVER (
               PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS third_custkey
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(MAX(third_custkey) AS BIGINT) AS third_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM r GROUP BY c_mktsegment
    """,
)
def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTH_VALUE over the full partition frame: the 3rd-richest
    customer key per market segment under a total order (balance
    desc, key) — the 'bronze medalist' lookup that FIRST/LAST cannot
    express and that silently returns NULL rows under the DEFAULT
    frame (unbounded preceding..current row) until the 3rd row is
    reached, which is why the frame is spelled out; segments with
    fewer than 3 customers yield NULL on both engines.

    Scale shape: one window partitioned by segment (the natural key)
    and a rollup on the same key — no global sort."""
    w = (
        W.partitionBy("c_mktsegment")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    r = t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.nth_value("c_custkey", 3).over(w).alias("third_custkey"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.max("third_custkey").cast("bigint").alias("third_custkey"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


@query(
    "window_locf_fill",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id,
             {duck_epoch('ts', 's')} AS sec,
             CASE WHEN event_type = 'click' THEN NULL
                  ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS v
      FROM events
    )
    SELECT event_id,
           user_id,
           CAST(last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY sec, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS filled_c
    FROM ev
    """,
)
def window_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward via IGNORE NULLS: click events
    carry no monetary value (masked to NULL), and each row fills from
    the latest non-null value in its user's own history — the
    forward-fill that turns sparse observations into a dense series
    without interpolation inventing data.  Rows before a user's first
    valued event stay NULL on both engines (nothing to carry).
    Ordering is total (sec, event_id), so the carried value is
    deterministic through simultaneous events.

    Scale shape: ONE window partitioned by user_id (the natural key)
    with last(ignorenulls) over a running ROWS frame — the same
    single exchange plain sessionization costs."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(spark_epoch("ts", "s")).alias("sec"),
        F.expr(
            "CASE WHEN event_type = 'click' THEN NULL"
            " ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END"
        ).alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last("v", ignorenulls=True).over(w).cast("bigint").alias(
            "filled_c"
        ),
    )


@query(
    "nulls_ordering_contract",
    oracle="""
    WITH k AS (
      SELECT c_mktsegment, c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL
                  ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
             END AS nkey
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(arg_min(c_custkey,
                  COALESCE(nkey, 2000000) * 1000000000000 + c_custkey)
                AS BIGINT) AS first_nulls_last,
           CAST(arg_min(c_custkey,
                  COALESCE(nkey, -2000000) * 1000000000000 + c_custkey)
                AS BIGINT) AS first_nulls_first,
           CAST(SUM(CASE WHEN nkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_keys
    FROM k GROUP BY c_mktsegment
    """,
)
def nulls_ordering_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLS FIRST / NULLS LAST ordering pinned: per segment, the first
    customer under an ascending sort of a NULLABLE balance key with
    each null placement — Spark's ASC default is NULLS FIRST (the
    opposite of several warehouses), so code that sorts a nullable
    key without spelling the placement out ports wrong; these two
    columns are the executable reminder.  The window side uses real
    ORDER BY ... NULLS LAST/FIRST syntax; the oracle encodes the same
    order as a sentinel-packed argmin (cents < 2e6, custkey < 1e12,
    so sentinel*1e12 + custkey is a total order inside BIGINT).

    Scale shape: two windows partitioned by segment (row_number rn=1
    election), one rollup — all on the natural key."""
    k = t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.expr(
            "CASE WHEN c_acctbal < 0 THEN NULL"
            " ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END"
        ).alias("nkey"),
    )
    w_last = W.partitionBy("c_mktsegment").orderBy(
        F.col("nkey").asc_nulls_last(), F.col("c_custkey").asc()
    )
    w_first = W.partitionBy("c_mktsegment").orderBy(
        F.col("nkey").asc_nulls_first(), F.col("c_custkey").asc()
    )
    r = k.select(
        "c_mktsegment",
        "c_custkey",
        "nkey",
        F.row_number().over(w_last).alias("rl"),
        F.row_number().over(w_first).alias("rf"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.max(F.when(F.col("rl") == 1, F.col("c_custkey")))
        .cast("bigint")
        .alias("first_nulls_last"),
        F.max(F.when(F.col("rf") == 1, F.col("c_custkey")))
        .cast("bigint")
        .alias("first_nulls_first"),
        F.sum(F.when(F.col("nkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_keys"),
    )


@query(
    "window_percent_rank",
    oracle=f"""
    SELECT c_custkey,
           {round_half('PERCENT_RANK() OVER w', 8)} AS pr,
           {round_half('CUME_DIST() OVER w', 8)} AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey)
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK and CUME_DIST per market segment under a total
    order: (rank-1)/(n-1) vs rank/n — the two 'relative position'
    functions analysts conflate, pinned side by side (percent_rank
    of the first row is 0, cume_dist never is).  Rounded to 8 places
    on both engines: the inputs are identical small rationals, so the
    rounding is deterministic.

    Scale shape: one window partitioned by the natural segment key —
    no global sort."""
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        round_half(F.percent_rank().over(w), 8).alias("pr"),
        round_half(F.cume_dist().over(w), 8).alias("cd"),
    )

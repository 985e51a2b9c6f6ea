"""Time-series indicator operators over the daily grids.

The round-8 third batch: cross-correlation lead/lag moments, the two
canonical trading-style indicators (Cutler RSI, Bollinger breach) on
the orders revenue series, anchored VWAP, and a day-of-week naive
forecast backtest.  All follow the integer-moments convention
(acf_lag_terms, rolling_corr_terms): emit exact BIGINT/DECIMAL
sufficient statistics plus a truncating-division fixed-point ratio —
never a float final — so both engines agree bit-for-bit.

Reference parity note: the reference engine (instructions-mr,
/root/reference — a sequential LLM prompt-pipeline, ~1.1k LoC) has no
time-series operators; this family is part of the extended analytics
surface (SURVEY.md §2.7) a warehouse user expects.

Scale shapes: every query aggregates the corpus to a calendar-bounded
daily grid FIRST (the only corpus-sized exchange), then runs joins /
windows on the grid.  The two partitionless RANGE windows
(rsi_cutler_daily, bollinger_breach_daily) are over the orders
day grid — bounded by the date range, never by data cardinality —
and are allow-listed in tests/test_plans.py with that justification.
"""

from __future__ import annotations
from instructions_mr_spark.plans.guard import literal_df

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_epoch, spark_epoch
from instructions_mr_spark.queries._util import dec_double, t
from instructions_mr_spark.registry import query

# Daily orders revenue in whole dollars (BIGINT-safe squares through
# ~1e9x scale-up, same bound as acf_lag_terms): cents-exact floor,
# then whole-dollar truncation.  Shared verbatim with the oracles.
_DAY_IDX_ORD = spark_epoch("o_orderdate", "day")
_DUCK_DAY_ORD = duck_epoch("o_orderdate", "day")
_REV_DOLLARS = "SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) DIV 100"
_DUCK_REV = "SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) // 100"


def _orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day_idx, x) — whole-dollar revenue per order day."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.expr(_DAY_IDX_ORD).alias("day_idx"))
        .agg(F.expr(_REV_DOLLARS).alias("x"))
    )


# ------------------------------------------ cross-correlation (CCF)


@query(
    "ccf_lag_terms",
    oracle=f"""
    WITH cx AS (
      SELECT {duck_epoch('ts', 'day')} AS day_idx,
             COUNT(*) AS x
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    py AS (
      SELECT {duck_epoch('ts', 'day')} AS day_idx,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) // 100 AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    lags AS (SELECT 0 AS lag UNION ALL SELECT 1
             UNION ALL SELECT 2 UNION ALL SELECT 7)
    SELECT l.lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(a.x * b.y) AS BIGINT) AS s_xy,
           CAST(SUM(a.x) AS BIGINT) AS s_x,
           CAST(SUM(b.y) AS BIGINT) AS s_y,
           CAST(SUM(a.x * a.x) AS BIGINT) AS s_xx,
           CAST(SUM(b.y * b.y) AS BIGINT) AS s_yy
    FROM lags l, cx a
    JOIN py b ON b.day_idx = a.day_idx + l.lag
    GROUP BY 1
    """,
)
def ccf_lag_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation sufficient statistics between the daily CLICK
    COUNT series and the daily PURCHASE REVENUE series at lags 0, 1,
    2 and 7 — the lead/lag question behind every marketing-mix model
    ('do clicks today predict purchases k days out?').  The cross
    twin of acf_lag_terms: per lag, the pair count, cross product and
    both marginal sums / squares from which Pearson r(k) assembles;
    integer moments (counts x whole dollars) keep both engines
    bit-identical.

    Scale shape: two independent (day)-keyed aggregates are the only
    corpus-sized exchanges; the lag joins run on the calendar-bounded
    daily grids (equi-join on shifted day index against a broadcast
    4-row lag table) and the moment rollup is map-side combinable."""
    ev = t(spark, sf_dir, "events")
    day = F.expr(spark_epoch("ts", "day"))
    cx = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(day.alias("day_idx"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    py = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day.alias("day_idx"))
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) DIV 100"
            ).alias("y")
        )
    )
    lags = literal_df(ev.sparkSession, [(0,), (1,), (2,), (7,)], "lag int")
    a = cx.alias("a").crossJoin(F.broadcast(lags))
    pairs = a.join(
        py.alias("b"),
        F.col("b.day_idx") == F.col("a.day_idx") + F.col("lag"),
    )
    return pairs.groupBy(F.col("lag").cast("bigint").alias("lag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("a.x") * F.col("b.y")).cast("bigint").alias("s_xy"),
        F.sum("a.x").cast("bigint").alias("s_x"),
        F.sum("b.y").cast("bigint").alias("s_y"),
        F.sum(F.col("a.x") * F.col("a.x")).cast("bigint").alias("s_xx"),
        F.sum(F.col("b.y") * F.col("b.y")).cast("bigint").alias("s_yy"),
    )


# ------------------------------------------------ Cutler RSI


@query(
    "rsi_cutler_daily",
    oracle=f"""
    WITH daily AS (
      SELECT {_DUCK_DAY_ORD} AS day_idx, {_DUCK_REV} AS x
      FROM orders GROUP BY 1
    ),
    delta AS (
      SELECT d.day_idx,
             GREATEST(d.x - p.x, 0) AS gain,
             GREATEST(p.x - d.x, 0) AS loss
      FROM daily d JOIN daily p ON p.day_idx = d.day_idx - 1
    ),
    win AS (
      SELECT day_idx,
             COUNT(*) OVER w AS n_win,
             SUM(gain) OVER w AS s_gain,
             SUM(loss) OVER w AS s_loss
      FROM delta
      WINDOW w AS (ORDER BY day_idx
                   RANGE BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT day_idx,
           CAST(n_win AS BIGINT) AS n_win,
           CAST(s_gain AS BIGINT) AS s_gain,
           CAST(s_loss AS BIGINT) AS s_loss,
           CAST(CASE WHEN s_gain + s_loss = 0 THEN 500000
                ELSE s_gain * 1000000 // (s_gain + s_loss) END AS BIGINT)
             AS rsi_e6
    FROM win
    """,
)
def rsi_cutler_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI (14-day) of the daily orders-revenue series — the
    SMA form of the relative strength index (plain window sums, no
    Wilder recursion, so it is an exact windowed aggregate instead of
    an infinite-memory EWM): per day, the trailing-14-CALENDAR-day
    gain and loss sums and RSI = 1e6 * s_gain / (s_gain + s_loss)
    under truncating division (the 0/0 flat-market case pins to the
    conventional neutral 50).  Day-over-day deltas come from a
    calendar self-join on day_idx - 1 (a gap day yields no delta on
    either engine), and the frame is a RANGE over the integer day
    index, so missing days age out in wall-clock time — the
    rolling_corr_terms ADVICE lesson applied from the start.

    Scale shape: the day-keyed aggregate is the only corpus-sized
    exchange; the delta join and the partitionless RANGE window run
    on the calendar-bounded day grid (rows = date range, never data
    cardinality — allow-listed in tests/test_plans.py)."""
    daily = _orders_daily(spark, sf_dir)
    prev = daily.select(
        (F.col("day_idx") + 1).alias("day_idx"), F.col("x").alias("px")
    )
    delta = daily.join(prev, "day_idx").select(
        "day_idx",
        F.greatest(F.col("x") - F.col("px"), F.lit(0)).alias("gain"),
        F.greatest(F.col("px") - F.col("x"), F.lit(0)).alias("loss"),
    )
    w = Window.orderBy("day_idx").rangeBetween(-13, Window.currentRow)
    win = delta.select(
        "day_idx",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum("gain").over(w).alias("s_gain"),
        F.sum("loss").over(w).alias("s_loss"),
    )
    return win.select(
        "day_idx",
        F.col("n_win").cast("bigint").alias("n_win"),
        F.col("s_gain").cast("bigint").alias("s_gain"),
        F.col("s_loss").cast("bigint").alias("s_loss"),
        F.expr(
            "CAST(CASE WHEN s_gain + s_loss = 0 THEN 500000"
            " ELSE s_gain * 1000000 DIV (s_gain + s_loss) END AS BIGINT)"
        ).alias("rsi_e6"),
    )


# ------------------------------------------- Bollinger breach


@query(
    "bollinger_breach_daily",
    oracle=f"""
    WITH daily AS (
      SELECT {_DUCK_DAY_ORD} AS day_idx, {_DUCK_REV} AS x
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT day_idx, x,
             COUNT(*) OVER w AS n_win,
             SUM(x) OVER w AS s_win,
             SUM(CAST(x AS DECIMAL(19,0)) * x) OVER w AS ss_win
      FROM daily
      WINDOW w AS (ORDER BY day_idx
                   RANGE BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT day_idx,
           CAST(x AS BIGINT) AS x,
           CAST(n_win AS BIGINT) AS n_win,
           CAST(s_win AS BIGINT) AS s_win,
           {dec_double("ss_win")} AS ss_win,
           CAST(CAST(n_win * x - s_win AS DECIMAL(19,0))
                  * CAST(n_win * x - s_win AS DECIMAL(19,0))
                > 4 * (CAST(n_win AS DECIMAL(19,0)) * ss_win
                       - CAST(s_win AS DECIMAL(19,0)) * s_win)
                AS BOOLEAN) AS breach
    FROM win
    """,
)
def bollinger_breach_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach flags on the daily orders-revenue series:
    per day, the trailing-20-calendar-day count / sum / sum-of-squares
    and whether the day sits outside mean +/- 2 sigma (population).
    The breach test is the all-integer rearrangement
    (n*x - s)^2 > 4 * (n*ss - s^2) — both sides DECIMAL(38,0)-exact,
    so the boolean can never flip between engines the way a float
    z-score comparison could; the emitted moments (ss_win as the
    nearest DOUBLE, the _util output-type rule) let a consumer recover
    mean and sigma.  Holds to 100 TB: with whole-dollar days up to
    ~1e10, (n*x - s)^2 stays under 1e23 and n*ss under ~1e23, inside
    DECIMAL(38).

    Scale shape: day-keyed aggregate (the corpus exchange), then a
    partitionless RANGE window over the calendar-bounded day grid
    (allow-listed in tests/test_plans.py)."""
    daily = _orders_daily(spark, sf_dir)
    w = Window.orderBy("day_idx").rangeBetween(-19, Window.currentRow)
    win = daily.select(
        "day_idx",
        "x",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum("x").over(w).alias("s_win"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x")).over(w).alias("ss0"),
    )
    return win.select(
        "day_idx",
        F.col("x").cast("bigint").alias("x"),
        F.col("n_win").cast("bigint").alias("n_win"),
        F.col("s_win").cast("bigint").alias("s_win"),
        F.expr(dec_double("ss0")).alias("ss_win"),
        F.expr(
            "CAST(CAST(n_win * x - s_win AS DECIMAL(19,0))"
            "       * CAST(n_win * x - s_win AS DECIMAL(19,0))"
            "     > 4 * (CAST(n_win AS DECIMAL(19,0)) * ss0"
            "            - CAST(s_win AS DECIMAL(19,0)) * s_win)"
            " AS BOOLEAN)"
        ).alias("breach"),
    )


# -------------------------------------------- anchored VWAP


@query(
    "vwap_anchored_daily",
    oracle=f"""
    WITH daily AS (
      SELECT l_returnflag,
             {duck_epoch('l_shipdate', 'day')}
               AS day_idx,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS p_cents,
             SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS q_c
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, day_idx, p_cents, q_c,
             SUM(p_cents) OVER w AS cum_p,
             SUM(q_c) OVER w AS cum_q
      FROM daily
      WINDOW w AS (PARTITION BY l_returnflag ORDER BY day_idx
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT l_returnflag, day_idx,
           CAST(p_cents AS BIGINT) AS p_cents,
           CAST(q_c AS BIGINT) AS q_c,
           CAST(CAST(cum_p AS HUGEINT) * 10000 // cum_q AS BIGINT)
             AS avwap_e4
    FROM cum
    """,
)
def vwap_anchored_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored VWAP per return flag: the running
    SUM(price) / SUM(quantity) from the series start through each ship
    day — the volume-weighted average price every execution-quality
    report anchors to.  Daily price / quantity land as exact cents /
    hundredths; the ratio is emitted as a 1e4 fixed-point truncating
    division computed in wide integers (HUGEINT / DECIMAL(38,0)) so
    the cumulative numerator can exceed BIGINT x 1e4 at 100 TB
    without overflow.

    Scale shape: one (flag, day)-keyed aggregate is the corpus
    exchange; the running sums are a RANGE window PARTITIONED by
    return flag over calendar-bounded rows (never partitionless)."""
    daily = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            "l_returnflag",
            F.expr(spark_epoch("l_shipdate", "day")).alias("day_idx"),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("p_cents"),
            F.expr(
                "SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))"
            ).alias("q_c"),
        )
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("day_idx")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "l_returnflag",
        "day_idx",
        "p_cents",
        "q_c",
        F.sum("p_cents").over(w).alias("cum_p"),
        F.sum("q_c").over(w).alias("cum_q"),
    )
    return cum.select(
        "l_returnflag",
        "day_idx",
        F.col("p_cents").cast("bigint").alias("p_cents"),
        F.col("q_c").cast("bigint").alias("q_c"),
        F.expr(
            "CAST((CAST(cum_p AS DECIMAL(38,0)) * 10000) DIV cum_q"
            " AS BIGINT)"
        ).alias("avwap_e4"),
    )


# --------------------------------- day-of-week naive backtest


@query(
    "forecast_dow_naive_terms",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ABS(a.n - f.n)) AS BIGINT) AS s_abs_err,
           CAST(SUM(a.n) AS BIGINT) AS s_actual,
           CAST(SUM(f.n) AS BIGINT) AS s_fcst,
           CAST(SUM(ABS(a.n - f.n)) * 1000000 // SUM(a.n) AS BIGINT)
             AS wape_e6
    FROM daily a
    JOIN daily f ON f.event_type = a.event_type
                AND f.day_idx = a.day_idx - 7
    GROUP BY 1
    """,
)
def forecast_dow_naive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event
    count per type as the count 7 days earlier (the same-weekday
    naive model — the baseline every demand forecast must beat), then
    score it with WAPE = sum|actual - forecast| / sum(actual) as a
    1e6 fixed-point integer plus the exact error / volume sums.  Days
    without a 7-days-prior observation drop out identically on both
    engines (inner calendar join, no imputation).

    Scale shape: one (type, day) aggregate is the corpus exchange;
    the forecast join is an equi-join on the calendar-bounded daily
    grid and the scoring rollup is map-side combinable."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    f = daily.select(
        "event_type",
        (F.col("day_idx") + 7).alias("day_idx"),
        F.col("n").alias("fn"),
    )
    scored = daily.join(f, ["event_type", "day_idx"])
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.abs(F.col("n") - F.col("fn"))).cast("bigint").alias(
            "s_abs_err"
        ),
        F.sum("n").cast("bigint").alias("s_actual"),
        F.sum("fn").cast("bigint").alias("s_fcst"),
        F.expr(
            "CAST(SUM(ABS(n - fn)) * 1000000 DIV SUM(n) AS BIGINT)"
        ).alias("wape_e6"),
    )


# ------------------------------------------------ drawdown


@query(
    "drawdown_daily",
    oracle=f"""
    WITH daily AS (
      SELECT {_DUCK_DAY_ORD} AS day_idx, {_DUCK_REV} AS x
      FROM orders GROUP BY 1
    ),
    pk AS (
      SELECT day_idx, x,
             MAX(x) OVER (ORDER BY day_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak
      FROM daily
    )
    SELECT day_idx,
           CAST(x AS BIGINT) AS x,
           CAST(peak AS BIGINT) AS peak,
           CAST((peak - x) * 1000000 // peak AS BIGINT) AS dd_e6
    FROM pk
    """,
)
def drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of the daily orders-revenue series: per
    day, the all-time-high so far and the drawdown fraction
    (peak - x) / peak as a 1e6 fixed-point truncating division — the
    'how far below the best day are we' curve behind every revenue
    health dashboard and the max-drawdown risk metric.  Whole-dollar
    daily revenue is strictly positive, so the division is total.

    Scale shape: the day-keyed aggregate is the only corpus-sized
    exchange; the running max is a partitionless ROWS window over the
    calendar-bounded day grid (rows = date range, never data
    cardinality — allow-listed in tests/test_plans.py)."""
    daily = _orders_daily(spark, sf_dir)
    w = (
        Window.orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pk = daily.select(
        "day_idx", "x", F.max("x").over(w).alias("peak")
    )
    return pk.select(
        "day_idx",
        F.col("x").cast("bigint").alias("x"),
        F.col("peak").cast("bigint").alias("peak"),
        F.expr("CAST((peak - x) * 1000000 DIV peak AS BIGINT)").alias(
            "dd_e6"
        ),
    )


# ------------------------------------------- up/down streaks


@query(
    "updown_streaks",
    oracle=f"""
    WITH daily AS (
      SELECT {_DUCK_DAY_ORD} AS day_idx, {_DUCK_REV} AS x
      FROM orders GROUP BY 1
    ),
    delta AS (
      SELECT day_idx,
             CAST(SIGN(x - LAG(x) OVER w) AS BIGINT) AS dir,
             day_idx - LAG(day_idx) OVER w AS gap
      FROM daily
      WINDOW w AS (ORDER BY day_idx)
    ),
    moves AS (SELECT * FROM delta WHERE dir IS NOT NULL),
    flagged AS (
      SELECT day_idx, dir,
             CASE WHEN LAG(dir) OVER w IS NULL
                    OR LAG(dir) OVER w <> dir
                    OR gap > 1 THEN 1 ELSE 0 END AS brk
      FROM moves
      WINDOW w AS (ORDER BY day_idx)
    ),
    streaks AS (
      SELECT dir,
             SUM(brk) OVER (ORDER BY day_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
      FROM flagged
    ),
    runs AS (
      SELECT dir, sid, COUNT(*) AS len FROM streaks GROUP BY 1, 2
    )
    SELECT dir, CAST(len AS BIGINT) AS len,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY 1, 2
    """,
)
def updown_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length distribution of consecutive up / down / flat days in
    the daily orders-revenue series (gaps-and-islands on the delta
    sign): a streak breaks on a sign change OR a missing calendar day,
    and the output histograms streak length by direction — the 'n
    straight down days' alerting primitive and a randomness check
    (geometric lengths) in one.  The island flag uses LAG over the
    unique day index, so numbering is fully deterministic.

    Scale shape: the day-keyed aggregate is the only corpus-sized
    exchange; the LAG / running-sum windows run over the
    calendar-bounded day grid (allow-listed in tests/test_plans.py)
    and the two rollups are map-side combinable."""
    daily = _orders_daily(spark, sf_dir)
    wo = Window.orderBy("day_idx")
    delta = daily.select(
        "day_idx",
        F.signum(F.col("x") - F.lag("x").over(wo)).cast("bigint").alias("dir"),
        (F.col("day_idx") - F.lag("day_idx").over(wo)).alias("gap"),
    ).filter(F.col("dir").isNotNull())
    flagged = delta.select(
        "day_idx",
        "dir",
        F.when(
            F.lag("dir").over(wo).isNull()
            | (F.lag("dir").over(wo) != F.col("dir"))
            | (F.col("gap") > 1),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    wsum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    streaks = flagged.select(
        "dir", F.sum("brk").over(wsum).alias("sid")
    )
    runs = streaks.groupBy("dir", "sid").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("dir", F.col("len").cast("bigint").alias("len")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks")
    )


# ------------------------------------- Poisson overdispersion


@query(
    "poisson_dispersion_audit",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(n) AS BIGINT) AS s_n,
           {dec_double("SUM(CAST(n AS DECIMAL(38,0)) * n)")} AS s_nn,
           CAST(CAST((COUNT(*) * SUM(CAST(n AS DECIMAL(38,0)) * n)
                      - CAST(SUM(n) AS DECIMAL(38,0)) * SUM(n)) * 1000000
                     AS HUGEINT)
                // CAST((COUNT(*) - 1) * CAST(SUM(n) AS DECIMAL(38,0))
                        AS HUGEINT)
                AS BIGINT) AS dispersion_e6
    FROM daily GROUP BY 1
    """,
)
def poisson_dispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion audit of daily event arrivals per type: the
    variance-to-mean ratio (Fisher dispersion index) as a 1e6
    fixed-point integer — 1e6 means Poisson-consistent traffic, far
    above means bursty / bot-like arrivals, the standard first screen
    before fitting any count model.  Assembled from exact integer
    moments as n*(n*s_nn - s_n^2) / (n*(n-1)*s_n) reduced to
    (n*s_nn - s_n^2)*1e6 / ((n-1)*s_n); all intermediates are
    DECIMAL(38,0), so daily counts up to ~1e9 at 100 TB cannot
    overflow where BIGINT squares would.  The final division runs as
    Spark's exact integral DIV; the oracle casts both operands to
    HUGEINT first because DuckDB's ``//`` on DECIMAL operands goes
    through floating point and can lose the last fixed-point digit.

    Scale shape: one (type, day) aggregate is the corpus exchange;
    the per-type rollup is map-side combinable with no window at
    all."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("s_n"),
        F.expr(dec_double("SUM(CAST(n AS DECIMAL(38,0)) * n)")).alias("s_nn"),
        F.expr(
            "CAST((COUNT(1) * SUM(CAST(n AS DECIMAL(38,0)) * n)"
            "      - CAST(SUM(n) AS DECIMAL(38,0)) * SUM(n)) * 1000000"
            "     DIV ((COUNT(1) - 1) * CAST(SUM(n) AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("dispersion_e6"),
    )


# -------------------------------------- monthly brand momentum


@query(
    "momentum_rank_monthly",
    oracle="""
    WITH monthly AS (
      SELECT p.p_brand,
             CAST(date_part('year', l.l_shipdate) * 12
                  + date_part('month', l.l_shipdate) AS BIGINT) AS month_idx,
             SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               AS rev_c
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    )
    SELECT p_brand, month_idx,
           CAST(rev_c AS BIGINT) AS rev_c,
           CAST(rev_c - LAG(rev_c) OVER (PARTITION BY p_brand
                                         ORDER BY month_idx) AS BIGINT)
             AS mom_delta_c,
           CAST(RANK() OVER (PARTITION BY month_idx
                             ORDER BY rev_c DESC, p_brand) AS BIGINT)
             AS rnk
    FROM monthly
    """,
)
def momentum_rank_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand leaderboard with momentum: monthly revenue per brand
    (exact cents), the month-over-month delta (LAG within the brand's
    own series; NULL on its first month), and the brand's rank within
    each month (total order: revenue desc, brand) — the 'who moved up
    the leaderboard and how fast' slide of every category review.

    Scale shape: part joins as a plain equi-join (no forced hint —
    part grows with sf; AQE broadcasts it while small); the corpus
    collapses to a (brand, month) grid in one exchange; both windows
    partition on natural keys (brand for LAG, month for RANK — each
    partition is brand- or month-sized, never corpus-sized)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            "p_brand",
            F.expr(
                "CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)"
            ).alias("month_idx"),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("rev_c")
        )
    )
    wb = Window.partitionBy("p_brand").orderBy("month_idx")
    wm = Window.partitionBy("month_idx").orderBy(
        F.col("rev_c").desc(), "p_brand"
    )
    return monthly.select(
        "p_brand",
        "month_idx",
        F.col("rev_c").cast("bigint").alias("rev_c"),
        (F.col("rev_c") - F.lag("rev_c").over(wb))
        .cast("bigint")
        .alias("mom_delta_c"),
        F.rank().over(wm).cast("bigint").alias("rnk"),
    )


# --------------------------------- promo difference-in-differences


@query(
    "promo_uplift_did",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                     AND l.l_shipdate >= TIMESTAMP '1996-01-01'
               THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS post_treat_c,
      CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                     AND l.l_shipdate < TIMESTAMP '1996-01-01'
               THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS pre_treat_c,
      CAST(SUM(CASE WHEN p.p_type NOT LIKE 'PROMO%'
                     AND l.l_shipdate >= TIMESTAMP '1996-01-01'
               THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS post_ctrl_c,
      CAST(SUM(CASE WHEN p.p_type NOT LIKE 'PROMO%'
                     AND l.l_shipdate < TIMESTAMP '1996-01-01'
               THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS pre_ctrl_c,
      CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
)
def promo_uplift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences input sheet for the PROMO assortment:
    exact-cents revenue in the four (treated x period) cells around
    the 1996-01-01 cutoff — DiD = (post_t - pre_t) - (post_c - pre_c)
    assembles from the emitted cells at any normalization the analyst
    picks (per-day, per-part), which is why the query ships the exact
    cells rather than one opinionated ratio.  The standard causal
    read-out for 'did the promo line outgrow the rest of the catalog'.

    Scale shape: part joins hint-free (AQE picks the strategy from
    measured size); the whole corpus folds into ONE
    map-side-combinable conditional aggregate — a single row out, no
    window, no second exchange."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    cents = "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
    cut = "TIMESTAMP '1996-01-01'"

    def cell(treat: bool, post: bool, alias: str):
        tcond = "p_type LIKE 'PROMO%'" if treat else "p_type NOT LIKE 'PROMO%'"
        pcond = f"l_shipdate >= {cut}" if post else f"l_shipdate < {cut}"
        return F.expr(
            f"CAST(SUM(CASE WHEN {tcond} AND {pcond} THEN {cents}"
            f" ELSE 0 END) AS BIGINT)"
        ).alias(alias)

    return j.agg(
        cell(True, True, "post_treat_c"),
        cell(True, False, "pre_treat_c"),
        cell(False, True, "post_ctrl_c"),
        cell(False, False, "pre_ctrl_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# ---------------------------------------- lagged feature spine


@query(
    "lag_features_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_idx,
           CAST(n AS BIGINT) AS n,
           CAST(LAG(n, 1) OVER w AS BIGINT) AS n_lag1,
           CAST(LAG(n, 7) OVER w AS BIGINT) AS n_lag7,
           CAST(n - LAG(n, 1) OVER w AS BIGINT) AS delta1
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
    """,
)
def lag_features_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged feature spine for forecasting models: per (type, day),
    today's count plus the 1-day and 7-day lags and the first
    difference — the standard autoregressive feature block, emitted
    as a table a trainer joins targets onto.  LAG(k) is ROW-based
    over the day grid, so a missing calendar day shifts the lag
    window (exactly like a pandas shift on a sparse index) — pair
    with ts_gap_fill first when calendar alignment matters; the
    docstring states the convention so consumers choose knowingly.

    Scale shape: one (type, day) aggregate (the corpus exchange),
    then LAG windows partitioned by type over calendar-bounded
    grids."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day_idx")
    return daily.select(
        "event_type",
        "day_idx",
        F.col("n").cast("bigint").alias("n"),
        F.lag("n", 1).over(w).cast("bigint").alias("n_lag1"),
        F.lag("n", 7).over(w).cast("bigint").alias("n_lag7"),
        (F.col("n") - F.lag("n", 1).over(w)).cast("bigint").alias("delta1"),
    )


# ---------------------------------------- hour-of-week matrix


@query(
    "hour_of_week_matrix",
    oracle="""
    SELECT CAST(date_part('isodow', CAST(ts AS TIMESTAMP)) - 1 AS BIGINT)
             AS dow,
           CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def hour_of_week_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7x24 traffic heatmap: events and distinct users per
    (Monday-based weekday, hour) cell — the capacity-planning and
    anomaly-baseline matrix every ops dashboard opens with.  Weekday
    uses the ISO convention on both engines (Spark weekday() is
    already Monday=0; DuckDB isodow-1) — the same off-by-one trap
    calendar_dim_generate pins.

    Scale shape: ONE aggregate onto the bounded 168-cell grid; the
    distinct-user count partial-aggregates per cell."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.expr("CAST(weekday(CAST(ts AS TIMESTAMP)) AS BIGINT)").alias(
                "dow"
            ),
            F.expr("CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT)").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


# ------------------------------------- trend acceleration 7v28


@query(
    "trend_accel_7v28",
    oracle=f"""
    WITH daily AS (
      SELECT {_DUCK_DAY_ORD} AS day_idx, {_DUCK_REV} AS x
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT day_idx,
             SUM(x) OVER (ORDER BY day_idx
                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
             SUM(x) OVER (ORDER BY day_idx
                          RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS s28
      FROM daily
    )
    SELECT day_idx,
           CAST(s7 AS BIGINT) AS s7,
           CAST(s28 AS BIGINT) AS s28,
           CAST(s7 * 4000000 // s28 AS BIGINT) AS accel_e6
    FROM win
    """,
)
def trend_accel_7v28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend acceleration: trailing-7-day revenue against trailing-28,
    normalized so a flat series reads 1e6 (s7 * 4 / s28 in truncating
    fixed point) — above 1e6 the last week outran the last month
    (accelerating), below it the trend is rolling over; the momentum
    oscillator product teams watch daily.  Both frames are RANGE over
    the integer day index, so missing days age out in wall-clock
    time.

    Scale shape: the day-keyed aggregate is the only corpus-sized
    exchange; both RANGE windows share one partitionless pass over
    the calendar-bounded day grid (allow-listed in
    tests/test_plans.py)."""
    daily = _orders_daily(spark, sf_dir)
    w7 = Window.orderBy("day_idx").rangeBetween(-6, Window.currentRow)
    w28 = Window.orderBy("day_idx").rangeBetween(-27, Window.currentRow)
    win = daily.select(
        "day_idx",
        F.sum("x").over(w7).alias("s7"),
        F.sum("x").over(w28).alias("s28"),
    )
    return win.select(
        "day_idx",
        F.col("s7").cast("bigint").alias("s7"),
        F.col("s28").cast("bigint").alias("s28"),
        F.expr("CAST(s7 * 4000000 DIV s28 AS BIGINT)").alias("accel_e6"),
    )


# --------------------------------------- top weekly movers


@query(
    "top_movers_wow_parts",
    oracle=f"""
    WITH wk AS (
      SELECT l_partkey,
             {duck_epoch('l_shipdate', 'week')} AS week_idx,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
      FROM lineitem GROUP BY 1, 2
    ),
    d AS (
      SELECT l_partkey, week_idx, rev,
             rev - LAG(rev) OVER (PARTITION BY l_partkey
                                  ORDER BY week_idx) AS delta
      FROM wk
    )
    SELECT l_partkey, week_idx,
           CAST(rev AS BIGINT) AS rev_c,
           CAST(delta AS BIGINT) AS delta_c
    FROM d WHERE delta IS NOT NULL
    ORDER BY ABS(delta) DESC, l_partkey, week_idx
    LIMIT 15
    """,
)
def top_movers_wow_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly movers board: the 15 largest absolute week-over-week
    revenue swings across all (part, week) cells — the 'what changed
    and when' triage list that turns a wiggly total into named
    suspects.  LAG runs within each part's own weekly series
    (ROW-based, so a part skipping a week compares against its last
    ACTIVE week — stated convention); ordering is total via the
    (|delta|, part, week) tiebreak.

    Scale shape: one (part, week) aggregate, a LAG window partitioned
    by part, and a TakeOrderedAndProject top-15 — no global sort
    materializes."""
    wk = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey",
            F.expr(spark_epoch("l_shipdate", "week")).alias("week_idx"),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("rev")
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("week_idx")
    d = wk.select(
        "l_partkey",
        "week_idx",
        "rev",
        (F.col("rev") - F.lag("rev").over(w)).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    return (
        d.select(
            "l_partkey",
            "week_idx",
            F.col("rev").cast("bigint").alias("rev_c"),
            F.col("delta").cast("bigint").alias("delta_c"),
        )
        .orderBy(
            F.abs(F.col("delta_c")).desc(), "l_partkey", "week_idx"
        )
        .limit(15)
    )

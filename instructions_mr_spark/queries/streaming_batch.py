"""Event-time windowing over the events table, batch mode
(SURVEY.md §2.7 stream_tumble / stream_session; the reference's README
lists "Can Not Streaming E2E" as a drawback — this engine lifts it).

These queries use the SAME window functions Structured Streaming
executes incrementally (F.window / F.session_window); the streaming
runtime itself (readStream, watermarks, state) is exercised in
tests/test_streaming.py where a query can be driven to completion.
Batch mode makes the semantics DuckDB-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_epoch, round_half, spark_epoch
from instructions_mr_spark.queries._util import DEC_VALUE, sum_d, t
from instructions_mr_spark.registry import query


@query(
    "stream_tumble",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n,
           {sum_d(DEC_VALUE, 'total_value')}
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregate — identical logical plan under
    readStream + watermark."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.expr(sum_d(DEC_VALUE, "total_value")))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@query(
    "stream_sliding",
    oracle="""
    SELECT window_start, COUNT(*) AS n
    FROM (
      SELECT CAST(time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start FROM events
      UNION ALL
      SELECT CAST(time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE AS TIMESTAMP) FROM events
    ) x
    GROUP BY window_start
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes: each event lands in two
    windows; the oracle materializes the same assignment explicitly."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@query(
    "stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user via F.session_window —
    Spark defines session end as last-event + gap; the oracle builds
    the same islands with lag + running sum."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, micros


@query(
    "stream_funnel_sessions",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, event_type,
             {duck_epoch('ts')} AS ts_us
      FROM events
    ), flagged AS (
      SELECT *,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                    OR ts_us - LAG(ts_us) OVER w > {_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), numbered AS (
      SELECT *,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), seen AS (
      SELECT *,
             COALESCE(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id, sid ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS seen_view
      FROM numbered
    )
    SELECT user_id,
           make_timestamp(MIN(ts_us)) AS session_start,
           make_timestamp(MAX(ts_us) + {_GAP_US}) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases,
           MAX(CASE WHEN event_type = 'purchase' AND seen_view = 1
                    THEN 1 ELSE 0 END) = 1 AS converted
    FROM seen GROUP BY user_id, sid
    """,
)
def stream_funnel_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming session-funnel operator
    (streaming/__init__.py session_funnel): gap sessionization via
    lag + running sum, funnel conversion = purchase with a strictly
    earlier view in the same session.  The streaming op must emit
    exactly these rows for every closed session
    (tests/test_streaming.py::test_stateful_session_funnel)."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(spark_epoch("ts")).alias("ts_us"),
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    new_session = F.when(
        prev.isNull() | (F.col("ts_us") - prev > _GAP_US), 1
    ).otherwise(0)
    numbered = e.withColumn(
        "sid",
        F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    w_sess = (
        W.partitionBy("user_id", "sid")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seen_view = F.coalesce(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(w_sess),
        F.lit(0),
    )
    seen = numbered.withColumn(
        "conv_evt",
        F.when(
            (F.col("event_type") == "purchase") & (seen_view == 1), 1
        ).otherwise(0),
    )
    return (
        seen.groupBy("user_id", "sid")
        .agg(
            F.timestamp_micros(F.min("ts_us")).alias("session_start"),
            F.timestamp_micros(F.max("ts_us") + _GAP_US).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases"),
            (F.max("conv_evt") == 1).alias("converted"),
        )
        .drop("sid")
    )


@query(
    "stream_running_max",
    oracle="""
    SELECT user_id, MAX(value) AS max_value, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the running_max_per_user stateful streaming
    operator (streaming/__init__.py): the stream's final per-user
    state must equal this per-user max/count (the E2E
    tests/test_streaming.py::test_stateful_running_max pins stream ==
    batch; this entry pins batch == oracle, closing the loop).  MAX is
    order-independent so no decimal/rounding dance is needed."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.max("value").alias("max_value"), F.count("*").alias("n_events")
    )


@query(
    "stream_dedup_keys",
    oracle="""
    SELECT user_id, event_type, MIN(event_id) AS first_event
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup (keep-first) — the batch twin of streaming
    dropDuplicates-with-watermark (state = one row per key)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(F.min("event_id").alias("first_event"))


@query(
    "stream_join_interval",
    oracle=f"""
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           CAST(({duck_epoch('c.ts')}
                 - {duck_epoch('v.ts')}) // 1000000 AS BIGINT)
             AS lag_sec
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts < v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (view -> click
    attribution within 30 min, per user): equality on user_id plus a
    time-range predicate — EXACTLY the plan Structured Streaming runs
    with two watermarked sources, where the interval bound is what
    lets the engine expire join state (tests/test_streaming.py
    test_stream_stream_join drives the readStream form).  At 100 TB
    the equi-key carries the shuffle; the range condition prunes
    within each key group, and state size is bounded by
    watermark + interval, not history."""
    e = t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    j = v.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") < F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    lag_sec = (
        F.expr(spark_epoch("c_ts")) - F.expr(spark_epoch("v_ts"))
    ) / 1_000_000
    return j.select(
        "user_id", "view_id", "click_id", lag_sec.cast("long").alias("lag_sec")
    )


@query(
    "stream_anomaly_zscore",
    oracle=f"""
    WITH counts AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type, COUNT(*) AS n_w, SUM(c) AS s1, SUM(c * c) AS s2
      FROM counts GROUP BY event_type
    )
    SELECT c.window_start, c.event_type, c.c AS n_events,
           {round_half('(c.c - CAST(s.s1 AS DOUBLE) / s.n_w)'
                 ' / sqrt((s.s2 - CAST(s.s1 AS DOUBLE) * s.s1 / s.n_w)'
                        ' / (s.n_w - 1))', 6)} AS z,
           ABS({round_half('(c.c - CAST(s.s1 AS DOUBLE) / s.n_w)'
                 ' / sqrt((s.s2 - CAST(s.s1 AS DOUBLE) * s.s1 / s.n_w)'
                        ' / (s.n_w - 1))', 6)}) >= 2.0 AS anomalous
    FROM counts c JOIN stats s USING (event_type)
    WHERE s.n_w > 1
      AND (s.s2 - CAST(s.s1 AS DOUBLE) * s.s1 / s.n_w) > 0
    """,
)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-anomaly detection: z-score each (hour, event_type)
    window's event count against that type's across-window
    distribution, flagging |z| >= 2 — the monitoring query a streaming
    deployment runs per trigger (the batch twin of tumbling counts +
    a broadcast stats join).

    Float stability: the per-type moments are INTEGER sums (count,
    sum, sum-of-squares) — order-free by construction; the z formula
    is then a per-row function of identical integers on both engines,
    so the 6-digit rounding is identical.  Scale shape: one window-count aggregate,
    a type-keyed reaggregate (tiny, broadcasts back), no second corpus
    pass."""
    e = t(spark, sf_dir, "events")
    counts = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    stats = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_w"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    j = counts.join(F.broadcast(stats), "event_type").filter(
        (F.col("n_w") > 1)
        & (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_w") > 0)
    )
    z = round_half(
        (F.col("c") - F.col("s1").cast("double") / F.col("n_w"))
        / F.sqrt(
            (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_w"))
            / (F.col("n_w") - 1)
        ),
        6,
    )
    return j.select(
        "window_start",
        "event_type",
        F.col("c").alias("n_events"),
        z.alias("z"),
        (F.abs(z) >= 2.0).alias("anomalous"),
    )


_SQB_WIDTH = 1000  # histogram bin width in cents (matches sketch_quantile_merge)


@query(
    "stream_quantile_bins",
    oracle=f"""
    WITH b AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // {_SQB_WIDTH} AS bin,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT window_start, bin, c,
             SUM(c) OVER (PARTITION BY window_start ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY window_start) AS n
      FROM b
    )
    SELECT window_start,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN 100 * cum_c >= 50 * n THEN bin END)
                * {_SQB_WIDTH} AS BIGINT) AS p50_lo_cents,
           CAST(MIN(CASE WHEN 100 * cum_c >= 99 * n THEN bin END)
                * {_SQB_WIDTH} AS BIGINT) AS p99_lo_cents
    FROM cum GROUP BY window_start
    """,
)
def stream_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed quantile sketch — the STREAMING-SHAPED twin of
    sketch_quantile_merge: per 1-hour tumbling window, a fixed-bin
    cents histogram whose per-bin counts are pure additive state (the
    one quantile structure Structured Streaming can maintain
    incrementally — exact per-window percentile sorts cannot), read
    out as p50/p99 bin lower bounds with the all-integer
    100*cum >= p*n rule.  Under readStream the (window, bin) aggregate
    runs with a watermark and the quantile read happens downstream of
    the sink (tests/test_streaming.py drives the twin).

    Scale shape: one (window, bin) group-by — bounded state per
    window; cumulative + read windows run on histogram rows only."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    b = (
        e.select(
            F.window("ts", "1 hour").alias("w"),
            F.expr(
                f"CAST(FLOOR(value * 100 + 0.5) AS BIGINT) div {_SQB_WIDTH}"
            ).alias("bin"),
        )
        .groupBy(F.col("w.start").alias("window_start"), "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = b.select(
        "window_start",
        "bin",
        F.sum("c")
        .over(
            Window.partitionBy("window_start")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum_c"),
        F.sum("c").over(Window.partitionBy("window_start")).alias("n"),
    )
    pick = lambda p: F.min(  # noqa: E731
        F.when(100 * F.col("cum_c") >= p * F.col("n"), F.col("bin"))
    ) * _SQB_WIDTH
    return cum.groupBy("window_start").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(50).cast("bigint").alias("p50_lo_cents"),
        pick(99).cast("bigint").alias("p99_lo_cents"),
    )


@query(
    "event_disorder_histogram",
    oracle=f"""
    WITH arr AS (
      SELECT event_type,
             {duck_epoch('ts')} AS tsu,
             MAX({duck_epoch('ts')}) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_max
      FROM events
    ),
    lat AS (
      SELECT event_type,
             CASE WHEN seen_max IS NULL OR seen_max <= tsu THEN 0
                  WHEN seen_max - tsu < 1000000 THEN 1
                  WHEN seen_max - tsu < 10000000 THEN 2
                  WHEN seen_max - tsu < 60000000 THEN 3
                  WHEN seen_max - tsu < 600000000 THEN 4
                  ELSE 5 END AS disorder_bucket
      FROM arr
    )
    SELECT event_type, disorder_bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM lat GROUP BY 1, 2
    """,
)
def event_disorder_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile: for each event (in ARRIVAL order =
    event_id), how far behind the maximum event-time already seen it
    arrives — bucketed 0 (in order), <1s, <10s, <1m, <10m, >=10m.
    This histogram IS the watermark-delay decision: a stream with
    99.9% of mass in buckets 0-2 can run withWatermark('10 seconds')
    and drop almost nothing; mass in bucket 5 means late data needs
    an out-of-band reconciliation path.  All-integer microsecond
    math through the NTZ-safe cast.

    Scale shape: the running max shares the per-type window exchange
    (per input partition in a real stream — disorder is a per-source
    property); the histogram groups on a 6-value domain."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    tsu = F.expr(spark_epoch("ts"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = e.select(
        "event_type",
        tsu.alias("tsu"),
        F.max(tsu).over(w).alias("seen_max"),
    )
    bucket = F.expr(
        "CASE WHEN seen_max IS NULL OR seen_max <= tsu THEN 0 "
        "WHEN seen_max - tsu < 1000000 THEN 1 "
        "WHEN seen_max - tsu < 10000000 THEN 2 "
        "WHEN seen_max - tsu < 60000000 THEN 3 "
        "WHEN seen_max - tsu < 600000000 THEN 4 "
        "ELSE 5 END"
    )
    return (
        arr.select("event_type", bucket.alias("disorder_bucket"))
        .groupBy("event_type", "disorder_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ------------------------------------- windowed top-k event types


@query(
    "stream_topk_types",
    oracle="""
    WITH c AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT window_start, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rnk
      FROM c
    )
    SELECT window_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def stream_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour top-3 event types — the trending-now panel: the
    STREAMING-SHAPED leaderboard whose state is one additive count
    per (window, type) pair (exactly what Structured Streaming
    maintains incrementally under a watermark); the rank-and-cut
    readout runs downstream of the state store on the tiny per-window
    aggregate, never on raw events.  Ties break deterministically by
    (count DESC, type ASC) on both engines.

    Scale shape: one (window, type) group-by with map-side partial
    counts; WindowGroupLimit prunes the per-window rank before the
    sort materializes more than k rows per group."""
    from pyspark.sql import Window

    c = (
        t(spark, sf_dir, "events")
        .select(F.window("ts", "1 hour").alias("w"), "event_type")
        .groupBy(F.col("w.start").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    r = c.select(
        "window_start",
        "event_type",
        "n",
        F.row_number()
        .over(
            Window.partitionBy("window_start").orderBy(
                F.desc("n"), "event_type"
            )
        )
        .alias("rnk"),
    ).filter(F.col("rnk") <= 3)
    return r.select(
        "window_start",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("rnk").cast("bigint").alias("rnk"),
    )


# --------------------------------------------------- OHLC resample


@query(
    "ts_ohlc_hourly",
    oracle=f"""
    WITH e AS (
      SELECT {duck_epoch('ts', 'hour')} AS hour_idx,
             {duck_epoch('ts')} AS ts_us,
             event_id,
             CAST(value AS DECIMAL(12,4)) AS v
      FROM events WHERE event_type = 'purchase'
    )
    SELECT hour_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((MIN(struct_pack(t := ts_us, e := event_id, v := v))).v
                AS DOUBLE) AS open,
           CAST(MAX(v) AS DOUBLE) AS high,
           CAST(MIN(v) AS DOUBLE) AS low,
           CAST((MAX(struct_pack(t := ts_us, e := event_id, v := v))).v
                AS DOUBLE) AS close,
           CAST(SUM(v) AS DOUBLE) AS volume
    FROM e GROUP BY 1
    """,
)
def ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close/volume) resample of purchase
    values — the canonical time-series downsample every metrics store
    ships (candlesticks, rate rollups).  Open/close pick the value at
    the lexicographically smallest/largest (ts, event_id) via MIN/MAX
    over a STRUCT — a deterministic argmin even when two events share
    a timestamp, identical on both engines (never min_by, whose tie
    choice is unspecified).  Values are DECIMAL(12,4)-exact and the
    volume sum is order-free DECIMAL; all five leave as the nearest
    DOUBLE (the _util output-type rule).

    Scale shape: ONE hour-keyed hash aggregate with full map-side
    partial combine (min/max/sum of narrow structs) — no window, no
    join, no sort; epoch-hour integer keys (NTZ-safe cast, no date
    functions)."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.expr(spark_epoch("ts", "hour")).alias("hour_idx"),
            F.expr(spark_epoch("ts")).alias("ts_us"),
            "event_id",
            F.expr("CAST(value AS DECIMAL(12,4))").alias("v"),
        )
    )
    s = F.struct("ts_us", "event_id", "v")
    return e.groupBy("hour_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min(s).getField("v").cast("double").alias("open"),
        F.max("v").cast("double").alias("high"),
        F.min("v").cast("double").alias("low"),
        F.max(s).getField("v").cast("double").alias("close"),
        F.sum("v").cast("double").alias("volume"),
    )


@query(
    "session_dynamic_gap",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id,
             {duck_epoch('ts', 's')} AS sec,
             CASE WHEN event_type = 'click' THEN 300 ELSE 1800 END AS gap_s
      FROM events
    ),
    iv AS (SELECT user_id, event_id, sec, sec + gap_s AS fin FROM ev),
    flagged AS (
      SELECT user_id, event_id, sec, fin,
             CASE WHEN MAX(fin) OVER w IS NULL
                    OR sec > MAX(fin) OVER w THEN 1 ELSE 0 END AS brk
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl AS (
      SELECT user_id, sec, fin,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(sec) AS BIGINT) AS start_sec,
           CAST(MAX(fin) AS BIGINT) AS end_sec,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM isl GROUP BY user_id, sid
    """,
)
def session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization via Spark's session_window with a
    PER-EVENT gap expression — clicks keep a session alive 5 minutes,
    everything else 30 — the 'engagement-weighted' session definition
    that one static gap cannot express.  An event landing exactly ON
    the current session end merges (probed and pinned: the boundary
    is inclusive), so the DuckDB twin is interval-merging with
    end = ts + gap(event) and a strict-> break.  Emits one row per
    (user, session) with its span and event count.

    Scale shape: session_window in batch mode compiles to one
    exchange partitioned by user_id plus a group-local sort — the
    same cost as plain sessionization; the dynamic gap is a per-row
    expression, not a second pass."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("tts"),
        "event_type",
    )
    gap = F.when(F.col("event_type") == "click", F.lit("5 minutes")).otherwise(
        F.lit("30 minutes")
    )
    out = ev.groupBy("user_id", F.session_window("tts", gap)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return out.select(
        "user_id",
        F.expr(spark_epoch("session_window.start", "s")).alias("start_sec"),
        F.expr(spark_epoch("session_window.end", "s")).alias("end_sec"),
        "n_events",
    )


# Per-key state widths of the engine's stateful streaming operators
# (streaming/__init__.py structs): documented constants, so the
# sizing table is reproducible arithmetic, not a guess.
_STATE_SPECS = [
    # (op, bytes per key: struct fields + per-key store overhead)
    ("running_max_per_user", 8 + 8 + 40),      # user_id, max, overhead
    ("session_funnel", 8 + 8 + 8 + 8 + 40),    # user, stage, t0, last, ovh
    ("stream_dedup_keys", 8 + 8 + 40),         # key, first-seen ts, ovh
]
_STATE_TARGET_MB = 64  # HDFSBackedStateStore comfort ceiling per partition


@query(
    "stream_state_sizing_estimate",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{op}' AS op,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST({width} AS BIGINT) AS bytes_per_key,
           CAST(COUNT(DISTINCT user_id) * {width} AS BIGINT) AS est_bytes,
           CAST(CEIL(COUNT(DISTINCT user_id) * {width}
                / ({_STATE_TARGET_MB} * 1048576.0)) AS BIGINT)
             AS min_state_partitions
    FROM events"""
        for op, width in _STATE_SPECS
    )
    + "\n    ORDER BY op",
)
def stream_state_sizing_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store capacity plan for the engine's stateful streaming
    operators: distinct keys x documented per-key struct width (the
    applyInPandasWithState schemas in streaming/__init__.py, plus
    store overhead) and the minimum shuffle-partition count that
    keeps each partition's state under {_STATE_TARGET_MB} MB — the
    number you set spark.sql.shuffle.partitions to BEFORE the first
    OOM, not after.  Mean rates don't size state stores; key
    cardinality does (see interarrival_burstiness_terms for the
    rate-side half of the sizing).

    Scale shape: one distinct-count per spec over the scan (map-side
    partial distinct); 3 result rows of arithmetic."""
    out = None
    for op, width in _STATE_SPECS:
        row = (
            t(spark, sf_dir, "events")
            .agg(F.countDistinct("user_id").alias("nk"))
            .selectExpr(
                f"'{op}' AS op",
                "CAST(nk AS BIGINT) AS n_keys",
                f"CAST({width} AS BIGINT) AS bytes_per_key",
                f"CAST(nk * {width} AS BIGINT) AS est_bytes",
                f"CAST(CEIL(nk * {width} / ({_STATE_TARGET_MB} * 1048576.0))"
                " AS BIGINT) AS min_state_partitions",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("op")

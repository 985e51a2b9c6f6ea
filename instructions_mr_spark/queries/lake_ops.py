"""Lake-maintenance / table-management query shapes (SURVEY.md §2.7
EXT): partition-pruned scans, time-series densification, CDC
compaction, and SCD2 history — the operations a 100 TB lake runs
daily around the analytical queries.  The reference has no storage
management at all (SURVEY.md §2.6); these are engine-grade extensions
with DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_epoch, duck_hash, round_half, spark_epoch, spark_hash
from instructions_mr_spark.queries._util import t
from instructions_mr_spark.registry import query


def _tmp(name: str, sf_dir: str) -> str:
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), "imr_lake", f"{name}-{key}")


@query(
    "partition_pruned_scan",
    oracle="""
    SELECT user_id % 16 AS user_bucket, COUNT(*) AS n
    FROM events WHERE event_type = 'click'
    GROUP BY user_id % 16
    """,
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition layout end to end: write events
    partitioned by event_type, read back with a partition filter —
    the scan must touch ONLY the matching directory (partition
    pruning; asserted on the plan in tests/test_plans_lake.py).  At
    100 TB this is the difference between scanning 1/N of the lake
    and all of it."""
    path = _tmp("events_by_type", sf_dir)
    e = t(spark, sf_dir, "events")
    # write once per sf; reruns reuse — gated on the _SUCCESS marker,
    # not the directory, so a crashed partial write is re-done
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    return (
        back.groupBy((F.col("user_id") % 16).alias("user_bucket"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "ts_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
             date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), counts AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT g.hour_start, ty.event_type, COALESCE(c.n, 0) AS n
    FROM grid g CROSS JOIN types ty
    LEFT JOIN counts c
      ON c.hour_start = g.hour_start AND c.event_type = ty.event_type
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: hourly counts per event type with
    missing hours zero-filled.  The hour grid comes from
    ``sequence()`` + ``explode`` (JVM-side, no driver loop) crossed
    with the distinct type dimension; real counts LEFT-join onto the
    grid.  The grid side is tiny (hours x types), so both joins
    broadcast — the fact table is scanned exactly once."""
    e = t(spark, sf_dir, "events")
    counts = (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        ).agg(F.count("*").alias("cnt"))
    )
    grid = (
        e.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_start")
        )
    )
    types = e.select("event_type").distinct()
    return (
        F.broadcast(grid)
        .crossJoin(F.broadcast(types))
        .join(counts, ["hour_start", "event_type"], "left")
        .select(
            "hour_start",
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("n"),
        )
    )


@query(
    "ts_linear_interpolate",
    oracle=f"""
    WITH e2 AS (
      SELECT event_type, event_id,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             {duck_epoch('ts')} AS tsm,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), obs AS (
      SELECT event_type, hour_start,
             CAST(split_part(MAX(
               lpad(CAST(tsm AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0')
               || ':' || CAST(cents AS VARCHAR)), ':', 2) AS BIGINT) AS obs_cents
      FROM e2 GROUP BY 1, 2
    ), bounds AS (
      SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
             date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), g AS (
      SELECT ty.event_type, gr.hour_start,
             {duck_epoch('gr.hour_start', 'hour')} AS hidx,
             o.obs_cents
      FROM grid gr CROSS JOIN types ty
      LEFT JOIN obs o
        ON o.event_type = ty.event_type AND o.hour_start = gr.hour_start
    ), w AS (
      SELECT *,
        LAST_VALUE(obs_cents IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hidx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
        LAST_VALUE(CASE WHEN obs_cents IS NOT NULL THEN hidx END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hidx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
        FIRST_VALUE(obs_cents IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hidx
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
        FIRST_VALUE(CASE WHEN obs_cents IS NOT NULL THEN hidx END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hidx
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
      FROM g
    )
    SELECT event_type, hour_start,
      CASE WHEN obs_cents IS NOT NULL THEN 'obs'
           WHEN prev_c IS NOT NULL AND next_c IS NOT NULL THEN 'interp'
           ELSE 'edge' END AS src,
      CASE WHEN obs_cents IS NOT NULL THEN obs_cents * 10000
           WHEN prev_c IS NOT NULL AND next_c IS NOT NULL THEN
             ((prev_c * (next_h - hidx) + next_c * (hidx - prev_h)) * 10000)
               // (next_h - prev_h)
           ELSE NULL END AS value_e6
    FROM w
    """,
)
def ts_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series linear interpolation: hourly per-type series where
    observed hours carry the LAST reading of the hour and interior
    gaps are linearly interpolated between the bracketing
    observations; hours outside a series' observed range stay NULL
    ('edge').  The whole computation is INTEGER-EXACT cross-engine:
    readings become cents via FLOOR(v*100+0.5) (IEEE-identical on
    both engines), last-of-hour election is the zero-padded
    string-pack MAX (portable argmax — no max_by tuple keys), and the
    interpolated value is the all-integer lerp numerator under ONE
    truncating division (Spark ``div`` == DuckDB ``//``), emitted as
    value_e6 = value * 1e6 units — never a rounded double final.

    Scale shape: the only corpus-sized operation is the (type, hour)
    group-by; the grid (hours x types) is broadcast-tiny, and the
    prev/next gap-bridging windows run over the GRID, not the corpus
    — per-series ordered scans whose length is the time range, the
    gaps-and-islands idiom that holds when the series key is
    high-cardinality (sensors) because each partition is one
    device-month, not the lake."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    e2 = e.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.concat(
            F.lpad(F.expr(spark_epoch("ts")).cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
            F.lit(":"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").cast("string"),
        ).alias("pack"),
    )
    obs = (
        e2.groupBy("event_type", "hour_start")
        .agg(F.split(F.max("pack"), ":").getItem(1).cast("long").alias("obs_cents"))
    )
    grid = (
        e.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "hour_start"
            )
        )
    )
    types = e.select("event_type").distinct()
    g = (
        F.broadcast(grid)
        .crossJoin(F.broadcast(types))
        .join(obs, ["hour_start", "event_type"], "left")
        .select(
            "event_type",
            "hour_start",
            F.expr(spark_epoch("hour_start", "hour")).alias("hidx"),
            "obs_cents",
        )
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("hidx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wnext = (
        Window.partitionBy("event_type")
        .orderBy("hidx")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    marked = F.when(F.col("obs_cents").isNotNull(), F.col("hidx"))
    w = g.select(
        "event_type",
        "hour_start",
        "hidx",
        "obs_cents",
        F.last("obs_cents", ignorenulls=True).over(wprev).alias("prev_c"),
        F.last(marked, ignorenulls=True).over(wprev).alias("prev_h"),
        F.first("obs_cents", ignorenulls=True).over(wnext).alias("next_c"),
        F.first(marked, ignorenulls=True).over(wnext).alias("next_h"),
    )
    return w.select(
        "event_type",
        "hour_start",
        F.expr(
            "CASE WHEN obs_cents IS NOT NULL THEN 'obs' "
            "WHEN prev_c IS NOT NULL AND next_c IS NOT NULL THEN 'interp' "
            "ELSE 'edge' END"
        ).alias("src"),
        F.expr(
            "CASE WHEN obs_cents IS NOT NULL THEN obs_cents * CAST(10000 AS BIGINT) "
            "WHEN prev_c IS NOT NULL AND next_c IS NOT NULL THEN "
            "((prev_c * (next_h - hidx) + next_c * (hidx - prev_h)) "
            " * CAST(10000 AS BIGINT)) div (next_h - prev_h) "
            "ELSE NULL END"
        ).alias("value_e6"),
    )


@query(
    "cdc_latest_version",
    oracle="""
    SELECT user_id, event_type, event_id AS latest_event, value AS latest_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def cdc_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction (operators/merge.latest_version): reduce an
    event stream to the newest row per key — the serving-table
    refresh every CDC pipeline runs.  One shuffle on the key; the
    window row_number prunes everything else.  Ties on ts break by
    event_id so the result is deterministic on both engines."""
    from instructions_mr_spark.operators.merge import latest_version

    e = t(spark, sf_dir, "events")
    latest = latest_version(
        e, ["user_id", "event_type"], F.struct(F.col("ts"), F.col("event_id"))
    )
    return latest.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("latest_event"),
        F.col("value").alias("latest_value"),
    )


@query(
    "scd2_history",
    oracle="""
    WITH cur AS (
      SELECT c_custkey AS id, c_mktsegment AS attr,
             TIMESTAMP '1990-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer WHERE c_custkey < 200
    ), ch AS (
      SELECT o_custkey AS id, MAX(o_orderpriority) AS attr,
             CAST(o_orderdate AS TIMESTAMP) AS cts
      FROM orders WHERE o_custkey < 200 GROUP BY o_custkey, o_orderdate
    ), first_ch AS (
      SELECT id, MIN(cts) AS f FROM ch GROUP BY id
    ), closed_now AS (
      SELECT cur.id, cur.attr, cur.valid_from, first_ch.f AS valid_to
      FROM cur JOIN first_ch ON cur.id = first_ch.id
    ), untouched AS (
      SELECT cur.* FROM cur
      WHERE cur.id NOT IN (SELECT id FROM first_ch)
    ), new_versions AS (
      SELECT id, attr, cts AS valid_from,
             LEAD(cts) OVER (PARTITION BY id ORDER BY cts) AS valid_to
      FROM ch
    )
    SELECT * FROM closed_now
    UNION ALL SELECT * FROM untouched
    UNION ALL SELECT * FROM new_versions
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build (operators/merge.scd2_apply): customers
    start with one open segment row; each order date becomes an
    attribute change.  Changes for one key CHAIN inside the batch
    (valid_to = next change's valid_from — the ADVICE r01 fix), so
    exactly one row per key ends open.  The oracle restates the
    close-out + chained-append contract in SQL."""
    from instructions_mr_spark.operators.merge import scd2_apply

    current = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_mktsegment").alias("attr"),
            F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
    )
    changes = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .groupBy(
            F.col("o_custkey").alias("id"),
            F.col("o_orderdate").cast("timestamp").alias("change_ts"),
        )
        .agg(F.max("o_orderpriority").alias("attr"))
        .select("id", "attr", "change_ts")
    )
    return scd2_apply(current, changes, ["id"], "change_ts")


@query(
    "fk_orphan_audit",
    oracle="""
    SELECT 'customer->nation' AS relation,
           (SELECT COUNT(*) FROM customer
            WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphans
    UNION ALL SELECT 'lineitem->orders',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    UNION ALL SELECT 'nation->region',
           (SELECT COUNT(*) FROM nation
            WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
    UNION ALL SELECT 'orders->customer',
           (SELECT COUNT(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
    UNION ALL SELECT 'supplier->nation',
           (SELECT COUNT(*) FROM supplier
            WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
    """,
)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the data-quality gate a lake runs
    after every load: per FK relation, how many child rows point at a
    missing parent.  Each relation is one anti join (parents
    broadcast when small) feeding a single-row count; the five counts
    union into one report.  At 100 TB each audit is a semi-join-shaped
    scan, parallel across relations."""
    def orphans(relation: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str) -> DataFrame:
        return (
            child.select(F.col(ckey).alias("k"))
            .join(
                parent.select(F.col(pkey).alias("k")),
                "k",
                "left_anti",
            )
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(relation).alias("relation"), "n_orphans")
        )

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    s = t(spark, sf_dir, "supplier")
    parts = [
        orphans("customer->nation", c, "c_nationkey", n, "n_nationkey"),
        orphans("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        orphans("nation->region", n, "n_regionkey", r, "r_regionkey"),
        orphans("orders->customer", o, "o_custkey", c, "c_custkey"),
        orphans("supplier->nation", s, "s_nationkey", n, "n_nationkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "json_parse_quarantine",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
           CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined,
           CAST(SUM(CASE WHEN ok THEN k ELSE 0 END) AS BIGINT) AS sum_k
    FROM (
      SELECT event_type,
             json_valid(CASE WHEN event_id % 7 = 0 THEN 'x' || props
                             ELSE props END) AS ok,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE CAST(props->>'k' AS BIGINT) END AS k
      FROM events
    )
    GROUP BY event_type
    """,
)
def json_parse_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine — the ingest-hardening every real
    pipeline needs: parse a JSON column with a declared schema; rows
    that fail to parse are counted into a quarantine bucket instead of
    poisoning the batch.  Corruption is injected deterministically
    (every 7th event) so both engines agree; parsing is ``from_json``
    (null on malformed = quarantine signal), all JVM-side."""
    e = t(spark, sf_dir, "events")
    corrupted = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.lit("x"), F.col("props"))
    ).otherwise(F.col("props"))
    # PERMISSIVE from_json yields a struct of nulls (not a null
    # struct) on malformed input, so field-level null is the
    # quarantine signal — the corpus has no legit null k.
    parsed = F.from_json(corrupted, "k bigint")
    ok = parsed["k"].isNotNull()
    return (
        e.select("event_type", ok.alias("ok"), parsed["k"].alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_parsed"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_quarantined"),
            F.sum(F.when(F.col("ok"), F.col("k")).otherwise(0)).alias("sum_k"),
        )
    )


@query(
    "nested_roundtrip",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalize-then-flatten: lineitems nest into a per-order
    array<struct> (the one-row-per-entity layout wide lakes store to
    kill the join) and explode back out; the value hash certifies the
    nested layout loses nothing.  collect_list + sort_array keeps the
    array deterministic; one shuffle each way."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity"))
        ).alias("lines")
    )
    return nested.select(
        "l_orderkey", F.explode("lines").alias("ln")
    ).select(
        "l_orderkey",
        F.col("ln.l_linenumber").alias("l_linenumber"),
        F.col("ln.l_quantity").alias("l_quantity"),
    )


@query(
    "python_datasource_scan",
    oracle="""
    SELECT lang, COUNT(*) AS n, MIN(digest) AS min_digest
    FROM (
      SELECT i % 5 AS lx,
             ['en','fr','de','es','ja'][(i % 5) + 1] AS lang,
             md5(CAST(i AS VARCHAR)) AS digest
      FROM (SELECT unnest(generate_series(0, 799)) AS i)
    )
    GROUP BY lang
    """,
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom Python Data Source as a first-class scan
    (sources/pysource.py): spark.read.format("imr_synth") with 8
    parallel input partitions, aggregated per lang.  The source's rows
    are a pure function of the row id, so DuckDB reproduces the whole
    table from generate_series — certifying the partitioned reader
    delivered exactly the declared rows, no dupes, no gaps."""
    from instructions_mr_spark.sources.pysource import register

    register(spark)
    df = (
        spark.read.format("imr_synth")
        .option("n_rows", 800)
        .option("n_parts", 8)
        .load()
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n"), F.min("digest").alias("min_digest")
    )


from instructions_mr_spark.functions import zorder_key_sql as _zsql

_Z_FRAG = _zsql("(l_orderkey % 1024)", "(l_suppkey % 1024)", bits=10)


@query(
    "zorder_cluster_key",
    oracle=f"""
    SELECT (zkey >> 14) AS zbucket,
           COUNT(*) AS n,
           MIN(zkey) AS zmin, MAX(zkey) AS zmax
    FROM (SELECT {_Z_FRAG} AS zkey FROM lineitem)
    GROUP BY 1
    """,
)
def zorder_cluster_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two filter columns: bit
    interleaving maps (orderkey, suppkey) onto one space-filling-curve
    key; range-partitioning/sorting the lake on it clusters BOTH
    dimensions at once, so row-group min/max stats prune filters on
    either column — multi-column data skipping without a table
    format's Z-ORDER.  The SQL fragment is shared verbatim with the
    oracle (functions.zorder_key_sql); buckets = key >> 14 summarize
    the curve for the hash check."""
    li = t(spark, sf_dir, "lineitem")
    zkey = F.expr(_Z_FRAG)
    return (
        li.select(zkey.alias("zkey"))
        .groupBy((F.col("zkey") / (1 << 14)).cast("long").alias("zbucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("zkey").alias("zmin"),
            F.max("zkey").alias("zmax"),
        )
    )


@query(
    "dpp_filtered_dim_scan",
    oracle="""
    SELECT e.event_type, COUNT(*) AS n
    FROM events e
    JOIN (SELECT DISTINCT event_type FROM events
          WHERE event_type IN ('click', 'purchase')) d
      ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def dpp_filtered_dim_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the hive-partitioned
    events layout (partition_pruned_scan's write), the dim side is a
    FILTERED distinct-types table — Catalyst injects the dim's keys as
    a runtime partition filter on the fact scan
    (dynamicpruningexpression in the plan, asserted in
    tests/test_plans_lake.py), so only the matching partition
    directories are read even though the filter values are only known
    after the dim is evaluated.  THE optimizer feature for star joins
    over partitioned 100 TB facts."""
    path = _tmp("events_by_type", sf_dir)
    e = t(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        e.select("event_type")
        .distinct()
        .filter(F.col("event_type").isin("click", "purchase"))
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# ------------------------------------------ range-partition planning

_RANGE_BUCKETS = 32


@query(
    "range_partition_bounds",
    oracle=f"""
    WITH r AS (
      SELECT l_orderkey,
             NTILE({_RANGE_BUCKETS}) OVER (ORDER BY l_orderkey, l_linenumber)
               AS bucket
      FROM lineitem
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(l_orderkey) AS BIGINT) AS upper_bound
    FROM r GROUP BY bucket
    """,
)
def range_partition_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth range-partition boundaries for a sort key —
    the planning table behind repartitionByRange / sorted-file
    layout: split lineitem's l_orderkey domain into
    {_RANGE_BUCKETS} buckets of equal ROW count and report each
    bucket's row count and inclusive upper bound.  Writers feed the
    bounds to range-partitioned layouts (Z-order cousins, Iceberg
    sort orders); Spark's own RangePartitioner estimates this same
    table from a sample rather than computing it exactly.

    Determinism with duplicate keys: NTILE runs over the unique
    (l_orderkey, l_linenumber) composite, and bucket CONTENTS as
    multisets are fixed by the sorted order even when equal keys
    straddle a boundary — so MAX per bucket is stable on both
    engines.

    Scale shape: one global sort (the honest cost of exact bounds —
    same as any total-order write); at 100 TB the drop-in
    replacement is a reservoir/percentile sample of the key column,
    which is exactly what repartitionByRange does internally.  The
    rollup reuses the sort's range partitioning (no second
    exchange)."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    r = li.select(
        "l_orderkey",
        F.ntile(_RANGE_BUCKETS)
        .over(Window.orderBy("l_orderkey", "l_linenumber"))
        .cast("bigint")
        .alias("bucket"),
    )
    return r.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("l_orderkey").alias("upper_bound"),
    )


range_partition_bounds.__doc__ = (range_partition_bounds.__doc__ or "").replace(
    "{_RANGE_BUCKETS}", str(_RANGE_BUCKETS)
)


@query(
    "time_weighted_avg",
    oracle=f"""
    WITH e2 AS (
      SELECT event_type,
             {duck_epoch('ts', 's')} AS tsec,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             event_id
      FROM events
    ),
    stepped AS (
      SELECT event_type, cents,
             LEAD(tsec) OVER (PARTITION BY event_type
                              ORDER BY tsec, event_id) - tsec AS dur
      FROM e2
    )
    SELECT event_type,
           CAST(SUM(cents * dur) AS BIGINT) AS twap_num,
           CAST(SUM(dur) AS BIGINT) AS twap_den,
           CAST(SUM(cents * dur) // SUM(dur) AS BIGINT) AS twap_cents
    FROM stepped WHERE dur IS NOT NULL GROUP BY event_type
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per series: each reading holds
    until the next one, so the average weights every value by its
    holding DURATION — the financial/sensor standard that a plain
    AVG gets wrong whenever sampling is irregular (a 1-second spike
    should not count like an hour-long plateau).  All integer:
    cents x seconds products summed as BIGINTs, one truncating
    division to twap_cents, raw num/den emitted beside it.  Same-
    instant readings get zero duration and drop out — ties cannot
    skew the engines apart.

    Scale shape: one series-keyed window exchange (LEAD) + the same
    keyed aggregate; at petabyte telemetry scale the BIGINT products
    move to DECIMAL(38,0), the shape is unchanged."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    e2 = e.select(
        "event_type",
        "event_id",
        F.expr(spark_epoch("ts", "s")).alias("tsec"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("tsec", "event_id")
    stepped = e2.select(
        "event_type",
        "cents",
        (F.lead("tsec").over(w) - F.col("tsec")).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return stepped.groupBy("event_type").agg(
        F.sum(F.col("cents") * F.col("dur")).cast("bigint").alias("twap_num"),
        F.sum("dur").cast("bigint").alias("twap_den"),
        F.expr(
            "CAST(SUM(cents * dur) div SUM(dur) AS BIGINT)"
        ).alias("twap_cents"),
    )


@query(
    "schema_merge_scan",
    oracle="""
    WITH half AS (
      SELECT event_id, value,
             CASE WHEN event_id % 2 = 0 THEN 'v1' ELSE 'v2' END AS batch
      FROM events
    )
    SELECT batch,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN batch = 'v2' THEN 0 ELSE 1 END) AS BIGINT)
             AS n_null_extra,
           CAST(SUM(CASE WHEN batch = 'v2'
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * 2
                         ELSE 0 END) AS BIGINT) AS extra_cents_sum
    FROM half GROUP BY batch
    """,
)
def schema_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end to end: batch v1 is written WITHOUT the
    ``extra_cents`` column, batch v2 WITH it; a single
    ``mergeSchema`` read unifies them — v1 rows surface NULL for the
    new column, exactly the additive-column migration every growing
    lake performs (and the read pattern Delta/Iceberg formalize).
    The oracle recomputes the expected per-batch counts, the NULL
    count of the evolved column, and its sum straight from the
    source table — certifying that evolution loses nothing.

    Scale shape: the double write is the demo fixture; the merged
    scan itself is one pass with schema reconciliation at the file
    footer level — no shuffle beyond the final tiny rollup."""
    path = _tmp("events_schema_evo", sf_dir)
    e = t(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(path, "_done")):
        v1 = e.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "value", F.lit("v1").alias("batch")
        )
        v2 = e.filter(F.col("event_id") % 2 == 1).select(
            "event_id",
            "value",
            F.lit("v2").alias("batch"),
            (F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)") * 2).alias(
                "extra_cents"
            ),
        )
        v1.write.mode("overwrite").parquet(os.path.join(path, "b=1"))
        v2.write.mode("overwrite").parquet(os.path.join(path, "b=2"))
        open(os.path.join(path, "_done"), "w").close()
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "b=1"), os.path.join(path, "b=2")
    )
    return merged.groupBy("batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("extra_cents").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_extra"),
        F.coalesce(F.sum("extra_cents"), F.lit(0))
        .cast("bigint")
        .alias("extra_cents_sum"),
    )


@query(
    "incremental_agg_merge",
    oracle="""
    WITH full_agg AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_full,
           CAST(n AS BIGINT) AS n_merged,
           CAST(cents AS BIGINT) AS cents_full,
           CAST(cents AS BIGINT) AS cents_merged,
           TRUE AS merge_ok
    FROM full_agg
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view
    refresh identity: a base state (events with event_id % 5 != 0,
    pre-aggregated) merged with a new-batch delta (the other fifth,
    aggregated alone) by ADDING partials must equal the full
    recompute.  The op executes BOTH algorithms and emits them side
    by side with a match flag; the oracle independently computes the
    full aggregate and asserts the merged columns equal it.  This is
    why count/sum (and any commutative-monoid sketch: HLL, theta,
    the bin histogram) refresh in O(delta) instead of O(table).

    Scale shape: the state side would be a stored table in
    production — here both legs are keyed aggregates whose merge is
    a (key)-keyed outer join + elementwise add; only aggregate rows
    ever move."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )

    def agg_of(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents_sum")
        )

    state = agg_of(e.filter(F.col("event_id") % 5 != 0)).select(
        "event_type", F.col("n").alias("n_s"), F.col("cents_sum").alias("c_s")
    )
    delta = agg_of(e.filter(F.col("event_id") % 5 == 0)).select(
        "event_type", F.col("n").alias("n_d"), F.col("cents_sum").alias("c_d")
    )
    merged = state.join(delta, "event_type", "full").select(
        "event_type",
        (F.coalesce("n_s", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n_merged"),
        (F.coalesce("c_s", F.lit(0)) + F.coalesce("c_d", F.lit(0))).alias(
            "cents_merged"
        ),
    )
    full = agg_of(e).select(
        "event_type", F.col("n").alias("n_full"), F.col("cents_sum").alias("cents_full")
    )
    return full.join(merged, "event_type").select(
        "event_type",
        F.col("n_full").cast("bigint"),
        F.col("n_merged").cast("bigint"),
        F.col("cents_full").cast("bigint"),
        F.col("cents_merged").cast("bigint"),
        (
            (F.col("n_full") == F.col("n_merged"))
            & (F.col("cents_full") == F.col("cents_merged"))
        ).alias("merge_ok"),
    )


@query(
    "ts_gap_report",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
             date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ), types AS (SELECT DISTINCT event_type FROM events),
    have AS (
      SELECT DISTINCT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start
      FROM events
    ),
    missing AS (
      SELECT ty.event_type, g.hour_start,
             {duck_epoch('g.hour_start', 'hour')} AS hidx
      FROM grid g CROSS JOIN types ty
      LEFT JOIN have h
        ON h.event_type = ty.event_type AND h.hour_start = g.hour_start
      WHERE h.hour_start IS NULL
    ),
    runs AS (
      SELECT event_type, hour_start, hidx,
             hidx - ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY hidx) AS grp
      FROM missing
    )
    SELECT event_type,
           CAST(MIN(hour_start) AS TIMESTAMP) AS gap_start,
           CAST(MAX(hour_start) AS TIMESTAMP) AS gap_end,
           CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM runs GROUP BY event_type, grp
    """,
)
def ts_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-interval report — the monitoring complement of
    ts_gap_fill: instead of zero-filling, LIST each contiguous run of
    silent hours per series (start, end, length) — the alert payload
    an ingestion monitor pages on ('clicks went dark 03:00-07:00').
    Contiguity detection is the gaps-and-islands identity (hour index
    minus row number is constant within a run) on integer hour
    indices.

    Scale shape: one distinct (type, hour) projection of the corpus;
    the grid anti-join and the island window run on grid-sized data
    (hours x types), partitioned per series."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    grid = (
        e.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "hour_start"
            )
        )
    )
    types = e.select("event_type").distinct()
    have = e.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).distinct()
    missing = (
        F.broadcast(grid)
        .crossJoin(F.broadcast(types))
        .join(have, ["event_type", "hour_start"], "left_anti")
        .select(
            "event_type",
            "hour_start",
            F.expr(spark_epoch("hour_start", "hour")).alias("hidx"),
        )
    )
    runs = missing.withColumn(
        "grp",
        F.col("hidx")
        - F.row_number().over(
            Window.partitionBy("event_type").orderBy("hidx")
        ),
    )
    return runs.groupBy("event_type", "grp").agg(
        F.min("hour_start").alias("gap_start"),
        F.max("hour_start").alias("gap_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    ).drop("grp")


# ------------------------------------------ Benford digit audit

# floor(log10(1 + 1/d) * 1e6) for d = 1..9, precomputed so both
# engines compare against identical integer literals (no cross-engine
# log10 float parity to defend).
_BENFORD_E6 = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


@query(
    "benford_digit_audit",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM cents
    ),
    counted AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM digits
      GROUP BY digit
    ),
    tot AS (SELECT SUM(n_orders) AS total FROM counted)
    SELECT digit, n_orders,
           CAST(n_orders * 1000000 // (SELECT total FROM tot) AS BIGINT)
             AS observed_e6,
           CAST(CASE digit
             {' '.join(f'WHEN {d} THEN {v}' for d, v in _BENFORD_E6.items())}
           END AS BIGINT) AS benford_e6
    FROM counted
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    forensic data-quality screen for fabricated or truncated monetary
    columns: natural multi-scale amounts follow P(d) = log10(1+1/d),
    so a digit histogram far from it flags synthetic injection,
    capped fields, or unit bugs.  Digits come from exact integer
    cents (the repo's FLOOR-cents convention) via string head — no
    float log in either engine; the expected shares are precomputed
    e6 literals so the comparison is pure integer.

    Scale shape: one map-side projection to a single digit column
    and a 9-group aggregate — the cheapest full-corpus audit
    possible; the observed-share division happens on the 9-row
    result.  (The sf testdata's uniform prices will FAIL the
    audit — that is the audit working: uniform amounts are exactly
    the non-Benford shape it exists to flag.)"""
    cents = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("c")
        )
    )
    counted = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    total = counted.agg(F.sum("n_orders").alias("total"))
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_E6.items() for x in kv]
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            F.expr("CAST(n_orders * 1000000 DIV total AS BIGINT)").alias(
                "observed_e6"
            ),
            expected[F.col("digit")].cast("bigint").alias("benford_e6"),
        )
    )


# --------------------------------------------- zone-map skip audit

_ZM_CHUNK = 1000
_ZM_LO = "1998-01-01"
_ZM_HI = "1998-07-01"


@query(
    "zone_map_skip_audit",
    oracle=f"""
    WITH natural_chunks AS (
      SELECT o_orderkey // {_ZM_CHUNK} AS chunk,
             MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx,
             COUNT(*) AS rows_in_chunk
      FROM orders GROUP BY 1
    ),
    clustered AS (
      SELECT (ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1)
               // {_ZM_CHUNK} AS chunk,
             o_orderdate
      FROM orders
    ),
    clustered_chunks AS (
      SELECT chunk, MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx,
             COUNT(*) AS rows_in_chunk
      FROM clustered GROUP BY 1
    ),
    both_layouts AS (
      SELECT 'natural' AS layout, * FROM natural_chunks
      UNION ALL
      SELECT 'clustered' AS layout, * FROM clustered_chunks
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN mx < TIMESTAMP '{_ZM_LO}'
                           OR mn >= TIMESTAMP '{_ZM_HI}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
           CAST(SUM(rows_in_chunk) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN mx < TIMESTAMP '{_ZM_LO}'
                           OR mn >= TIMESTAMP '{_ZM_HI}'
                    THEN rows_in_chunk ELSE 0 END) AS BIGINT)
             AS rows_skippable
    FROM both_layouts GROUP BY layout
    """,
)
def zone_map_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) skipping effectiveness audit for
    a date-range predicate, under two physical layouts: the NATURAL
    key order ({_ZM_CHUNK}-row chunks by o_orderkey) vs a
    date-CLUSTERED rewrite — the measurement behind every 'should we
    re-cluster this table?' decision.  A chunk is skippable iff its
    [min, max] date envelope misses [{_ZM_LO}, {_ZM_HI}); the
    natural layout's envelopes straddle the predicate (dates are
    uncorrelated with orderkey) while clustering makes all but the
    boundary chunks skippable — the audit quantifies exactly how
    many rows each layout's zone maps would prune.

    Scale shape: per-chunk min/max/count is one map-side-combinable
    aggregate per layout; the audit itself runs on chunk-count rows.
    The clustered layout's global ROW_NUMBER is the honest
    small-table plan — at 100 TB the rewrite uses a range
    partitioner (range_partition_bounds) and per-partition offsets
    instead of one sort."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    natural = o.groupBy(
        (F.col("o_orderkey") / _ZM_CHUNK).cast("long").alias("chunk")
    ).agg(
        F.min("o_orderdate").alias("mn"),
        F.max("o_orderdate").alias("mx"),
        F.count(F.lit(1)).alias("rows_in_chunk"),
    )
    rn = F.row_number().over(Window.orderBy("o_orderdate", "o_orderkey"))
    clustered = o.select(
        ((rn - 1) / _ZM_CHUNK).cast("long").alias("chunk"), "o_orderdate"
    ).groupBy("chunk").agg(
        F.min("o_orderdate").alias("mn"),
        F.max("o_orderdate").alias("mx"),
        F.count(F.lit(1)).alias("rows_in_chunk"),
    )
    both = natural.withColumn("layout", F.lit("natural")).unionByName(
        clustered.withColumn("layout", F.lit("clustered"))
    )
    skippable = (F.col("mx") < F.lit(_ZM_LO).cast("timestamp")) | (
        F.col("mn") >= F.lit(_ZM_HI).cast("timestamp")
    )
    return both.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(skippable.cast("int")).cast("bigint").alias("n_skippable"),
        F.sum("rows_in_chunk").cast("bigint").alias("rows_total"),
        F.sum(F.when(skippable, F.col("rows_in_chunk")).otherwise(0))
        .cast("bigint")
        .alias("rows_skippable"),
    )


zone_map_skip_audit.__doc__ = (zone_map_skip_audit.__doc__ or "").replace(
    "{_ZM_CHUNK}", str(_ZM_CHUNK)
).replace("{_ZM_LO}", _ZM_LO).replace("{_ZM_HI}", _ZM_HI)


# ------------------------------------ order-total reconciliation


@query(
    "recon_order_totals",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(8,4)))
                            * (1 + CAST(l_tax AS DECIMAL(8,4)))) * 100)
                  AS BIGINT) AS charge_cents
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderstatus,
             CAST(FLOOR(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100)
                  AS BIGINT) AS o_cents,
             COALESCE(li.charge_cents, 0) AS charge_cents
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_cents = charge_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN ABS(o_cents - charge_cents) * 100 <= o_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
           CAST(MAX(ABS(o_cents - charge_cents)) AS BIGINT)
             AS max_abs_diff_cents
    FROM j GROUP BY o_orderstatus
    """,
)
def recon_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit — does the order header's
    total agree with the sum of its line charges (price * (1-disc) *
    (1+tax))?  The ingest-integrity check every lakehouse runs
    between a header feed and a detail feed before either is trusted
    downstream: per order status, exact-match count, within-1%% count
    (integer cross-multiplied tolerance — never a float ratio), and
    the worst absolute gap.  Both sides reduce to DECIMAL-exact
    cents; headerless details and detail-less headers surface via
    the LEFT join's COALESCE(0) rather than vanishing.

    Scale shape: the lineitem group-by is map-side combinable and
    shuffles only (orderkey, cents) pairs; the header join is
    orderkey-to-orderkey (co-partitionable / bucketable at 100 TB);
    the audit itself reduces to |statuses| rows."""
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.expr(
                "CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))"
                " * (1 + CAST(l_tax AS DECIMAL(8,4)))) * 100) AS BIGINT)"
            ).alias("charge_cents")
        )
    )
    o = t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)"
        " AS o_cents",
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_orderstatus",
        "o_cents",
        F.coalesce("charge_cents", F.lit(0)).alias("charge_cents"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.when(F.col("o_cents") == F.col("charge_cents"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_exact"),
        F.sum(
            F.when(
                F.abs(F.col("o_cents") - F.col("charge_cents")) * 100
                <= F.col("o_cents"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_within_1pct"),
        F.max(F.abs(F.col("o_cents") - F.col("charge_cents")))
        .cast("bigint")
        .alias("max_abs_diff_cents"),
    )


# ------------------------------------ shipment latency audit


@query(
    "shipment_latency_audit",
    oracle=f"""
    WITH j AS (
      SELECT o.o_orderpriority,
             {duck_epoch('l.l_shipdate', 'day')}
             - {duck_epoch('o.o_orderdate', 'day')}
               AS gap_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(gap_days) AS BIGINT) AS sum_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days,
           CAST(SUM(CASE WHEN gap_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_90,
           CAST(SUM(CASE WHEN gap_days > 90 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS late_share_e6
    FROM j GROUP BY o_orderpriority
    """,
)
def shipment_latency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency audit per priority class — how long
    lines actually take to ship after the order is placed, with the
    share blowing the 90-day SLA: the fulfillment-health readout (and
    the generic header-timestamp vs detail-timestamp lag audit for
    any two-feed lakehouse).  Gaps are integer epoch-day differences;
    the SLA share is e6 under truncating division.

    Scale shape: the one fact-fact join keys on l_orderkey /
    o_orderkey (co-partitionable / bucketable at 100 TB — the
    join_bucketed strategy); the audit aggregate is map-side
    combinable onto 5 priority rows."""
    li = t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        f"{spark_epoch('l_shipdate', 'day')} AS ship_day",
    )
    o = t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderpriority",
        f"{spark_epoch('o_orderdate', 'day')} AS order_day",
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", (F.col("ship_day") - F.col("order_day")).alias("gap_days")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("gap_days").cast("bigint").alias("sum_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
        F.sum(F.when(F.col("gap_days") > 90, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_90"),
        F.expr(
            "CAST(SUM(CASE WHEN gap_days > 90 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("late_share_e6"),
    )


# ------------------------------------ hash-shard balance audit


@query(
    "hash_shard_balance",
    oracle=f"""
    WITH s AS (
      SELECT {duck_hash('o_orderkey::VARCHAR', 13, hex_digits=15)} % 32 AS shard FROM orders
    ),
    c AS (SELECT shard, COUNT(*) AS n FROM s GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM c)
    SELECT shard, CAST(n AS BIGINT) AS n,
           CAST(n * 32 * 1000000 // total AS BIGINT) AS load_e6
    FROM c, tot
""",
)
def hash_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit for hash partitioning — assign every order
    to one of 32 shards by the portable 60-bit digest of its key and
    report each shard's row count and load factor (e6 units; 1e6 =
    perfectly even).  This is the pre-flight check before committing
    a partitioning/bucketing key at 100 TB: a key whose load_e6
    spread is wide (skewed or low-cardinality) will hotspot every
    downstream shuffle, and the SAME digest (functions.spark_hash) is
    what the repo's digest-keyed dedup ops shuffle on — so this
    audits the actual production key function, cross-engine exact.

    Scale shape: the digest is a scan projection; one
    map-side-combinable count per 32 bounded keys; the total is a
    1-row broadcast."""
    s = t(spark, sf_dir, "orders").selectExpr(
        f"{spark_hash('CAST(o_orderkey AS STRING)', 13, hex_digits=15)} % 32 AS shard"
    )
    c = s.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(tot)).selectExpr(
        "shard",
        "CAST(n AS BIGINT) AS n",
        "CAST(n * 32 * 1000000 DIV total AS BIGINT) AS load_e6",
    )


# ------------------------------------ dimension coverage audit


@query(
    "dim_coverage_audit",
    oracle="""
    WITH c AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE EXISTS (
               SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
             )) AS used
      FROM customer c
    ),
    p AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE EXISTS (
               SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
             )) AS used
      FROM part p
    ),
    s AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE EXISTS (
               SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
             )) AS used
      FROM supplier s
    )
    SELECT 'customer' AS dim, CAST(n AS BIGINT) AS n_rows,
           CAST(used AS BIGINT) AS n_referenced,
           CAST(used * 1000000 // n AS BIGINT) AS coverage_e6 FROM c
    UNION ALL
    SELECT 'part', CAST(n AS BIGINT), CAST(used AS BIGINT),
           CAST(used * 1000000 // n AS BIGINT) FROM p
    UNION ALL
    SELECT 'supplier', CAST(n AS BIGINT), CAST(used AS BIGINT),
           CAST(used * 1000000 // n AS BIGINT) FROM s
    """,
)
def dim_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-utilization audit — what share of each dimension
    table is actually referenced by fact rows (customers with at
    least one order, parts and suppliers with at least one line):
    the complement of fk_orphan_audit (facts pointing nowhere) —
    here it's dimensions nothing points AT, the signal for stale
    dim rows, over-provisioned SCD history, and broadcast-size
    estimates.

    Scale shape: each coverage is the dimension LEFT-joined to the
    DISTINCT fact keys (existence as a null-check — no fact-side
    duplication reaches the aggregate) and reduced map-side to ONE
    row; the whole query is a single action over a 3-row union, no
    driver-side counting loop."""

    def cov(dim_df, key, fact_df, fkey, name):
        used_keys = fact_df.select(fkey).distinct()
        return (
            dim_df.select(key)
            .join(used_keys, F.col(key) == F.col(fkey), "left")
            .agg(
                F.lit(name).alias("dim"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count(fkey).cast("bigint").alias("n_referenced"),
                F.expr(
                    f"CAST(COUNT({fkey}) * 1000000 DIV COUNT(*) AS BIGINT)"
                ).alias("coverage_e6"),
            )
            .select("dim", "n_rows", "n_referenced", "coverage_e6")
        )

    return (
        cov(
            t(spark, sf_dir, "customer"),
            "c_custkey",
            t(spark, sf_dir, "orders"),
            "o_custkey",
            "customer",
        )
        .unionAll(
            cov(
                t(spark, sf_dir, "part"),
                "p_partkey",
                t(spark, sf_dir, "lineitem"),
                "l_partkey",
                "part",
            )
        )
        .unionAll(
            cov(
                t(spark, sf_dir, "supplier"),
                "s_suppkey",
                t(spark, sf_dir, "lineitem"),
                "l_suppkey",
                "supplier",
            )
        )
    )


# ------------------------------ Hamilton budget apportionment


@query(
    "budget_apportion_hamilton",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    tot AS (SELECT SUM(n_docs) AS nn FROM c),
    q AS (
      SELECT source, n_docs,
             10000 * n_docs // nn AS base,
             10000 * n_docs % nn AS rem
      FROM c, tot
    ),
    ranked AS (
      SELECT source, n_docs, base, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
             10000 - SUM(base) OVER () AS leftover
      FROM q
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(base AS BIGINT) AS base_alloc,
           CAST(CASE WHEN rr <= leftover THEN base + 1 ELSE base END
                AS BIGINT) AS alloc
    FROM ranked
    """,
)
def budget_apportion_hamilton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of a fixed
    10000-unit sampling budget across sources, proportional to their
    document counts — the exact integer answer to 'split the eval
    budget fairly' that naive rounding gets wrong: floor quotas
    first, then the leftover units go to the largest remainders
    (source-name tiebreak), so the allocations sum to EXACTLY 10000
    with no fractional unit anywhere — the same mechanism as
    attribution_position_based's basis points, promoted to a
    standalone allocator.

    Scale shape: one source count aggregate (map-side combinable),
    a 1-row total broadcast, and the remainder rank runs on
    |sources| rows."""
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = c.agg(F.sum("n_docs").alias("nn"))
    q = c.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_docs",
        "10000 * n_docs DIV nn AS base",
        "10000 * n_docs % nn AS rem",
    )
    ranked = q.selectExpr(
        "source",
        "n_docs",
        "base",
        "ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr",
        "10000 - SUM(base) OVER () AS leftover",
    )
    return ranked.selectExpr(
        "source",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(base AS BIGINT) AS base_alloc",
        "CAST(CASE WHEN rr <= leftover THEN base + 1 ELSE base END AS BIGINT)"
        " AS alloc",
    )


@query(
    "calendar_dim_generate",
    oracle="""
    WITH d AS (
      SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-12-31',
                                    INTERVAL 1 DAY))::DATE AS dt
    )
    SELECT CAST(dt - DATE '1970-01-01' AS BIGINT) AS day_idx,
           CAST(date_part('year', dt) AS BIGINT) AS y,
           CAST(date_part('month', dt) AS BIGINT) AS m,
           CAST(date_part('day', dt) AS BIGINT) AS dom,
           CAST(date_part('isodow', dt) - 1 AS BIGINT) AS dow,
           CAST(date_part('quarter', dt) AS BIGINT) AS q,
           CAST(dt = last_day(dt) AS BOOLEAN) AS is_month_end
    FROM d
    """,
)
def calendar_dim_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension generation from NOTHING — the one table every
    warehouse needs and no source system ships: a 2024 daily spine
    with epoch-day key, calendar parts, Monday-based weekday (the ISO
    convention, pinned explicitly because Spark's dayofweek and
    DuckDB's dow both count from Sunday but disagree with each other
    elsewhere), quarter, and month-end flags — the join spine for
    gap-filling, fiscal rollups and as-of logic.

    Scale shape: sequence + explode of a 366-element array on a
    single row — no input scan at all; at 100 TB you broadcast this,
    never shuffle it."""
    return spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(DATE '2024-01-01', DATE '2024-12-31',"
                " interval 1 day)"
            )
        ).alias("dt")
    ).select(
        F.datediff("dt", F.lit("1970-01-01")).cast("bigint").alias("day_idx"),
        F.year("dt").cast("bigint").alias("y"),
        F.month("dt").cast("bigint").alias("m"),
        F.dayofmonth("dt").cast("bigint").alias("dom"),
        F.weekday("dt").cast("bigint").alias("dow"),
        F.quarter("dt").cast("bigint").alias("q"),
        (F.col("dt") == F.last_day("dt")).alias("is_month_end"),
    )


@query(
    "linenumber_contiguity_audit",
    oracle="""
    WITH per AS (
      SELECT l_orderkey,
             COUNT(*) AS n,
             COUNT(DISTINCT l_linenumber) AS n_distinct,
             MIN(l_linenumber) AS mn,
             MAX(l_linenumber) AS mx
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN mn <> 1 OR mx <> n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_noncontig,
           CAST(SUM(CASE WHEN n_distinct <> n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_linenum,
           CAST(MAX(mx) AS BIGINT) AS max_linenumber
    FROM per
    """,
)
def linenumber_contiguity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-sequence integrity audit: every order's line numbers
    must be exactly 1..n with no duplicates — the cheapest detector
    for dropped or double-ingested child rows (a gap means a lost
    line, a duplicate means a replayed one), reported as corpus
    totals so the audit is one dashboard number per failure mode.
    min/max/count beats sorting each group: contiguity over a
    permutation-free sequence is fully determined by (min, max,
    distinct count).

    Scale shape: one order-keyed aggregate (map-side combinable,
    including the distinct), one 1-row reduce — no window, no
    sort."""
    per = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("l_linenumber").alias("n_distinct"),
            F.min("l_linenumber").alias("mn"),
            F.max("l_linenumber").alias("mx"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.when((F.col("mn") != 1) | (F.col("mx") != F.col("n")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_noncontig"),
        F.sum(F.when(F.col("n_distinct") != F.col("n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_linenum"),
        F.max("mx").cast("bigint").alias("max_linenumber"),
    )


@query(
    "id_time_monotonicity_audit",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id,
             {duck_epoch('ts')} AS us
      FROM events
    ),
    d AS (
      SELECT user_id,
             CASE WHEN event_id < LAG(event_id)
                    OVER (PARTITION BY user_id ORDER BY us, event_id)
                  THEN 1 ELSE 0 END AS inv
      FROM ev
    )
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(inv) AS BIGINT) AS n_inversions,
           CAST(COUNT(DISTINCT CASE WHEN inv = 1 THEN user_id END)
                AS BIGINT) AS n_users_with_inversions
    FROM d
    """,
)
def id_time_monotonicity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does event_id order agree with event TIME order per user? —
    counts the inversions (an id smaller than its time-predecessor's)
    and the users exhibiting any.  A clean result licenses using the
    cheap monotonic id as the ordering key in downstream
    sessionization; inversions mean ids were assigned by a different
    clock (sharded generators, client timestamps) and every
    id-ordered window downstream is silently wrong — this audit is
    the cheap gate before anyone makes that assumption.

    Scale shape: one LAG window partitioned by user, one global
    conditional rollup — the standard sessionization exchange."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr(spark_epoch("ts")).alias("us")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    d = ev.select(
        "user_id",
        F.when(F.col("event_id") < F.lag("event_id").over(w), 1)
        .otherwise(0)
        .alias("inv"),
    )
    return d.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("inv").cast("bigint").alias("n_inversions"),
        F.countDistinct(F.when(F.col("inv") == 1, F.col("user_id")))
        .cast("bigint")
        .alias("n_users_with_inversions"),
    )


@query(
    "header_detail_integrity",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT)
        AS n_childless_orders,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS n_orphan_lines,
      CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_orders,
      CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_lines
    """,
)
def header_detail_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header/detail integrity BOTH directions: orders with zero line
    items (childless parents — the direction fk_orphan_audit's
    child->parent scans cannot see) and line items whose order header
    is missing, with the table totals for rates — the paired
    ingestion check that catches a dropped detail file versus a
    dropped header file, which have identical symptoms in revenue
    totals and opposite fixes.

    Scale shape: two anti joins on the natural orderkey (semi/anti
    equi-joins, no null-aware path) plus two metadata-cheap counts."""
    o = t(spark, sf_dir, "orders").select("o_orderkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    childless = o.join(
        li, o["o_orderkey"] == li["l_orderkey"], "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_childless_orders"))
    orphan = li.join(
        o, li["l_orderkey"] == o["o_orderkey"], "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orphan_lines"))
    totals = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    ).crossJoin(
        F.broadcast(
            li.agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
        )
    )
    return (
        childless.crossJoin(F.broadcast(orphan))
        .crossJoin(F.broadcast(totals))
        .select("n_childless_orders", "n_orphan_lines", "n_orders", "n_lines")
    )


def _line_content_key(text_type: str) -> str:
    """Pipe-joined business fields of a line item (exact cents)."""
    return " || '|' || ".join(
        f"CAST({c} AS {text_type})"
        for c in (
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)",
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)",
        )
    )


@query(
    "order_content_fingerprint",
    oracle=f"""
    WITH lines AS (
      SELECT l_orderkey,
             {duck_hash(_line_content_key('VARCHAR'), 31, hex_digits=15)} AS h
      FROM lineitem
    )
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(BIT_XOR(h) AS BIGINT) AS content_xor
    FROM lines GROUP BY 1
    """,
)
def order_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-level content fingerprint: each line item digested to a
    60-bit hash of its business fields (exact cents, pipe-delimited),
    XOR-folded per order — XOR is order-INSENSITIVE, so two replicas
    of an order match regardless of row arrival order, and one
    changed/missing/duplicated line flips the fingerprint.  Joining
    two snapshots on (orderkey, n_lines, content_xor) is the
    cheapest entity-level replication diff there is (the
    snapshot_diff idea pushed down to entity granularity).

    Scale shape: per-row hashing on the scan, one order-keyed
    map-side-combinable aggregate — digests shuffle, bodies never
    do."""
    h_expr = spark_hash(_line_content_key("STRING"), 31, hex_digits=15)
    lines = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.expr(h_expr).alias("h")
    )
    return lines.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.expr("BIT_XOR(h)").cast("bigint").alias("content_xor"),
    )


@query(
    "value_range_audit",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN value = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero,
           CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative,
           CAST(SUM(CASE WHEN value > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_huge,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null
    FROM events GROUP BY event_type
    """,
)
def value_range_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-column range audit per event type: zero / negative /
    implausibly-huge / NULL counts in one pass — the four buckets
    that each indicate a DIFFERENT upstream bug (zeros: default-
    initialized payloads; negatives: refund records mixed into the
    wrong stream; huge: unit confusion, cents-vs-dollars; NULLs:
    schema drift) — which is why they are reported separately rather
    than as one 'bad rows' number.

    Scale shape: one map-side-combinable conditional aggregate on the
    type key."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("value") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_negative"),
            F.sum(F.when(F.col("value") > 1000000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_huge"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
        )
    )


# ================================================================ round 9


@query(
    "delete_cascade_sim",
    oracle="""
    WITH del_cust AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ),
    del_orders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
    ),
    del_lines AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)
    )
    SELECT 'customer' AS relation,
           CAST((SELECT COUNT(*) FROM del_cust) AS BIGINT) AS n_cascade,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_total
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM del_orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM del_lines) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    ORDER BY relation
    """,
)
def delete_cascade_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON DELETE CASCADE dry-run: how many rows a GDPR-style deletion
    predicate (negative-balance customers) would remove from each
    relation down the FK chain customer -> orders -> lineitem —
    the blast-radius report you run BEFORE the irreversible delete
    (pairs with fk_orphan_audit, which checks the opposite direction).

    Scale shape: each hop is one semi-join (the deletable-key side is
    the small one after the predicate; AQE broadcasts it while it
    fits), each feeding a 1-row count; at 100 TB the lineitem hop is
    the one orderkey-keyed exchange."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    del_cust = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    del_orders = o.join(
        del_cust, o.o_custkey == del_cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    del_lines = li.join(
        del_orders, li.l_orderkey == del_orders.o_orderkey, "left_semi"
    )
    def row(rel, cascade_df, total_df):
        return cascade_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cascade")
        ).crossJoin(
            total_df.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
        ).select(F.lit(rel).alias("relation"), "n_cascade", "n_total")
    return (
        row("customer", del_cust, c)
        .unionByName(row("orders", del_orders, o))
        .unionByName(row("lineitem", del_lines, li))
        .orderBy("relation")
    )


# ------------------------------------------ shuffle-skew forecast

_SKEW_K = 200  # the hypothetical shuffle partition count being sized


@query(
    "shuffle_skew_forecast",
    oracle=f"""
    WITH parts AS (
      SELECT {duck_hash('user_id', 77, hex_digits=15)} % {_SKEW_K} AS pid,
             COUNT(*) AS rows_in
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT rows_in, ROW_NUMBER() OVER (ORDER BY rows_in, pid) AS rn,
             COUNT(*) OVER () AS np
      FROM parts
    )
    SELECT CAST({_SKEW_K} AS BIGINT) AS k,
           CAST(MAX(CASE WHEN rn = CEIL(np / 2.0) THEN rows_in END) AS BIGINT)
             AS p50_rows,
           CAST(MAX(rows_in) AS BIGINT) AS max_rows,
           {round_half('CAST(MAX(rows_in) AS DOUBLE)'
                 ' / MAX(CASE WHEN rn = CEIL(np / 2.0) THEN rows_in END)', 6)}
             AS skew_ratio
    FROM ranked
    """,
)
def shuffle_skew_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-skew forecast: hash every row's user_id
    into the {_SKEW_K} partitions a user-keyed exchange would create
    (the portable 60-bit digest, so the forecast itself is
    reproducible) and report max vs median partition size — the
    straggler predictor you read BEFORE launching the 4-hour join,
    and the quantitative trigger for salting or AQE skew handling
    (ratio ~1: safe; >>1: one reducer owns the job's tail latency).

    Scale shape: one map-side-combinable (pid) count — {_SKEW_K}
    rows; the median/max roll-up is constant-size.  The window runs
    over the {_SKEW_K}-row partition table (bounded)."""
    from pyspark.sql import Window

    parts = (
        t(spark, sf_dir, "events")
        .selectExpr(f"({spark_hash('user_id', 77, hex_digits=15)}) % {_SKEW_K} AS pid")
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("rows_in"))
    )
    w = Window.orderBy("rows_in", "pid")
    wa = Window.partitionBy()
    ranked = parts.select(
        "rows_in",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(wa.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("np"),
    )
    return ranked.agg(
        F.lit(_SKEW_K).cast("bigint").alias("k"),
        F.expr(
            "CAST(MAX(CASE WHEN rn = CEIL(np / 2.0) THEN rows_in END) AS BIGINT)"
        ).alias("p50_rows"),
        F.max("rows_in").cast("bigint").alias("max_rows"),
        F.expr(
            round_half("CAST(MAX(rows_in) AS DOUBLE)"
                       " / MAX(CASE WHEN rn = CEIL(np / 2.0) THEN rows_in END)", 6)
        ).alias("skew_ratio"),
    )


# ------------------------------------------ dim broadcast budget


_DIM_SPECS = [
    # (table, key width proxy: fixed 8B per numeric col + string bytes)
    ("nation", "nation", "8 * 2 + LENGTH(n_name)"),
    ("region", "region", "8 * 1 + LENGTH(r_name)"),
    ("supplier", "supplier", "8 * 3 + LENGTH(s_name)"),
    ("customer", "customer", "8 * 3 + LENGTH(c_name) + LENGTH(c_mktsegment)"),
    ("part", "part", "8 * 3 + LENGTH(p_name) + LENGTH(p_brand) + LENGTH(p_type)"),
]


@query(
    "dim_broadcast_budget",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{name}' AS relation, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({width}) AS BIGINT) AS est_bytes,
           CAST(CASE WHEN SUM({width}) <= 10485760 THEN 1 ELSE 0 END AS BIGINT)
             AS fits_10mb
    FROM {tbl}"""
        for name, tbl, width in _DIM_SPECS
    )
    + "\n    ORDER BY relation",
)
def dim_broadcast_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-budget audit for every joinable dimension: estimated
    in-memory bytes (8 B per numeric column + actual string bytes —
    the deliberately simple estimator both engines can agree on) vs
    the classic 10 MB autoBroadcastJoinThreshold.  The table that
    makes the engine's broadcast policy INSPECTABLE: nation/region
    stay eligible forever, while supplier/customer/part flip to 0 as
    sf grows — exactly the cardinality cliff the no-unbounded-hint
    plan guard (tools/broadcast_guard.py) enforces, here as data
    instead of a test.

    Scale shape: five independent map-side-combinable scans, one
    row each; no join, no window."""
    out = None
    for name, tbl, width in _DIM_SPECS:
        d = t(spark, sf_dir, tbl).selectExpr(f"{width} AS w")
        row = d.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("w").cast("bigint").alias("est_bytes"),
            F.expr(
                "CAST(CASE WHEN SUM(w) <= 10485760 THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("fits_10mb"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("relation")


# ------------------------------- Z-order vs linear skip audit

_ZQ_CHUNK = 256   # rows per simulated row-group
_ZQ_BITS = 8      # 8+8-bit Morton key (256x256 grid)
# the 2-D box predicate, on the normalized 0..255 bucket axes:
# a quarter of each axis -> 1/16 of the value space
_ZQ_CX_LO, _ZQ_CX_HI = 64, 127
_ZQ_DY_LO, _ZQ_DY_HI = 32, 95


@query(
    "zorder_skip_audit",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             o_custkey,
             {duck_epoch('o_orderdate', 'day')}
               AS day_idx
      FROM orders
    ),
    bounds AS (
      SELECT MAX(o_custkey) AS maxc, MIN(day_idx) AS mind,
             MAX(day_idx) AS maxd
      FROM base
    ),
    keyed AS (
      SELECT o_orderkey,
             LEAST(o_custkey * 256 // (maxc + 1), 255) AS cx,
             LEAST((day_idx - mind) * 256 // (maxd - mind + 1), 255) AS dy
      FROM base, bounds
    ),
    zkeyed AS (
      SELECT o_orderkey, cx, dy,
             {_zsql("cx", "dy", _ZQ_BITS)} AS zkey
      FROM keyed
    ),
    layouts AS (
      SELECT 'natural' AS layout, o_orderkey // {_ZQ_CHUNK} AS chunk,
             cx, dy
      FROM zkeyed
      UNION ALL
      SELECT 'date_clustered',
             (ROW_NUMBER() OVER (ORDER BY dy, o_orderkey) - 1)
               // {_ZQ_CHUNK},
             cx, dy
      FROM zkeyed
      UNION ALL
      SELECT 'zorder',
             (ROW_NUMBER() OVER (ORDER BY zkey, o_orderkey) - 1)
               // {_ZQ_CHUNK},
             cx, dy
      FROM zkeyed
    ),
    zones AS (
      SELECT layout, chunk,
             MIN(cx) AS mn_cx, MAX(cx) AS mx_cx,
             MIN(dy) AS mn_dy, MAX(dy) AS mx_dy,
             COUNT(*) AS rows_in_chunk
      FROM layouts GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN mx_cx < {_ZQ_CX_LO} OR mn_cx > {_ZQ_CX_HI}
                           OR mx_dy < {_ZQ_DY_LO} OR mn_dy > {_ZQ_DY_HI}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
           CAST(SUM(rows_in_chunk) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN mx_cx < {_ZQ_CX_LO} OR mn_cx > {_ZQ_CX_HI}
                           OR mx_dy < {_ZQ_DY_LO} OR mn_dy > {_ZQ_DY_HI}
                    THEN rows_in_chunk ELSE 0 END) AS BIGINT)
             AS rows_skippable
    FROM zones GROUP BY layout ORDER BY layout
    """,
)
def zorder_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout data-skipping audit for a TWO-column
    box predicate (customer range x date range) — the measurement
    behind 'is Z-ORDER BY (custkey, orderdate) worth it?': orders are
    bucketed onto a 256x256 normalized grid, laid out three ways
    (natural orderkey chunks; date-clustered; Morton-curve order via
    the shared zorder_key_sql fragment), and each layout's per-chunk
    min/max zone maps are tested against the box.  Expected shape:
    date clustering skips ~3/4 of chunks (the dy axis only), the
    natural layout skips ~nothing (both axes straddle every chunk),
    and the Z-curve skips on BOTH axes at once — the 2-D locality no
    1-D sort can give.

    Scale shape: bucket normalization is one scalar-bounds broadcast;
    the two clustered layouts rank via two_phase_rank (bucket-keyed
    prefix sums on the BOUNDED dy / zkey-page domains — no
    partitionless window); zone maps are one map-side-combinable
    aggregate per layout; the audit runs on chunk-count rows.  At
    100 TB the ranking becomes the range partitioner's job
    (range_partition_bounds) — the zone-map math is unchanged."""
    from instructions_mr_spark.queries._util import two_phase_rank

    base = t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_custkey",
        f"{spark_epoch('o_orderdate', 'day')} AS day_idx",
    )
    bounds = base.agg(
        F.max("o_custkey").alias("maxc"),
        F.min("day_idx").alias("mind"),
        F.max("day_idx").alias("maxd"),
    )
    keyed = base.crossJoin(F.broadcast(bounds)).selectExpr(
        "o_orderkey",
        "LEAST(o_custkey * 256 DIV (maxc + 1), 255) AS cx",
        "LEAST((day_idx - mind) * 256 DIV (maxd - mind + 1), 255) AS dy",
    )
    zkeyed = keyed.selectExpr(
        "o_orderkey", "cx", "dy", f"{_zsql('cx', 'dy', _ZQ_BITS)} AS zkey"
    )
    natural = zkeyed.select(
        F.lit("natural").alias("layout"),
        F.expr(f"o_orderkey DIV {_ZQ_CHUNK}").alias("chunk"),
        "cx",
        "dy",
    )
    dated = two_phase_rank(
        zkeyed, F.col("dy"), [F.col("dy"), F.col("o_orderkey")], rn_name="rn"
    ).select(
        F.lit("date_clustered").alias("layout"),
        F.expr(f"(rn - 1) DIV {_ZQ_CHUNK}").alias("chunk"),
        "cx",
        "dy",
    )
    # zkey pages (zkey DIV 256) are an order-preserving BOUNDED bucket
    # domain (256 values) for the two-phase rank
    zordered = two_phase_rank(
        zkeyed,
        F.expr("zkey DIV 256"),
        [F.col("zkey"), F.col("o_orderkey")],
        rn_name="rn",
    ).select(
        F.lit("zorder").alias("layout"),
        F.expr(f"(rn - 1) DIV {_ZQ_CHUNK}").alias("chunk"),
        "cx",
        "dy",
    )
    zones = (
        natural.unionByName(dated)
        .unionByName(zordered)
        .groupBy("layout", "chunk")
        .agg(
            F.min("cx").alias("mn_cx"),
            F.max("cx").alias("mx_cx"),
            F.min("dy").alias("mn_dy"),
            F.max("dy").alias("mx_dy"),
            F.count(F.lit(1)).alias("rows_in_chunk"),
        )
    )
    skippable = (
        (F.col("mx_cx") < _ZQ_CX_LO)
        | (F.col("mn_cx") > _ZQ_CX_HI)
        | (F.col("mx_dy") < _ZQ_DY_LO)
        | (F.col("mn_dy") > _ZQ_DY_HI)
    )
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(skippable.cast("int")).cast("bigint").alias("n_skippable"),
            F.sum("rows_in_chunk").cast("bigint").alias("rows_total"),
            F.sum(F.when(skippable, F.col("rows_in_chunk")).otherwise(0))
            .cast("bigint")
            .alias("rows_skippable"),
        )
        .orderBy("layout")
    )

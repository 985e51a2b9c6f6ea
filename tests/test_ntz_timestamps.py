"""Tz-less parquet timestamps read as TIMESTAMP_NTZ in Spark 4
(``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults true), and
NTZ forbids several casts plain TIMESTAMP allows (``CAST(ts AS
BIGINT)``, ``unix_micros(ts)``).  The driver's testdata is written
tz-less, so every events/orders time expression must be NTZ-safe —
this file pins that contract after round 3's ``join_asof_nearest``
driver failure (DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION).
Epoch arithmetic goes only through ``functions.spark_epoch`` /
``duck_epoch``, which cast through TIMESTAMP on Spark (a guard in
tests/test_plans.py fails on any other spelling).
"""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import functions as F

from instructions_mr_spark import registry
from tests.conftest import SF_SMALL

# Queries whose round-3 implementations broke on NTZ input.
NTZ_REGRESSED = [
    "join_asof_nearest",
    "funnel_sessions",
    "funnel_by_segment",
    "stream_funnel_sessions",
]

# registry.DRIVER_WINDOW queries whose event time goes through spark_epoch.
EPOCH_SEAM_WINDOW = [
    "kendall_tau_terms",
    "ordinal_pattern_counts",
    "acf_lag_terms",
    "backlog_aging_buckets",
    "interpurchase_gap_profile",
    "wow_revenue_delta",
    "runs_test_counts",
    "shipment_latency_audit",
    "user_acquisition_curve",
    "cart_abandonment_daily",
    "user_activity_depth",
    "session_duration_profile",
    "moving_7d_revenue",
    "weekend_lift",
    "rolling_retention_7d",
    "mann_kendall_trend",
    "ts_ohlc_hourly",
]


def test_events_ts_loads_as_timestamp_flavor(spark):
    """Whatever flavor the driver generates (tz-less µs -> NTZ,
    TIMESTAMP(NANOS) -> bigint normalized by load_table, or instant
    TIMESTAMP), the canonical loader must hand queries a timestamp
    type — the NTZ-safe expressions cast through TIMESTAMP, a no-op
    for the instant flavor."""
    from instructions_mr_spark.sources.tables import load_table

    ts_type = dict(load_table(spark, SF_SMALL, "events").dtypes)["ts"]
    assert ts_type in ("timestamp_ntz", "timestamp")


def test_ntz_regressed_queries_run(spark):
    for name in NTZ_REGRESSED:
        df = registry.QUERIES[name](spark, SF_SMALL)
        assert df.count() >= 0, name


def test_asof_join_accepts_both_timestamp_flavors(spark):
    """asof_join must produce identical matches whether the time
    columns arrive as TIMESTAMP or TIMESTAMP_NTZ (session tz UTC)."""
    from instructions_mr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"), (2, "2024-01-01 09:00:00")],
        "k int, lt string",
    )
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", "a"), (1, "2024-01-01 11:00:00", "b")],
        "rk int, rt string, payload string",
    )
    for flavor in (T.TimestampType(), T.TimestampNTZType()):
        lf = left.select("k", F.col("lt").cast(flavor).alias("lt"))
        rf = right.select("rk", F.col("rt").cast(flavor).alias("rt"), "payload")
        got = asof_join(
            lf, rf, on_time_left="lt", on_time_right="rt",
            by_left=["k"], by_right=["rk"], how="left",
        )
        rows = {(r.k, str(r.lt), r.payload) for r in got.collect()}
        assert rows == {
            (1, "2024-01-01 10:00:00", "a"),
            (1, "2024-01-01 12:00:00", "b"),
            (2, "2024-01-01 09:00:00", None),
        }


def test_regressed_queries_run_on_nanos_flavor(spark, tmp_path):
    """The OTHER generation flavor: events.ts as parquet
    TIMESTAMP(NANOS), which load_table reads as bigint (nanosAsLong)
    and normalizes via timestamp_micros.  The same queries must run
    unchanged — this pins both flavors so a driver-side regeneration
    can never break one of them again.  The ``EPOCH_SEAM_WINDOW``
    queries run here too, on the rewritten column."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    pdf = src.toPandas()
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    i = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(
        i, "ts", tbl.column("ts").cast(pa.timestamp("ns"))
    )
    flavor_dir = tmp_path / "nanos_sf"
    flavor_dir.mkdir()
    pq.write_table(tbl, str(flavor_dir / "events.parquet"))
    # honesty check: the file really is TIMESTAMP(NANOS) on disk (a
    # silent pyarrow us-coercion would make this test re-test NTZ)
    written = pq.read_schema(str(flavor_dir / "events.parquet"))
    assert written.field("ts").type == pa.timestamp("ns"), written.field("ts")
    for name in ("customer", "orders", "lineitem", "documents"):
        os.symlink(f"{SF_SMALL}/{name}.parquet", flavor_dir / f"{name}.parquet")

    for name in NTZ_REGRESSED + ["join_asof_forward"] + EPOCH_SEAM_WINDOW:
        df = registry.QUERIES[name](spark, str(flavor_dir))
        assert df.count() >= 0, name

"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM, but every
knob here is chosen so the same plans scale to a multi-executor
cluster at ~100 TB:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion) — the primary defence against skew/misestimates
  at scale.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number far less critical.
* Arrow enabled — every pandas/mapInPandas boundary is Arrow-batched.
* Session timezone pinned to UTC so timestamp semantics are stable
  and comparable across engines (DuckDB oracle included).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "instructions_mr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # files.maxPartitionBytes left at default 128m: right for both
        # the local sf dirs and a production parquet lake.
        # autoBroadcastJoinThreshold left at the 10 MB default:
        # a sweep at sf0.1 (tools/sweep_broadcast.py and its results
        # file, in git at commit 28b8bd6) measured -1 / 1 MB / 10 MB;
        # 10 MB and 1 MB tie, fully-off is ~25% slower because
        # AQE-derived interior broadcasts demote to shuffle.  The star
        # dims are hinted explicitly (F.broadcast), so dimension growth
        # at high SF cannot silently demote them.
    )
    # Local test SFs are single ~10 MB parquet files; the 128 MB default
    # split gives them ONE scan task and serializes every aggregate.
    # 8 MB engages the cores (measured: 6.2s -> ~4s for the 3 headline
    # scan-agg queries at sf0.1).  On a production lake (many >=128 MB
    # files) set SPARK_GRAFT_MAX_PARTITION_BYTES=128m — row-group
    # granularity makes small splits harmless but pointless there.
    builder = builder.config(
        "spark.sql.files.maxPartitionBytes",
        os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

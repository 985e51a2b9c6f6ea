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
* Generated-code cache sized to a session's working set.  Spark's
  ``spark.sql.codegen.cache.maxEntries`` defaults to 100 entries in a
  Guava cache of 4 segments (about 25 classes each).  The three
  ``curation_session`` items (perfbench) alone generate about 136
  distinct classes, so at 100 every warm pass recompiled 106-130 of
  them with Janino, on the driver and inside tasks; at 1000 a warm pass
  compiles 0, or a few renumbered copies (AQE numbers codegen stages in
  the order its query stages finish).  Shrinking plans under 100
  classes would not hold: an 11-query curation family needs 314-356.
  ``codegen_compiles`` reads the compile counter.
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
        # Static: the JVM-wide codegen cache is built once per process.
        # Working sets measured at sf0.001-sf0.01, 4 vCPU: 106-130
        # recompiles per warm curation_session pass at the default 100;
        # 314-356 classes for an 11-query curation family; 9 for
        # instr_mr_http (all cold).  1000 leaves room for all of them.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
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


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram count).  In
    local mode the driver and the tasks share the JVM, so this counts
    both; a warm pass that compiles 0 is fully served by the cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())

"""Parallelism floor for CPU-dense scan kernels (round 12, VERDICT r11
"What's wrong" #3).

A zero-shuffle kernel executes on as many tasks as the scan has input
splits; a single-file (or coalesced small-file) layout therefore runs
an O(cap*w)-per-row kernel on ONE core regardless of cluster size —
the shape that made winnowing_fingerprints the slowest bench query at
sf0.1 (10.1 s on 1 of 32 cores; 2.9-3.2 s with the floor's one cheap
repartition of the 584 KB text exchange).  kernel_floor() repartitions
a scan to defaultParallelism ONLY when its split count is below
min(cores, 8); on any realistic wide layout it is the identity.
"""

from __future__ import annotations

import pytest

from instructions_mr_spark import registry
from instructions_mr_spark.queries._util import kernel_floor

SF = "/root/testdata/sf0.001"

# Every query that routes its documents scan through kernel_floor.
# The floor is for kernels whose per-row cost dominates the exchange;
# adding a name here means its sf0.1 wall was measured better WITH the
# floor (winnowing 10.1->3.2s, repetition 1.9->1.05s, bigram
# 1.8->1.5s at r12).
FLOORED = [
    "winnowing_fingerprints",
    "quality_repetition",
    "quality_bigram_logprob",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_floor_engages_on_single_split_scan(spark):
    df = spark.range(0, 100).coalesce(1)
    floored = kernel_floor(df)
    cores = spark.sparkContext.defaultParallelism
    assert floored.rdd.getNumPartitions() == cores
    assert "RoundRobinPartitioning" in _plan(floored)


def test_floor_is_identity_on_wide_scan(spark):
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, numPartitions=max(cores, 8))
    floored = kernel_floor(df)
    # identity: the very same DataFrame object, no exchange added
    assert floored is df


def test_full_floor_engages_between_8_and_cores(spark):
    """full=True (heavy kernels, e.g. winnowing's Arrow kernel) must
    engage on the in-between regime — more splits than 8 but fewer
    than cores (sf1's 10-file layout on a 32-core box, measured
    1.4-1.6x faster 32-way) — where the default floor stays identity."""
    cores = spark.sparkContext.defaultParallelism
    if cores <= 8:
        import pytest

        pytest.skip("needs > 8 cores to have an in-between regime")
    df = spark.range(0, 1000, numPartitions=min(cores - 1, 10))
    assert kernel_floor(df) is df
    full = kernel_floor(df, full=True)
    assert full.rdd.getNumPartitions() == cores


def test_floor_preserves_rows(spark):
    df = spark.range(0, 57).coalesce(1)
    assert sorted(r.id for r in kernel_floor(df).collect()) == list(range(57))


@pytest.mark.parametrize("name", FLOORED)
def test_floored_queries_do_not_ride_a_single_split(spark, name):
    """The scan stage of each floored kernel query must execute with
    >= min(cores, 8) tasks even on a single-file input (sf0.001's
    documents table is one parquet file — exactly the under-split
    layout that caused the r11 winnowing wall)."""
    df = registry.QUERIES[name](spark, SF)
    plan = _plan(df)
    assert "RoundRobinPartitioning" in plan, (
        f"{name}: kernel_floor did not engage on a single-split scan"
    )


@pytest.mark.parametrize("name", FLOORED)
def test_floored_queries_unchanged_results(spark, name):
    """The floor is pure execution-layout: row-identical output.
    (Oracle parity is separately re-verified by tools/check_oracle.py;
    this pins floor-on == floor-off inside one session.)"""
    import instructions_mr_spark.queries.text as textmod

    floored = registry.QUERIES[name](spark, SF)
    # patch the name the query modules bound at import time
    orig = textmod.kernel_floor
    textmod.kernel_floor = lambda df, **kw: df
    try:
        bare = registry.QUERIES[name](spark, SF)
    finally:
        textmod.kernel_floor = orig
    key = lambda rows: sorted(map(str, rows))
    assert key(floored.collect()) == key(bare.collect())

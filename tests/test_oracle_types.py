"""Registry-wide output-type pins: no query output is HUGEINT or DECIMAL.

``tools/check_oracle.py`` compares Spark and DuckDB results exactly,
as canonical row strings (``perfbench.check.diff``), so an output type
that lands differently in pandas on the two engines fails there.  Two
such types are known:

- DuckDB widens integer SUM() to HUGEINT, which pandas materializes as
  float64 while Spark's bigint lands as int64 (the `mixture_weights`
  red row in CORRECTNESS_r05.json).  Oracles `CAST(SUM(...) AS BIGINT)`.
- A DECIMAL lands as ``Decimal`` objects from Spark and as float64 from
  DuckDB (the `theil_index_terms` / `ts_ohlc_hourly` red rows in
  CORRECTNESS_r13.json).  Queries emit DOUBLE instead, by the output-type
  rule in ``queries/_util.py``.

These tests are the cheap tier-1 guard for that rule.  The oracle side
is DuckDB-only: every oracle is bound against the sf0.001 parquet views
and its output schema inspected; binding alone resolves types, so the
whole registry scans in a few seconds.  The Spark side builds the
queries that used to emit DECIMAL and inspects their schemas, nested
types included.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import types as T

from instructions_mr_spark import registry
from tools.check_oracle import duck_con

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")

BANNED_TYPES = {"HUGEINT", "UHUGEINT", "DECIMAL"}

# every query whose output had a DECIMAL column (on either engine) until
# the output-type rule was stated
FORMER_DECIMAL_QUERIES = [
    "q1_pricing_summary",
    "theil_index_terms",
    "ts_ohlc_hourly",
    "elasticity_loglog_terms",
    "supplier_customer_hhi",
    "kaplan_meier_retention",
    "moments34_terms",
    "anova_two_way_terms",
    "ratio_metric_terms",
    "feature_target_corr_terms",
    "bollinger_breach_daily",
    "poisson_dispersion_audit",
    "embedding_covariance_terms",
    "centroid_affinity_terms",
    "neardup_threshold_curve",
]


@pytest.fixture(scope="module")
def con() -> duckdb.DuckDBPyConnection:
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"testdata dir missing: {SF_DIR}")
    return duck_con(SF_DIR)


def test_no_oracle_column_is_hugeint(con: duckdb.DuckDBPyConnection) -> None:
    assert registry.ORACLES, "registry is empty — load_all() broken"
    offenders: list[str] = []
    for name, sql in registry.ORACLES.items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            if str(typ).upper().split("(")[0] in BANNED_TYPES:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle columns with HUGEINT or DECIMAL output (cast to BIGINT, or "
        "to DOUBLE by the queries/_util.py output-type rule):\n  "
        + "\n  ".join(offenders)
    )


def _decimal_paths(dt: T.DataType, path: str):
    if isinstance(dt, T.DecimalType):
        yield f"{path}: {dt.simpleString()}"
    elif isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _decimal_paths(f.dataType, f"{path}.{f.name}")
    elif isinstance(dt, T.ArrayType):
        yield from _decimal_paths(dt.elementType, f"{path}[]")
    elif isinstance(dt, T.MapType):
        yield from _decimal_paths(dt.keyType, f"{path}{{key}}")
        yield from _decimal_paths(dt.valueType, f"{path}{{value}}")


def test_decimal_paths_recurse_into_nested_types() -> None:
    dt = T.StructType([
        T.StructField("a", T.ArrayType(T.DecimalType(10, 2))),
        T.StructField("m", T.MapType(T.StringType(), T.StructType([
            T.StructField("d", T.DecimalType(38, 0)),
        ]))),
        T.StructField("ok", T.DoubleType()),
    ])
    assert list(_decimal_paths(dt, "q")) == [
        "q.a[]: decimal(10,2)",
        "q.m{value}.d: decimal(38,0)",
    ]


def test_no_spark_output_is_decimal(spark) -> None:
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"testdata dir missing: {SF_DIR}")
    offenders: list[str] = []
    for name in FORMER_DECIMAL_QUERIES:
        schema = registry.QUERIES[name](spark, SF_DIR).schema
        offenders += _decimal_paths(schema, name)
    assert not offenders, (
        "Spark output columns of DECIMAL type (cast to DOUBLE by the "
        "queries/_util.py output-type rule):\n  " + "\n  ".join(offenders)
    )

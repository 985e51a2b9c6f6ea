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
from tests.conftest import write_tables
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


def test_dec_double_is_bit_identical_across_engines(spark, tmp_path) -> None:
    """``_util.dec_double`` turns random DECIMAL(38, s) values, s = 0..20,
    unscaled both below and above 2^53, into the same double on Spark
    and DuckDB.  A plain CAST(x AS DOUBLE) does not on the same file:
    DuckDB's direct cast misrounds above 2^53."""
    import decimal
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from instructions_mr_spark.queries._util import dec_double

    rng = random.Random(16)
    scales = range(21)

    def unscaled(i: int) -> int:
        top = 2**53 if i % 2 else 10**38 - 1
        low = 0 if i % 2 else 2**53
        return rng.choice((-1, 1)) * rng.randint(low, top)

    cols = {
        f"d{s}": pa.array(
            [decimal.Decimal(f"{unscaled(i)}E-{s}") for i in range(100)],
            pa.decimal128(38, s),
        )
        for s in scales
    }
    path = str(tmp_path / "dec.parquet")
    pq.write_table(pa.table({"id": pa.array(range(100), pa.int64()), **cols}), path)
    exprs = [dec_double(c) for c in cols] + [f"CAST({c} AS DOUBLE)" for c in cols]
    got = spark.read.parquet(path).selectExpr("id", *exprs).collect()
    want = duckdb.sql(
        "SELECT id, " + ", ".join(exprs) + f" FROM read_parquet('{path}')"
    ).fetchall()
    spark_rows = {r[0]: [float(v).hex() for v in r[1:]] for r in got}
    duck_rows = {r[0]: [float(v).hex() for v in r[1:]] for r in want}
    n = len(cols)
    bad = [
        (i, j)
        for i in duck_rows
        for j in range(n)
        if spark_rows[i][j] != duck_rows[i][j]
    ]
    assert not bad, f"{len(bad)} dec_double values differ, first: {bad[:3]}"
    plain = sum(
        spark_rows[i][n + j] != duck_rows[i][n + j] for i in duck_rows for j in range(n)
    )
    assert plain > 0, "a plain CAST agreed everywhere: the test cannot see the fault"


def test_duck_con_views_only_the_tables_present(tmp_path) -> None:
    """A directory holding only documents.parquet still runs a
    documents-only oracle; a table that is not there gets no view."""
    write_tables(tmp_path, documents=[(1, "alpha beta gamma", "en", "web", 16)])
    con = duck_con(str(tmp_path))
    assert con.sql(registry.ORACLES["kmv_union_merge"]).fetchone()[0] == 2
    with pytest.raises(duckdb.CatalogException):
        con.sql("SELECT * FROM orders")


@pytest.mark.parametrize(
    "args, named",
    [([f"{SF_DIR}x"], f"{SF_DIR}x"), ([SF_DIR, "theil_index_term"], "theil_index_term")],
    ids=["mistyped_dir", "mistyped_query"],
)
def test_check_oracle_refuses_an_argument_it_cannot_check(args, named) -> None:
    """A mistyped directory or query name ends the gate with a non-zero
    status and a message naming it, before Spark starts, instead of a
    sweep of nothing that prints ``FAILURES: 0``."""
    import subprocess
    import sys

    tool = os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py")
    run = subprocess.run(
        [sys.executable, tool, *args], capture_output=True, text=True, timeout=300
    )
    assert run.returncode != 0, run.stdout[-500:]
    assert named in run.stderr, run.stderr[-500:]
    assert "FAILURES" not in run.stdout and "SparkContext" not in run.stderr

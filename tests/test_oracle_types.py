"""Registry-wide oracle output-type scan (VERDICT r5 "What's wrong" #1-#2).

DuckDB widens integer SUM() to HUGEINT, which pandas materializes as
float64 while Spark's bigint lands as int64 — the driver's exact
value-hash then differs even when every value is identical (the
`mixture_weights` red row in CORRECTNESS_r05.json).  The local
comparator's float tolerance masks the defect, so this test asserts the
invariant directly at the type level: *no oracle result column may be
HUGEINT/UHUGEINT*.  Oracles must `CAST(SUM(...) AS BIGINT)`.

DuckDB-only (no Spark session): every oracle is bound against the
sf0.001 parquet views and its output schema inspected.  Binding alone
resolves types, so the whole registry scans in well under a second.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from instructions_mr_spark import registry
from tools.check_oracle import duck_con

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")

BANNED_TYPES = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def con() -> duckdb.DuckDBPyConnection:
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"testdata dir missing: {SF_DIR}")
    return duck_con(SF_DIR)


def test_no_oracle_column_is_hugeint(con: duckdb.DuckDBPyConnection) -> None:
    registry.load_all()
    assert registry.ORACLES, "registry is empty — load_all() broken"
    offenders: list[str] = []
    for name, sql in registry.ORACLES.items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            if str(typ).upper() in BANNED_TYPES:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle columns with HUGEINT output (wrap in CAST(... AS BIGINT) — "
        "these red-row the driver hash the moment the window rotates onto "
        "them):\n  " + "\n  ".join(offenders)
    )

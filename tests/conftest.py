from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from instructions_mr_spark import registry
from instructions_mr_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"

registry.load_all()


def write_tables(dir, **tables) -> None:
    """Write hand-built tables as ``<dir>/<name>.parquet``, one file each,
    in the driver's own parquet flavor.

    ``tables`` maps a ``sources.tables.TABLE_NAMES`` table to its rows:
    dicts, where a column a row does not name is null, or full-width
    tuples in column order.  Columns, their order and their types come
    from the footer of ``SF_SMALL/<name>.parquet``, so ``ts``,
    ``o_orderdate`` and ``l_shipdate`` are tz-less microseconds that
    Spark reads as TIMESTAMP_NTZ, exactly as the driver's data.  Both
    ``load_table`` and ``tools/check_oracle.duck_con`` read the result.
    """
    os.makedirs(dir, exist_ok=True)
    for name, rows in tables.items():
        schema = pq.read_schema(os.path.join(SF_SMALL, f"{name}.parquet"))
        rows = [
            r if isinstance(r, dict) else dict(zip(schema.names, r, strict=True))
            for r in rows
        ]
        unknown = set().union(*rows) - set(schema.names)
        assert not unknown, f"{name} has no columns {sorted(unknown)}"
        columns = [
            pa.array([r.get(f.name) for r in rows], f.type) for f in schema
        ]
        pq.write_table(
            pa.Table.from_arrays(columns, schema=schema.remove_metadata()),
            os.path.join(dir, f"{name}.parquet"),
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        # Diagnostics for the rare Python-worker socket teardown race
        # (java.nio.channels.CancelledKeyException after ~1k stages on one
        # shared session): dump the worker's Python stack if it crashes.
        extra_conf={"spark.python.worker.faulthandler.enabled": "true"},
    )
    yield s


@pytest.fixture(scope="session", autouse=True)
def _socket_race_guard():
    """Retry driver-side result fetches ONCE on the known Python-runner
    socket teardown race.

    After ~1,300 stages on a single shared local session, ``collectToPython``
    can fail with ``java.nio.channels.CancelledKeyException`` raised in the
    JVM's socket selector while tearing down a reused Python worker — an
    infrastructure race, not a wrong answer (the identical call passes in
    isolation).  This guard retries exactly once and ONLY when that specific
    JVM exception is present; assertion failures and real errors propagate
    unchanged.  It is test-infra only (conftest), never library code.
    """
    from pyspark.sql import DataFrame

    def _wrap(orig):
        def call(self, *args, **kwargs):
            try:
                return orig(self, *args, **kwargs)
            except Exception as exc:  # noqa: BLE001 - filtered below
                if "CancelledKeyException" not in str(exc):
                    raise
                return orig(self, *args, **kwargs)

        return call

    originals = {name: getattr(DataFrame, name) for name in ("collect", "toPandas", "count")}
    for name, orig in originals.items():
        setattr(DataFrame, name, _wrap(orig))
    yield
    for name, orig in originals.items():
        setattr(DataFrame, name, orig)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL

"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares them with
``perfbench.check.diff``: rows rendered as canonical strings (columns
sorted by name, rows sorted), exact, with no float tolerance, so a
``Decimal`` against a float or a last-digit difference fails here as it
does under an exact value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

An argument that is neither the data directory nor a registered query
name ends the run with status 2 before Spark starts.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from instructions_mr_spark.session import get_spark
from instructions_mr_spark.sources.tables import TABLE_NAMES
from perfbench.check import diff


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table present in ``sf_dir``.
    DuckDB binds ``read_parquet`` at ``CREATE VIEW``, so a missing table
    gets no view: an oracle that reads it fails, the others run."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        if os.path.isdir(path):  # Spark-written table = directory of parts
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def arg_error(args: list[str], names) -> str | None:
    """The first argument a sweep could not check, described, or None.
    A leading directory is the data; any other argument with a path
    separator is a directory that does not exist, and every remaining
    one must be a registered query name, so that a typo cannot turn
    the run into a sweep of nothing that prints ``FAILURES: 0``."""
    for i, a in enumerate(args):
        if i == 0 and os.path.isdir(a):
            continue
        if os.sep in a:
            return f"not a directory: {a}"
        if a not in names:
            return f"no such query: {a}"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) if len(sys.argv) > 2 else (
        set(sys.argv[1:]) if len(sys.argv) > 1 and not os.path.isdir(sys.argv[1]) else None
    )
    from instructions_mr_spark import registry

    registry.load_all()
    problem = arg_error(sys.argv[1:], registry.QUERIES)
    if problem:
        print(f"check_oracle: {problem}", file=sys.stderr)
        return 2
    # the console progress bar redraws its stderr line with \r, which
    # hides result lines in a combined stdout+stderr log
    spark = get_spark(
        "check_oracle", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duck_con(sf_dir)
    n_fail = 0
    from instructions_mr_spark.queries._util import free_staged_checkpoints

    for name, fn in registry.QUERIES.items():
        if only and name not in only:
            continue
        # previous query's result is fully consumed (toPandas) — release
        # its staged localCheckpoints so a full sweep doesn't pin one
        # block set per staged table for the whole session (r6 advice)
        free_staged_checkpoints()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in registry.ORACLES:
            print(f"skip  {name}: no oracle (rows-only) — {len(sdf)} rows  [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.sql(registry.ORACLES[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0]}")
            n_fail += 1
            continue
        problem = diff(sdf, ddf)
        if problem:
            print(f"FAIL  {name}: [{time.time()-t0:.1f}s]\n      {problem}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(sdf)} rows  [{time.time()-t0:.1f}s]")
    print("FAILURES:", n_fail)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Fixed-overhead decomposition for the headline queries whose
8->32-core scaling ratio is ~1 (VERDICT r12 "Next round" #3):
join_inner_eq, join_broadcast, q1_pricing_summary, q9_product_profit,
q21_waiting_supplier.

For each query, times separately (guide SS1.1 empirical loop):
  (a) builder construction      fn(spark, sf_dir)   [includes t() reads]
  (b) bare load_table calls     spark.read.parquet per input table
  (c) physical planning         df._jdf.queryExecution().executedPlan()
  (d) execution                 noop sink on the pre-planned df
  (e) end-to-end                fresh build + noop (the bench's number)

Prints a table; run on an idle box.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from instructions_mr_spark import registry
from instructions_mr_spark.queries._util import free_staged_checkpoints
from instructions_mr_spark.session import get_spark

QUERIES = {
    "join_inner_eq": ["lineitem", "orders"],
    "join_broadcast": ["lineitem", "supplier", "nation", "region"],
    "q1_pricing_summary": ["lineitem"],
    "q9_product_profit": ["lineitem", "orders", "part", "supplier", "nation"],
    "q21_waiting_supplier": ["lineitem", "orders", "supplier", "nation"],
}


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    spark = get_spark("profile-overhead-r13")
    registry.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001").collect()

    for rep in range(3):
        print(f"--- rep {rep} ---")
        for name, tables in QUERIES.items():
            fn = registry.QUERIES[name]

            t0 = time.time()
            for tbl in tables:
                spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet"))
            t_read = time.time() - t0

            t0 = time.time()
            df = fn(spark, sf_dir)
            t_build = time.time() - t0

            t0 = time.time()
            df._jdf.queryExecution().executedPlan()
            t_plan = time.time() - t0

            t0 = time.time()
            noop(df)
            t_exec = time.time() - t0
            free_staged_checkpoints()

            t0 = time.time()
            noop(fn(spark, sf_dir))
            t_e2e = time.time() - t0
            free_staged_checkpoints()

            print(
                f"  {name:22s} reads={t_read:6.3f} build={t_build:6.3f} "
                f"plan={t_plan:6.3f} exec(preplanned)={t_exec:6.3f} "
                f"e2e={t_e2e:6.3f}"
            )


if __name__ == "__main__":
    main()

"""Mechanical no-unbounded-broadcast plan guard — registry-wide sweep.

The certification rules live in instructions_mr_spark/plans/guard.py;
this module sweeps every registered query's final optimized plan with
them and keeps the standalone CLI:

    python tools/broadcast_guard.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

if __package__ in (None, ""):  # ran as a script: repo root onto sys.path
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )

# Queries that execute work at plan-build time (iterative algorithms) —
# the sweep skips them to stay fast; the graph loops' per-round
# checkpoints are certified by certified_local_checkpoint as they are
# built.
SKIP = {
    "dedup_cluster_cc", "dedup_cluster_cc_star", "sim_search_ivf_kmeans",
    "graph_pagerank",
}


def sweep(spark, sf_dir: str) -> list[tuple[str, list[str]]]:
    """``(query, offenders)`` for every registered query outside SKIP
    whose final plan carries an unbounded broadcast hint; a plan
    failure is reported as an offender, not hidden."""
    from instructions_mr_spark import registry
    from instructions_mr_spark.plans.guard import hinted_offenders, optimized_plan

    registry.load_all()
    offenders = []
    for name, fn in sorted(registry.QUERIES.items()):
        if name in SKIP:
            continue
        try:
            hits = hinted_offenders(optimized_plan(fn(spark, sf_dir)))
        except Exception as exc:
            hits = [f"PLAN ERROR: {exc}"]
        if hits:
            offenders.append((name, hits))
    return offenders


if __name__ == "__main__":
    from instructions_mr_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
    )
    bad = sweep(get_spark(), sf)
    for name, hits in bad:
        print(f"{name}:")
        for h in hits:
            print(f"  {h}")
    print(f"OFFENDERS: {len(bad)}")
    sys.exit(1 if bad else 0)

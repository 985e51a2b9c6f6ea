"""Connected components (operators/graph.py), near-dup clustering,
hypertable rollup, and tolerance as-of (queries/graph.py)."""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import functions as F

from instructions_mr_spark import registry
from instructions_mr_spark.operators.graph import connected_components


def test_cc_chain_and_isolated_pair(spark):
    """Transitivity: a chain 1-2-3-4 is ONE component even though 1
    and 4 share no edge; a disjoint pair 10-11 stays separate."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_cc_orientation_invariance(spark):
    """Edges are undirected: reversing every edge changes nothing."""
    fwd = spark.createDataFrame([(5, 1), (1, 9), (7, 2)], ["src", "dst"])
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    a = sorted((r.node, r.component) for r in connected_components(fwd).collect())
    b = sorted((r.node, r.component) for r in connected_components(rev).collect())
    assert a == b
    # component label is the min node id
    assert dict(a)[9] == 1 and dict(a)[7] == 2


def test_cc_raises_on_exhausted_iterations(spark):
    """A path graph of diameter > max_iter cannot converge — the
    operator must raise rather than return silently-split components
    (ADVICE r01)."""
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3)
    # and with enough rounds the same graph is one component
    out = connected_components(edges, max_iter=30)
    assert {r.component for r in out.collect()} == {0}


def test_dedup_cluster_consistent_with_pairs(spark, sf_dir):
    """Every LSH near-dup pair must land in the same cluster, and
    every cluster id must be the min doc_id of its members."""
    pairs = registry.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    clusters = registry.QUERIES["dedup_cluster_cc"](spark, sf_dir)
    lab = {r.doc_id: r.cluster_id for r in clusters.collect()}
    for r in pairs.collect():
        assert lab[r.doc_a] == lab[r.doc_b]
    by_cluster: dict[int, list[int]] = {}
    for doc, c in lab.items():
        by_cluster.setdefault(c, []).append(doc)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_asof_tolerance_nulls_stale_matches(spark, sf_dir):
    """Matches older than 9000 days are nulled; fresh ones survive
    and equal the un-toleranced as-of output."""
    tol = registry.QUERIES["join_asof_tolerance"](spark, sf_dir)
    plain = registry.QUERIES["join_asof"](spark, sf_dir)
    t_rows = {r.event_id: r for r in tol.collect()}
    stale = fresh = 0
    for p in plain.collect():
        tr = t_rows[p.event_id]
        if p.o_orderdate is None:
            assert tr.o_orderkey is None
        elif p.ts - p.o_orderdate > timedelta(days=9000):
            assert tr.o_orderkey is None and tr.o_orderdate is None
            stale += 1
        else:
            assert tr.o_orderkey == p.o_orderkey
            fresh += 1
    assert stale > 0 and fresh > 0  # both branches exercised


def test_rollup_hierarchy_reconciles(spark, sf_dir):
    """Day subtotals must equal the sum of their hour leaves, and the
    grand total the sum of the days (one-pass GROUPING SETS)."""
    rows = registry.QUERIES["rollup_time_hierarchy"](spark, sf_dir).collect()
    leaves = [r for r in rows if r.gid == 0]
    days = [r for r in rows if r.gid == 1]
    total = [r for r in rows if r.gid == 3]
    assert len(total) == 1
    assert total[0].n == sum(r.n for r in leaves) == sum(r.n for r in days)
    by_day: dict = {}
    for r in leaves:
        by_day[r.day_bucket] = by_day.get(r.day_bucket, 0) + r.n
    for d in days:
        assert by_day[d.day_bucket] == d.n


def test_q21_plan_two_lineitem_scans(spark, sf_dir):
    """The sole-late-supplier query must not re-derive the late set
    (window formulation): exactly 2 lineitem scans in the plan."""
    df = registry.QUERIES["q21_waiting_supplier"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 2


def test_q9_dimensions_broadcast(spark, sf_dir):
    """Q9's supplier/nation/part joins must broadcast — lineitem may
    not shuffle before reaching the orders join."""
    df = registry.QUERIES["q9_product_profit"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "StringContains(p_name,gear)" in plan  # LIKE pushed to scan


def test_cc_matches_union_find_on_random_graphs(spark):
    """Property check against an independent algorithm: on random
    graphs, label propagation must produce exactly the components a
    driver-side union-find computes."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n_nodes = rng.randint(5, 40)
        n_edges = rng.randint(3, 60)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {a for e in edges for a in e}
        want = {}
        for v in touched:
            root = find(v)
            comp_min = min(u for u in touched if find(u) == root)
            want[v] = comp_min

        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r.node: r.component for r in connected_components(df).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


def test_cc_star_matches_label_propagation(spark):
    """Large-star/small-star CC (O(log n) rounds) must produce exactly
    the same (node, min-id component) labeling as label propagation on
    random graphs, self-loops included."""
    import random

    from instructions_mr_spark.operators.graph import connected_components_star

    rng = random.Random(23)
    for trial in range(3):
        n_nodes = rng.randint(5, 50)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(rng.randint(3, 70))
        ] + [(n_nodes + 1, n_nodes + 1)]  # self-loop-only node survives
        df = spark.createDataFrame(edges, ["src", "dst"])
        a = {
            (r.node, r.component)
            for r in connected_components(df, max_iter=100).collect()
        }
        b = {
            (r.node, r.component)
            for r in connected_components_star(df).collect()
        }
        assert a == b, f"trial {trial}"


def test_cc_star_long_chain_few_rounds(spark):
    """A diameter-200 path (label propagation would need ~200 rounds)
    must converge within star's 25-round budget to ONE component."""
    from instructions_mr_spark.operators.graph import connected_components_star

    chain = spark.createDataFrame([(i, i + 1) for i in range(200)], ["src", "dst"])
    out = connected_components_star(chain)
    assert {r.component for r in out.collect()} == {0}


def test_pagerank_star_graph(spark):
    """Star graph (hub 0 <-> spokes 1..4, undirected): the hub must
    outrank every spoke, spokes must tie, and ranks must sum to 1
    (undirected graphs have no dangling mass loss)."""
    from instructions_mr_spark.operators.graph import pagerank

    spokes = [1, 2, 3, 4]
    edges = spark.createDataFrame(
        [(0, s) for s in spokes] + [(s, 0) for s in spokes], "src int, dst int"
    )
    got = {r.id: r.rank for r in pagerank(edges, iterations=10).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(abs(got[s] - got[1]) < 1e-12 for s in spokes)
    assert got[0] > got[1] * 2


def test_pagerank_matches_numpy_power_iteration(spark):
    """Exact parity with a dense numpy power iteration on a fixed
    directed graph, including a dangling node (3 has no out-edges:
    its mass leaks, matching the operator's documented variant)."""
    import numpy as np

    from instructions_mr_spark.operators.graph import pagerank

    # node 3 is dst-only (no out-edges): a genuine dangling sink
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 3)]
    n, d, iters = 4, 0.85, 7
    # column-stochastic transition on out-degrees; dangling column 0
    M = np.zeros((n, n))
    out = np.zeros(n)
    for s, t_ in edge_list:
        out[s] += 1
    for s, t_ in edge_list:
        M[t_, s] = 1.0 / out[s]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (M @ r)
    edges = spark.createDataFrame(edge_list, "src int, dst int")
    got = {row.id: row.rank for row in pagerank(edges, iterations=iters).collect()}
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])


def test_pagerank_quantized_partition_invariance(spark):
    """quantize_decimals mode must be BIT-identical under different
    input partitionings (the order-free-aggregation contract the
    graph_pagerank oracle depends on), and within 1e-q of the
    unquantized ranks."""
    from instructions_mr_spark.operators.graph import pagerank

    edge_list = [(i, (i * 7) % 50) for i in range(200)] + [
        ((i * 3) % 50, i) for i in range(0, 200, 2)
    ]
    edges = spark.createDataFrame(edge_list, "src int, dst int")
    a = {
        r.id: r.rank
        for r in pagerank(edges, iterations=5, quantize_decimals=12).collect()
    }
    b = {
        r.id: r.rank
        for r in pagerank(
            edges.repartition(7, "dst"), iterations=5, quantize_decimals=12
        ).collect()
    }
    assert a == b  # exact float equality, not approx
    full = {r.id: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert all(abs(a[i] - full[i]) < 1e-9 for i in full)


def test_free_staged_checkpoints_releases_and_counts(spark):
    """Staged checkpoints recorded via supersede_checkpoint are
    released (and the registry emptied) by free_staged_checkpoints."""
    from instructions_mr_spark.queries._util import (
        _STAGED_CKPTS,
        free_staged_checkpoints,
        supersede_checkpoint,
    )

    free_staged_checkpoints()  # clean slate
    df = supersede_checkpoint(
        "test_site", spark.range(100).localCheckpoint()
    )
    assert df.count() == 100
    assert len(_STAGED_CKPTS) == 1
    assert free_staged_checkpoints() == 1
    assert len(_STAGED_CKPTS) == 0
    assert free_staged_checkpoints() == 0

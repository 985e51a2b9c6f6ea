"""Graph / time-hierarchy extensions of the training-pipeline surface:

* ``dedup_cluster_cc`` — connected components over the MinHash-LSH
  near-dup graph (label propagation), turning pairwise near-dups into
  dedup *clusters* with a canonical (min) doc id.  DuckDB's recursive
  CTE is the oracle — a rare case where an iterative Spark algorithm
  still has an exact SQL twin.
* ``rollup_time_hierarchy`` — hypertable-style day→hour rollup over
  ``events`` (continuous-aggregate shape).
* ``join_asof_tolerance`` — backward as-of join that nulls out
  matches older than a tolerance window (pandas ``merge_asof``
  tolerance semantics, DuckDB ASOF + CASE as oracle).

The reference has no joins, aggregations, or graph ops at all
(SURVEY.md §2.6, verified absence) — these are EXT-mandate operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Imported for the side effect of registering dedup_minhash_lsh's
# oracle before we compose it into the recursive-CTE oracle below.
import instructions_mr_spark.queries.llm_pipeline as _llm  # noqa: F401
from instructions_mr_spark.functions import round_half
from instructions_mr_spark.operators.asof import asof_join
from instructions_mr_spark.operators.graph import connected_components
from instructions_mr_spark.queries._util import DEC_VALUE, sum_d, t
from instructions_mr_spark.registry import ORACLES, query

_LSH_PAIRS_SQL = ORACLES["dedup_minhash_lsh"]


@query(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, root) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(root) AS cluster_id
    FROM reach GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components of the LSH pair graph
    (operators/graph.py has the label-propagation algorithm and its
    scale analysis).  cluster_id = min doc_id of the component — the
    canonical survivor a dedup pass would keep."""
    pairs = _llm.dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return (
        connected_components(pairs, src="doc_a", dst="doc_b")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_cluster_cc_star",
    oracle=ORACLES["dedup_cluster_cc"],
)
def dedup_cluster_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as dedup_cluster_cc, computed by the
    large-star/small-star algorithm (operators/graph.py
    connected_components_star) — O(log n) rounds independent of
    component diameter, the scale-right choice when dup chains run
    long.  Shares the label-propagation oracle: both must produce the
    identical min-id labeling."""
    from instructions_mr_spark.operators.graph import connected_components_star

    pairs = _llm.dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return (
        connected_components_star(pairs, src="doc_a", dst="doc_b")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_dedup_survivors",
    oracle=f"""
    WITH clusters AS (
      SELECT * FROM ({ORACLES["dedup_cluster_cc"]})
    ),
    exact AS (
      SELECT doc_id, source,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_rep
      FROM documents
    ),
    flags AS (
      SELECT e.source,
             e.doc_id <> e.exact_rep AS exact_drop,
             (c.doc_id IS NOT NULL AND c.cluster_id <> e.doc_id) AS near_drop
      FROM exact e LEFT JOIN clusters c ON c.doc_id = e.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN exact_drop THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dropped,
           CAST(SUM(CASE WHEN NOT exact_drop AND near_drop THEN 1 ELSE 0 END)
                AS BIGINT) AS n_neardup_dropped,
           CAST(SUM(CASE WHEN NOT exact_drop AND NOT near_drop THEN 1 ELSE 0 END)
                AS BIGINT) AS n_survivors
    FROM flags GROUP BY source
    """,
)
def corpus_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pass, the curation centerpiece composed from
    the stack's own pieces: exact dedup (keep min doc_id per md5) +
    MinHash-LSH near-dup clustering (keep the cluster's min doc_id),
    reported as per-source survivor/drop counts — the summary a 100 TB
    curation run logs per segment.

    A doc survives iff it is its exact-group representative AND (it is
    not in the near-dup graph OR it is its cluster's canonical id).
    Exact dups that also collide in LSH (jaccard 1.0) are counted once,
    as exact drops — the near-dup count is exclusively fuzzy-only
    drops.  Scale shape: the LSH/CC subplan is dedup_cluster_cc's; the
    exact-rep window shuffles (digest, doc_id) only, never text."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr("MD5(CAST(text AS BINARY))").alias("text_md5")
    )
    from pyspark.sql import Window as W

    exact = docs.withColumn(
        "exact_rep", F.min("doc_id").over(W.partitionBy("text_md5"))
    )
    pairs = _llm.dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    clusters = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    flags = exact.join(clusters, "doc_id", "left").select(
        "source",
        (F.col("doc_id") != F.col("exact_rep")).alias("exact_drop"),
        (
            F.col("cluster_id").isNotNull()
            & (F.col("cluster_id") != F.col("doc_id"))
        ).alias("near_drop"),
    )
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("exact_drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_dropped"),
        F.sum(F.when(~F.col("exact_drop") & F.col("near_drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_neardup_dropped"),
        F.sum(F.when(~F.col("exact_drop") & ~F.col("near_drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_survivors"),
    )


@query(
    "rollup_time_hierarchy",
    oracle=f"""
    SELECT d AS day_bucket, h AS hour_bucket, GROUPING(d, h) AS gid,
           COUNT(*) AS n, {sum_d(DEC_VALUE, 'total_value')}
    FROM (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                 CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                 value
          FROM events)
    GROUP BY ROLLUP(d, h)
    """,
)
def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly leaf
    buckets plus day subtotals plus a grand total in ONE pass
    (GROUPING SETS expansion), instead of three separate scans.  At
    100 TB the expansion happens after map-side partial aggregation on
    the leaf grain, so the shuffle carries hour-level partials only.
    """
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            F.date_trunc("day", "ts").alias("day_bucket"),
            F.date_trunc("hour", "ts").alias("hour_bucket"),
            "value",
        )
        .rollup("day_bucket", "hour_bucket")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.expr(sum_d(DEC_VALUE, "total_value")),
        )
    )


@query(
    "join_asof_tolerance",
    oracle="""
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           CASE WHEN o.o_orderdate >= e.ts - INTERVAL 9000 DAY
                THEN o.o_orderkey END AS o_orderkey,
           CASE WHEN o.o_orderdate >= e.ts - INTERVAL 9000 DAY
                THEN CAST(o.o_orderdate AS TIMESTAMP) END AS o_orderdate
    FROM events e
    ASOF LEFT JOIN (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ) o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a 9000-day tolerance, chosen to split the
    data's 22-29-year event-to-order gaps into both kept and nulled
    matches: a match older than the window is nulled (pandas
    merge_asof ``tolerance`` semantics).
    Same single-shuffle union+window plan as join_asof — tolerance is
    a post-projection, NOT a join-condition change, so the operator's
    cost is identical."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )
    joined = asof_join(
        e, o, on_time_left="ts", on_time_right="o_orderdate",
        by_left=["user_id"], by_right=["o_custkey"], how="left",
    )
    within = F.col("o_orderdate") >= F.col("ts") - F.expr("INTERVAL 9000 DAY")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("o_orderkey")).alias("o_orderkey"),
        F.when(within, F.col("o_orderdate").cast("timestamp")).alias("o_orderdate"),
    )


_PR_ITER = 5
_PR_DAMPING = 0.85
# Order-free contract (r6, was a 4-decimal accepted-drift one): both
# engines round every per-edge contribution and per-round rank to
# _PR_Q decimals and sum them as DECIMAL(38,_PR_Q) — an exact
# aggregation no partitioning or engine can reorder into a different
# value.  The quantized iteration IS the contract, and the final
# rank_scaled is emitted UNROUNDED (exact-decimal rank -> double * n,
# bit-identical on both engines): a final ROUND would hit exact
# half-quantum ties that the two engines' double-rounding paths break
# differently.  Residual cross-engine risk is only a mid-iteration
# double landing within ~1 ulp of a half-quantum boundary (~1e-7 per
# term, deterministic for fixed data — verified at sf0.01 and sf1).
_PR_Q = 12


def _dlit(x: float) -> str:
    """Render a Python double as a DuckDB DOUBLE literal.  e-notation
    parses directly as DOUBLE (one string->double rounding, exact
    round-trip); a plain decimal literal would parse as DECIMAL and
    the decimal->double conversion can double-round off by an ulp."""
    return f"{x:.17e}"


def _pagerank_oracle(iterations: int, damping: float = _PR_DAMPING) -> str:
    """Unrolled power iteration as plain CTE stages — exact SQL twin
    of operators/graph.py:pagerank(quantize_decimals=_PR_Q) for a
    fixed iteration count (no recursive-CTE aggregation, which engines
    restrict).  ``damping`` must match the Spark call; both terms
    derive from the one value.  Rank is carried as an integer count of
    1e-_PR_Q units (FLOOR-scaled, summed as DECIMAL(38,0)) so every
    step is one IEEE double op + FLOOR — no ROUND tie semantics, no
    aggregation-order sensitivity, bit-identical to the Spark side."""
    pow10 = float(10**_PR_Q)
    base_units = (1.0 - damping) * pow10
    stages = []
    prev = "pr0"
    for k in range(1, iterations + 1):
        stages.append(f"""
    pr{k} AS (
      SELECT nd.id,
             CAST(FLOOR(
               CAST({_dlit(base_units)} AS DOUBLE) / nn.cnt
               + CAST({_dlit(damping)} AS DOUBLE)
                 * COALESCE(CAST(s.acc AS DOUBLE), 0)
             ) AS DECIMAL(38,0)) AS rank
      FROM nodes nd CROSS JOIN n nn
      LEFT JOIN (
        SELECT e.dst AS id,
               SUM(CAST(FLOOR(CAST(p.rank AS DOUBLE) / dg.d)
                   AS DECIMAL(38,0))) AS acc
        FROM edges e
        JOIN {prev} p ON p.id = e.src
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst
      ) s ON s.id = nd.id
    )""")
        prev = f"pr{k}"
    return f"""
    WITH
    base AS (SELECT DISTINCT l_partkey AS p, 1000000000 + l_suppkey AS s
             FROM lineitem),
    edges AS (SELECT p AS src, s AS dst FROM base
              UNION ALL SELECT s AS src, p AS dst FROM base),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    n AS (SELECT COUNT(*) AS cnt FROM nodes),
    pr0 AS (SELECT nd.id,
                   CAST(FLOOR(CAST({_dlit(pow10)} AS DOUBLE) / nn.cnt)
                        AS DECIMAL(38,0)) AS rank
            FROM nodes nd CROSS JOIN n nn),
    {",".join(stages)}
    SELECT p.id,
           (CAST(p.rank AS DOUBLE) / CAST({_dlit(pow10)} AS DOUBLE)) * nn.cnt
             AS rank_scaled
    FROM {prev} p CROSS JOIN n nn
    """


@query("graph_pagerank", oracle=_pagerank_oracle(_PR_ITER))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the bipartite part<->supplier supply
    graph from lineitem (undirected: both edge directions), 5 power
    iterations at damping 0.85 — the graph-centrality shape a curation
    pipeline uses for source/domain authority weighting.  Supplier
    node ids are offset by 1e9 to disjoin the two key spaces.
    rank_scaled = rank * N (so a uniform graph scores ~1.0).

    Oracle: the identical power iteration unrolled into 5 CTE stages
    (see _pagerank_oracle) — iterative Spark op, exact SQL twin."""
    from instructions_mr_spark.operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"),
        (F.lit(1_000_000_000) + F.col("l_suppkey")).alias("s"),
    ).distinct()
    edges = li.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionByName(
        li.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    ranks = pagerank(
        edges, iterations=_PR_ITER, damping=_PR_DAMPING, quantize_decimals=_PR_Q
    )
    n = ranks.count()
    return ranks.select(
        "id",
        (F.col("rank").cast("double") * F.lit(n)).alias("rank_scaled"),
    )


@query(
    "cluster_rep_best",
    oracle=f"""
    WITH clusters AS (
      SELECT * FROM ({ORACLES["dedup_cluster_cc"]})
    )
    SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars,
           n_members
    FROM (
      SELECT c.cluster_id, c.doc_id, d.n_chars,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn
      FROM clusters c JOIN documents d USING (doc_id)
    ) WHERE rn = 1
    """,
)
def cluster_rep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative election: for each near-dup cluster
    keep the LONGEST member (ties -> min doc_id) instead of the min-id
    canonical — the "keep the best copy" policy real curation runs use
    (a truncated scrape fragment should lose to the full page it
    duplicates).  Swap n_chars for any quality score column and the
    plan is unchanged.

    Scale shape: the cluster table (id pairs only, never text) joins
    doc metadata on doc_id, then ONE cluster_id-keyed window does both
    the member count and the argmax election — a single exchange on
    cluster_id beyond the clustering itself."""
    from pyspark.sql import Window as W

    clusters = dedup_cluster_cc(spark, sf_dir)
    meta = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = W.partitionBy("cluster_id")
    ranked = (
        clusters.join(meta, "doc_id")
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
            ),
        )
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("rep_doc_id"),
        F.col("n_chars").alias("rep_n_chars"),
        "n_members",
    )


# ------------------------------------------------- triangle counting


def _copurchase_base(spark: SparkSession, sf_dir: str):
    """Shared co-purchase graph base: the staged edge set and its
    degree table.  Returns (edges, deg).

    Split out of _copurchase_oriented (round 12, optimization session
    5): five consumers (link prediction, degree assortativity, HITS,
    Bellman-Ford, resource allocation) discarded the oriented-edge
    table but still paid its build AND its eager localCheckpoint —
    two joins, the certification pass and a checkpoint job of a table
    they never read (~0.7-1.0 s of pure fixed overhead per query at
    sf0.1).  Only the wedge-closing queries (triangle count,
    clustering coefficient) go through _copurchase_oriented now."""
    from instructions_mr_spark.queries.analytics import copurchase_edges

    # session-shared staged edge set (r10): degrees and the consumers'
    # own joins plus the HITS / conductance / CCDF queries all read
    # the ONE staged support-counted table
    e = copurchase_edges(spark, sf_dir).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return e, deg


def _copurchase_oriented(spark: SparkSession, sf_dir: str):
    """Shared triangle-machinery build: the co-purchase edge set, its
    degree table, and the degree-ordered oriented edges — staged once
    each (localCheckpoint) because degrees, wedge sides, and closing
    builds are all multi-consumers.  Returns (edges, deg, oriented).
    Consumers that do not read ``oriented`` use _copurchase_base."""
    from instructions_mr_spark.queries._util import supersede_checkpoint

    e, deg = _copurchase_base(spark, sf_dir)
    # total-order key: degree-major, id-minor, packed into one BIGINT.
    # Packing bound (r7 advice): valid only while vertex ids < 1e12 and
    # degrees < ~9.2e6 (BIGINT headroom) — partkeys and basket-bounded
    # degrees sit orders of magnitude below both at any sf; violating
    # either collides keys / overflows silently, so swap to a struct
    # sort key (d, v) if ids ever leave that envelope
    k = (F.col("d") * F.lit(10**12) + F.col("v")).alias("k")
    kv = deg.select("v", k)
    ka = kv.select(F.col("v").alias("a"), F.col("k").alias("ka"))
    kb = kv.select(F.col("v").alias("b"), F.col("k").alias("kb"))
    keyed = e.join(ka, "a").join(kb, "b")
    oriented_plan = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
    )
    # staged: wedge sides o1/o2 and the closing build side are three
    # consumers of the same oriented-edge table
    oriented = supersede_checkpoint(
        "triangle_oriented", oriented_plan
    )
    return e, deg, oriented


@query(
    "graph_triangle_count",
    oracle="""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY 1
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM e ab JOIN e bc ON ab.b = bc.a
                JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT)
             AS n_wedges,
           CAST((3 * (SELECT t FROM tri) * 1000000)
                // (SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT)
             AS clustering_e6
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the
    co-purchase graph (parts sharing >= 2 orders, the
    copurchase_pairs edge set).  Spark runs the degree-ordered
    node-iterator++ algorithm (Suri & Vassilvitskii 2011's MapReduce
    formulation): orient every edge from its lower-(degree, id)
    endpoint to its higher one, join out-edges on the shared source
    to enumerate wedges, and semi-join the closing edge.  Orientation
    bounds every vertex's out-degree by O(sqrt(m)) regardless of raw
    degree, so hub vertices never explode the wedge join — THE
    difference between this and the naive triple-join at scale.  The
    oracle is the naive id-ordered triple join (each triangle
    x<y<z matched exactly once), which the orientation-invariant
    count must equal.

    Scale shape: degrees are one aggregate; orientation packs
    (degree, id) into a single BIGINT sort key carried on the edge
    row, so wedge generation joins on the bare source key; the
    closing semi-join keys on the (dst1, dst2) pair.  All rows are
    integer pairs/triples — no strings, no arrays on the shuffle."""
    e, deg, oriented = _copurchase_oriented(spark, sf_dir)
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.kdst") < F.col("o2.kdst")),
    ).select(F.col("o1.dst").alias("w_a"), F.col("o2.dst").alias("w_b"))
    # k(w_a) < k(w_b) by construction, so the closing edge (if present)
    # is oriented w_a -> w_b — one direction suffices in the build side
    closing = oriented.select(
        F.col("src").alias("w_a"), F.col("dst").alias("w_b")
    )
    tri = wedges.join(closing, ["w_a", "w_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("t")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_vertices",
            "n_edges",
            F.col("t").alias("n_triangles"),
            "n_wedges",
            F.expr(
                "CAST((3 * t * CAST(1000000 AS BIGINT)) div n_wedges AS BIGINT)"
            ).alias("clustering_e6"),
        )
    )


@query(
    "graph_clustering_coeff",
    oracle="""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY 1
    ),
    tris AS (
      SELECT ab.a AS x, ab.b AS y, bc.b AS z
      FROM e ab JOIN e bc ON ab.b = bc.a
                JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    tcount AS (
      SELECT v, COUNT(*) AS n_tri
      FROM (SELECT unnest([x, y, z]) AS v FROM tris)
      GROUP BY 1
    )
    SELECT d.v, CAST(d.d AS BIGINT) AS deg,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
           CAST((2 * COALESCE(t.n_tri, 0) * 1000000)
                // (d.d * (d.d - 1)) AS BIGINT) AS lcc_e6
    FROM deg d LEFT JOIN tcount t ON t.v = d.v
    WHERE d.d >= 2
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the co-purchase
    graph: lcc(v) = 2 * triangles(v) / (deg(v) * (deg(v)-1)) for
    deg >= 2, emitted as lcc_e6 integer units under one truncating
    division (never a rounded double final).  The community-density
    signal recommendation and fraud pipelines compute next to the
    global triangle count.

    Spark enumerates each triangle exactly once via the same
    degree-ordered orientation as graph_triangle_count (wedge join on
    the shared source + closing semi... except the closing edge must
    be an INNER join here, not a semi, because the wedge row keeps its
    src vertex), then explodes the 3 vertices per triangle and counts
    per node.  The oracle is the naive id-ordered triple join.

    Scale shape: identical to graph_triangle_count — out-degree
    bounded O(sqrt(m)) by orientation, integer pairs/triples on every
    exchange; the per-vertex rollup adds one (v)-keyed aggregate of
    3x#triangles rows."""
    e, deg, oriented = _copurchase_oriented(spark, sf_dir)
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.kdst") < F.col("o2.kdst")),
    ).select(
        F.col("o1.src").alias("w_s"),
        F.col("o1.dst").alias("w_a"),
        F.col("o2.dst").alias("w_b"),
    )
    closing = oriented.select(F.col("src").alias("w_a"), F.col("dst").alias("w_b"))
    tri3 = wedges.join(closing, ["w_a", "w_b"], "left_semi")
    pertri = tri3.select(
        F.explode(F.array(F.col("w_s"), F.col("w_a"), F.col("w_b"))).alias("v")
    )
    tcount = pertri.groupBy("v").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tcount, "v", "left")
        .selectExpr(
            "v",
            "CAST(d AS BIGINT) AS deg",
            "CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri",
            "CAST((2 * COALESCE(n_tri, 0) * CAST(1000000 AS BIGINT))"
            " div (d * (d - 1)) AS BIGINT) AS lcc_e6",
        )
    )


@query(
    "dedup_cluster_size_hist",
    oracle=f"""
    WITH clusters AS ({ORACLES["dedup_cluster_cc"]}),
    sz AS (
      SELECT cluster_id, COUNT(*) AS size
      FROM clusters GROUP BY cluster_id
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs,
           CAST(SUM(size - 1) AS BIGINT) AS n_removable
    FROM sz GROUP BY size ORDER BY size
    """,
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster size distribution — the dedup diagnostic read
    before committing a keep-one-per-cluster pass: how many clusters
    of each size, how many docs they hold, and how many docs a
    canonical-survivor policy would remove (size - 1 per cluster).  A
    heavy tail here (one giant component) usually means the LSH
    threshold is too loose or boilerplate needs stripping BEFORE
    dedup — this is the query that catches it.

    Scale shape: the LSH/CC subplan is dedup_cluster_cc's; the size
    rollup keys on cluster_id (one narrow exchange of (doc, cluster)
    pairs) and the histogram on the tiny size domain."""
    pairs = _llm.dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    clusters = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    sz = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return (
        sz.groupBy("size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("size").cast("bigint").alias("n_docs"),
            F.sum(F.col("size") - 1).cast("bigint").alias("n_removable"),
        )
        .orderBy("size")
    )


@query(
    "dedup_quality_bias",
    oracle=f"""
    WITH clusters AS ({ORACLES["dedup_cluster_cc"]}),
    exact AS (
      SELECT doc_id, LEAST(n_chars // 100, 5) AS len_bucket,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_rep
      FROM documents
    ),
    flags AS (
      SELECT e.len_bucket,
             e.doc_id <> e.exact_rep AS exact_drop,
             (c.doc_id IS NOT NULL AND c.cluster_id <> e.doc_id) AS near_drop
      FROM exact e LEFT JOIN clusters c ON c.doc_id = e.doc_id
    )
    SELECT len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT exact_drop AND NOT near_drop THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN exact_drop THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_exact,
           CAST(SUM(CASE WHEN NOT exact_drop AND near_drop THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped_near
    FROM flags GROUP BY len_bucket
    """,
)
def dedup_quality_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship bias audit: the corpus_dedup_survivors
    accounting re-keyed by document LENGTH BUCKET instead of source —
    the check that a dedup pass isn't preferentially deleting long
    (usually higher-value) documents, which happens whenever
    boilerplate inflates near-dup similarity on long docs.  A keep
    rate that falls with length is the 'strip boilerplate before
    dedup' signal.

    Scale shape: identical to corpus_dedup_survivors (digest window
    shuffles digest+id only; the LSH/CC subplan is shared), with the
    tiny rollup keyed on the bounded bucket domain."""
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("LEAST(n_chars div 100, 5)").alias("len_bucket"),
        F.expr("MD5(CAST(text AS BINARY))").alias("text_md5"),
    )
    exact = docs.withColumn(
        "exact_rep", F.min("doc_id").over(W.partitionBy("text_md5"))
    )
    pairs = _llm.dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    clusters = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    flags = exact.join(clusters, "doc_id", "left").select(
        "len_bucket",
        (F.col("doc_id") != F.col("exact_rep")).alias("exact_drop"),
        (
            F.col("cluster_id").isNotNull()
            & (F.col("cluster_id") != F.col("doc_id"))
        ).alias("near_drop"),
    )
    return flags.groupBy("len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(~F.col("exact_drop") & ~F.col("near_drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("exact_drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped_exact"),
        F.sum(F.when(~F.col("exact_drop") & F.col("near_drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped_near"),
    )


@query(
    "graph_link_prediction",
    oracle="""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    adj AS (
      SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e
    ),
    deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY v),
    common AS (
      SELECT x.n AS a, y.n AS b, COUNT(*) AS n_common
      FROM adj x JOIN adj y ON x.v = y.v AND x.n < y.n
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    cand AS (
      SELECT c.a, c.b, c.n_common
      FROM common c LEFT JOIN e ON e.a = c.a AND e.b = c.b
      WHERE e.a IS NULL
    )
    SELECT c.a AS part_a, c.b AS part_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           CAST((c.n_common * 1000000) // (da.d + db.d - c.n_common)
                AS BIGINT) AS jaccard_e6
    FROM cand c
    JOIN deg da ON da.v = c.a
    JOIN deg db ON db.v = c.b
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: NON-adjacent part
    pairs scored by neighbor-set Jaccard (common neighbors over union
    of neighborhoods, >= 2 common required) — the classic
    candidate-generation heuristic behind 'customers who bought X
    also considered Y' when no direct co-purchase exists yet.
    jaccard_e6 integer units via |N(a)|+|N(b)|-common
    inclusion-exclusion; the existing-edge anti join keeps only
    genuinely novel links.

    Scale shape: common-neighbor counting is the wedge join (volume
    sum of deg^2 — at hub-heavy scale, degree-cap or orient exactly
    as graph_triangle_count does); pairs aggregate as bare integer
    ids; degrees broadcast back onto the scored pairs."""
    e, deg = _copurchase_base(spark, sf_dir)
    adj = e.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    x, y = adj.alias("x"), adj.alias("y")
    common = (
        x.join(y, (F.col("x.v") == F.col("y.v")) & (F.col("x.n") < F.col("y.n")))
        .groupBy(F.col("x.n").alias("a"), F.col("y.n").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    cand = common.join(e, ["a", "b"], "left_anti")
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .selectExpr(
            "a AS part_a",
            "b AS part_b",
            "CAST(n_common AS BIGINT) AS n_common",
            "CAST((n_common * CAST(1000000 AS BIGINT))"
            " div (da + db - n_common) AS BIGINT) AS jaccard_e6",
        )
    )


# -------------------------------------- degree assortativity terms


@query(
    "degree_assortativity_terms",
    oracle="""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(da.d + db.d) AS BIGINT) AS s_sum,
           CAST(SUM(da.d * db.d) AS BIGINT) AS s_prod,
           CAST(SUM(da.d * da.d + db.d * db.d) AS BIGINT) AS s_sq
    FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
    """,
)
def degree_assortativity_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity sufficient statistics over the
    co-purchase graph (Newman 2002's r coefficient): per-edge degree
    sums Σ(da+db), products Σ(da·db), and squares Σ(da²+db²), plus
    the edge count — exactly the four integer terms from which
    r = (4m·Σprod − S²) / (2m·Σsq − S²) follows by one driver-side
    division.  Answers 'do hub products co-occur with other hubs or
    with niche items?' — disassortative co-purchase graphs (hubs
    paired with leaves) need different partitioning strategies than
    assortative ones, so this statistic feeds the skew planner.

    Scale shape: reads the session-staged co-purchase edge set
    (_copurchase_base — only the edge table is staged; degrees are a
    cheap one-aggregate re-derivation from it); attaching degrees is
    two joins keyed on single int columns — at 100 TB the degree
    table is orders-of-magnitude smaller than the edge set and
    broadcasts.  All four moments reduce in one map-side-combinable
    aggregate; BIGINT holds Σd² up to ~10^9-edge, ~10^4-degree
    graphs."""
    e, deg = _copurchase_base(spark, sf_dir)
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    return (
        e.join(da, "a")
        .join(db, "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum(F.col("da") + F.col("db")).cast("bigint").alias("s_sum"),
            F.sum(F.col("da") * F.col("db")).cast("bigint").alias("s_prod"),
            F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db"))
            .cast("bigint")
            .alias("s_sq"),
        )
    )


# ------------------------------------------ bounded BFS hop profile

_BFS_MAX_HOPS = 4


@query(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE p AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    seed AS (SELECT MIN(a) AS v FROM e),
    walk(v, hop) AS (
      SELECT v, 0 FROM seed
      UNION
      SELECT s.b, w.hop + 1
      FROM walk w JOIN sym s ON s.a = w.v
      WHERE w.hop < {_BFS_MAX_HOPS}
    ),
    md AS (SELECT v, MIN(hop) AS hop FROM walk GROUP BY v)
    SELECT CAST(hop AS BIGINT) AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM md GROUP BY hop
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first reach profile from a deterministic seed
    (the lowest vertex id) over the co-purchase graph: how many
    vertices sit at min-hop 0, 1, ... {_BFS_MAX_HOPS} — the
    neighborhood-growth curve behind 'how local is this graph?',
    recommendation fan-out sizing, and small-world checks.  Spark
    runs {_BFS_MAX_HOPS} rounds of frontier-join + min-distance
    fold (the classic BSP/Pregel BFS as DataFrame algebra); the
    oracle is DuckDB's recursive CTE with UNION-dedup on (vertex,
    hop), whose MIN-hop regroup must agree exactly.

    Scale shape: each round is one join keyed on the frontier
    vertex id plus a min-aggregate — the same exchange key
    throughout, so AQE reuses the partitioning; the distance table
    never exceeds |V| rows and the hop bound caps the rounds
    statically (no driver-side convergence loop).  Hub explosion is
    bounded because the frontier carries bare integer ids."""
    e, _ = _copurchase_base(spark, sf_dir)
    sym = e.select("a", "b").unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    dist = e.agg(F.min("a").alias("v")).withColumn("hop", F.lit(0))
    for h in range(1, _BFS_MAX_HOPS + 1):
        frontier = dist.filter(F.col("hop") == h - 1).select("v")
        nxt = frontier.join(sym, frontier.v == sym.a).select(
            F.col("b").alias("v"), F.lit(h).alias("hop")
        )
        dist = (
            dist.unionAll(nxt).groupBy("v").agg(F.min("hop").alias("hop"))
        )
    return dist.groupBy("hop").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices")
    ).select(F.col("hop").cast("bigint").alias("hop"), "n_vertices")


graph_bfs_hops.__doc__ = (graph_bfs_hops.__doc__ or "").replace(
    "{_BFS_MAX_HOPS}", str(_BFS_MAX_HOPS)
)


# ------------------------------------ unnormalized integer HITS


@query(
    "graph_hits_unnormalized",
    oracle="""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    a1 AS (SELECT b AS v, COUNT(*) AS s FROM e GROUP BY 1),
    h1 AS (
      SELECT e.a AS v, SUM(a1.s) AS s FROM e JOIN a1 ON e.b = a1.v
      GROUP BY 1
    ),
    a2 AS (
      SELECT e.b AS v, SUM(h1.s) AS s FROM e JOIN h1 ON e.a = h1.v
      GROUP BY 1
    ),
    h2 AS (
      SELECT e.a AS v, SUM(a2.s) AS s FROM e JOIN a2 ON e.b = a2.v
      GROUP BY 1
    ),
    nodes AS (SELECT a AS v FROM e UNION SELECT b FROM e)
    SELECT n.v AS part, CAST(COALESCE(a2.s, 0) AS BIGINT) AS authority2,
           CAST(COALESCE(h2.s, 0) AS BIGINT) AS hub2
    FROM nodes n LEFT JOIN a2 ON n.v = a2.v LEFT JOIN h2 ON n.v = h2.v
    ORDER BY authority2 DESC, hub2 DESC, part LIMIT 10
    """,
)
def graph_hits_unnormalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unnormalized HITS iterations (Kleinberg hubs/authorities)
    over the co-purchase graph oriented low-id -> high-id: with
    all-ones init, every score stays a pure INTEGER (a1 = indegree,
    h1 = sum of successor indegrees, a2/h2 the next mutual
    reinforcement) — the normalization that makes textbook HITS
    float-fragile is a per-iteration scalar, so rankings are
    identical and the cross-engine check is exact.  Top-10
    authorities = the parts baskets converge ON; their hub twins =
    the parts that anchor broad baskets.

    Scale shape: the staged edge table is consumed by all four
    propagation rounds; each round is one equi-join on a single int
    key plus a map-side-combinable sum — the Pregel message pattern
    as plain DataFrame ops, co-partitionable end to end at 100 TB
    (scores bounded by deg^4 ~ 1e12 at web-scale degrees, inside
    BIGINT).  TakeOrderedAndProject for the top-10, no global sort."""
    from instructions_mr_spark.queries.analytics import copurchase_edges

    e = copurchase_edges(spark, sf_dir).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    )
    a1 = e.groupBy(F.col("b").alias("v")).agg(F.count(F.lit(1)).alias("s"))
    h1 = (
        e.join(a1, e.b == a1.v)
        .groupBy(F.col("a").alias("v2"))
        .agg(F.sum("s").alias("s2"))
        .select(F.col("v2").alias("v"), F.col("s2").alias("s"))
    )
    a2 = (
        e.join(h1, e.a == h1.v)
        .groupBy(F.col("b").alias("v2"))
        .agg(F.sum("s").alias("s2"))
        .select(F.col("v2").alias("v"), F.col("s2").alias("s"))
    )
    h2 = (
        e.join(a2, e.b == a2.v)
        .groupBy(F.col("a").alias("v2"))
        .agg(F.sum("s").alias("s2"))
        .select(F.col("v2").alias("v"), F.col("s2").alias("s"))
    )
    nodes = e.select(F.col("a").alias("v")).union(e.select("b")).distinct()
    return (
        nodes.join(a2.withColumnRenamed("s", "sa"), "v", "left")
        .join(h2.withColumnRenamed("s", "sh"), "v", "left")
        .select(
            F.col("v").alias("part"),
            F.coalesce("sa", F.lit(0)).cast("bigint").alias("authority2"),
            F.coalesce("sh", F.lit(0)).cast("bigint").alias("hub2"),
        )
        .orderBy(F.desc("authority2"), F.desc("hub2"), "part")
        .limit(10)
    )


# ------------------------------- bounded weighted shortest paths

_BF_ROUNDS = 3


@query(
    "bellman_ford_bounded",
    oracle=f"""
    WITH RECURSIVE p AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    sym AS (
      SELECT a, b, 1 + (a + b) % 5 AS w FROM e
      UNION ALL
      SELECT b, a, 1 + (a + b) % 5 FROM e
    ),
    seed AS (SELECT MIN(a) AS v FROM e),
    walk(v, cost, hop) AS (
      SELECT v, 0, 0 FROM seed
      UNION
      SELECT s.b, w.cost + s.w, w.hop + 1
      FROM walk w JOIN sym s ON s.a = w.v
      WHERE w.hop < {_BF_ROUNDS}
    ),
    md AS (SELECT v, MIN(cost) AS cost FROM walk GROUP BY v)
    SELECT CAST(cost AS BIGINT) AS cost,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM md GROUP BY cost
    """,
)
def bellman_ford_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded weighted single-source shortest paths — {_BF_ROUNDS}
    Bellman-Ford relaxation rounds from the lowest vertex id over the
    co-purchase graph with deterministic integer edge weights
    (1 + (a+b) % 5, the synthetic stand-in for a real cost column):
    the min-PLUS sibling of graph_bfs_hops, reported as the
    cost-histogram of best-known distances.  The oracle walks the
    same {_BF_ROUNDS}-edge paths via a recursive CTE and must agree
    on every (cost, count) row — a cross-ALGORITHM check (path
    enumeration vs iterated relaxation).

    Scale shape: each round is ONE equi-join of the full best-cost
    table against the weighted edge list on the same int key plus a
    min-fold — the Pregel message round as DataFrame algebra; the
    cost table never exceeds |V| rows, rounds are statically bounded
    (no driver convergence loop), and weights ride the staged edge
    table so no recompute per round."""
    e, _ = _copurchase_base(spark, sf_dir)
    w_expr = (1 + (F.col("a") + F.col("b")) % 5).alias("w")
    sym = e.select("a", "b", w_expr).unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"), w_expr)
    )
    dist = e.agg(F.min("a").alias("v")).withColumn("cost", F.lit(0))
    for _ in range(_BF_ROUNDS):
        nxt = dist.join(sym, dist.v == sym.a).select(
            F.col("b").alias("v"), (F.col("cost") + F.col("w")).alias("cost")
        )
        dist = dist.unionAll(nxt).groupBy("v").agg(F.min("cost").alias("cost"))
    return dist.groupBy("cost").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices")
    ).select(F.col("cost").cast("bigint").alias("cost"), "n_vertices")


bellman_ford_bounded.__doc__ = (bellman_ford_bounded.__doc__ or "").replace(
    "{_BF_ROUNDS}", str(_BF_ROUNDS)
)


# ------------------------------------ label propagation communities

_LP_DUCK = """
    WITH li AS (
      SELECT DISTINCT l_partkey AS p, 1000000000 + l_suppkey AS s
      FROM lineitem
    ),
    edges AS (
      SELECT p AS src, s AS dst FROM li
      UNION ALL
      SELECT s AS src, p AS dst FROM li
    ),
    lbl0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
    nbr1 AS (
      SELECT e.dst AS node, l.lbl, COUNT(*) AS c
      FROM edges e JOIN lbl0 l ON l.node = e.src
      GROUP BY 1, 2
    ),
    lbl1 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl ASC) AS rn
        FROM nbr1
      ) WHERE rn = 1
    ),
    nbr2 AS (
      SELECT e.dst AS node, l.lbl, COUNT(*) AS c
      FROM edges e JOIN lbl1 l ON l.node = e.src
      GROUP BY 1, 2
    ),
    lbl2 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl ASC) AS rn
        FROM nbr2
      ) WHERE rn = 1
    )
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM lbl2 GROUP BY 1
    ORDER BY n_members DESC, community ASC
    LIMIT 50
"""


def _lp2_edges_labels(spark: SparkSession, sf_dir: str):
    """Shared 2-round synchronous LPA build over the part<->supplier
    graph: returns (directed edge list, final (node, lbl) labels).
    Consumed by label_propagation_2round and modularity_terms_lp so
    the community assignment cannot drift between the two."""
    li = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("p"),
            (F.lit(1_000_000_000) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = li.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionByName(
        li.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(2):
        nbr = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            nbr.groupBy("node2")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("m"))
            .select(
                F.col("node2").alias("node"),
                (-F.col("m.neg")).cast("bigint").alias("lbl"),
            )
        )
    return edges, labels


@query("label_propagation_2round", oracle=_LP_DUCK)
def label_propagation_2round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (2 rounds) over the part<->
    supplier supply graph (graph_pagerank's edge set): every node
    starts as its own label, each round adopts the MODE of its
    neighbors' labels with ties broken to the smallest label — the
    classic near-linear community-detection baseline (Raghavan et
    al.), bounded to two deterministic synchronous rounds so the
    result is a pure function of the graph (async/random-order LPA is
    not).  Returns the 50 largest communities.

    Scale shape: each round is one edges-to-labels equi-join (labels
    shuffle on node id — the SAME hash partitioning both rounds, so
    AQE reuses the exchange) plus a (node, label)-keyed count with
    map-side partials; the mode argmin runs per node via max(struct)
    — no global window anywhere.  Round depth is fixed at 2, so the
    lineage stays shallow (no checkpoint needed, unlike pagerank's
    K=5 loop)."""
    edges, labels = _lp2_edges_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(50)
    )


# ---------------------------------------------- k-core peeling

_KCORE_DUCK = """
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, 1000000000 + l_suppkey AS s
      FROM lineitem
    ),
    e0 AS MATERIALIZED (
      SELECT p AS src, s AS dst FROM li
      UNION ALL
      SELECT s AS src, p AS dst FROM li
    ),
    d1 AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e0 GROUP BY 1),
    k1 AS MATERIALIZED (SELECT src AS node FROM d1 WHERE d >= 2),
    e1 AS MATERIALIZED (
      SELECT e.src, e.dst FROM e0 e
      JOIN k1 a ON a.node = e.src JOIN k1 b ON b.node = e.dst
    ),
    d2 AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e1 GROUP BY 1),
    k2 AS MATERIALIZED (SELECT src AS node FROM d2 WHERE d >= 2),
    e2 AS MATERIALIZED (
      SELECT e.src, e.dst FROM e1 e
      JOIN k2 a ON a.node = e.src JOIN k2 b ON b.node = e.dst
    ),
    d3 AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e2 GROUP BY 1),
    k3 AS MATERIALIZED (SELECT src AS node FROM d3 WHERE d >= 2),
    e3 AS MATERIALIZED (
      SELECT e.src, e.dst FROM e2 e
      JOIN k3 a ON a.node = e.src JOIN k3 b ON b.node = e.dst
    )
    SELECT * FROM (
      SELECT 1 AS round, (SELECT COUNT(*) FROM k1) AS n_nodes,
             (SELECT COUNT(*) / 2 FROM e1) AS n_edges
      UNION ALL
      SELECT 2, (SELECT COUNT(*) FROM k2), (SELECT COUNT(*) / 2 FROM e2)
      UNION ALL
      SELECT 3, (SELECT COUNT(*) FROM k3), (SELECT COUNT(*) / 2 FROM e3)
    ) ORDER BY round
"""


@query("k_core_peel3", oracle=_KCORE_DUCK)
def k_core_peel3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of 2-core peeling on the part<->supplier supply
    graph: each round drops nodes with degree < 2 and every edge
    touching them, emitting the shrinking (n_nodes, n_edges) trace —
    the convergence diagnostic for core decomposition (when the trace
    flatlines, the 2-core is exact; a still-falling trace says
    schedule more rounds).  Undirected edges are stored both ways and
    reported once (count/2 — exact: both directions always survive
    or die together).

    Scale shape: each round is one degree aggregate plus two
    node-keyed semi-joins of the edge list (narrow int pairs, the
    dedup_cluster_cc exchange shape); round depth is fixed at 3 so
    the lineage stays shallow.  Cites the iterative-peel pattern of
    operators/graph.py:80 (star CC) with a degree filter instead of
    label exchange."""
    li = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("p"),
            (F.lit(1_000_000_000) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = li.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionByName(
        li.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    from instructions_mr_spark.queries._util import supersede_checkpoint

    edges = supersede_checkpoint("kcore_edges", edges)
    traces = []
    for rnd in (1, 2, 3):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= 2).select(F.col("src").alias("node"))
        edges = (
            edges.join(keep.withColumnRenamed("node", "_ka"),
                       edges.src == F.col("_ka"), "left_semi")
        )
        edges = (
            edges.join(keep.withColumnRenamed("node", "_kb"),
                       edges.dst == F.col("_kb"), "left_semi")
        )
        n_nodes = keep.agg(F.count(F.lit(1)).alias("n")).withColumn(
            "round", F.lit(rnd)
        )
        n_edges = edges.agg((F.count(F.lit(1)) / 2).alias("m")).withColumn(
            "round", F.lit(rnd)
        )
        traces.append(
            n_nodes.join(n_edges, "round").select(
                F.col("round").cast("int").alias("round"),
                F.col("n").cast("bigint").alias("n_nodes"),
                F.col("m").cast("double").alias("n_edges"),
            )
        )
    out = traces[0]
    for t_df in traces[1:]:
        out = out.unionByName(t_df)
    return out.orderBy("round")


# ------------------------------- personalized PageRank (seeded walk)

_PPR_STEPS = 4


def _ppr_oracle() -> str:
    """Unrolled DuckDB twin of ppr_recommend_parts ({_PPR_STEPS}
    damped steps, all-integer e9 mass)."""
    steps = []
    prev = "v0"
    for i in range(1, _PPR_STEPS + 1):
        steps.append(
            f"""v{i} AS MATERIALIZED (
      SELECT node, SUM(m) AS m FROM (
        SELECT dst AS node, SUM((v.m * 85) // (100 * d.deg)) AS m
        FROM edges e
        JOIN {prev} v ON v.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY dst
        UNION ALL
        SELECT sp, 150000000 FROM seed
      ) GROUP BY node
    )"""
        )
        prev = f"v{i}"
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, 1000000000 + l_suppkey AS s
      FROM lineitem
    ),
    edges AS MATERIALIZED (
      SELECT p AS src, s AS dst FROM li
      UNION ALL
      SELECT s AS src, p AS dst FROM li
    ),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
    seed AS MATERIALIZED (SELECT MIN(p) AS sp FROM li),
    v0 AS MATERIALIZED (SELECT sp AS node, CAST(1000000000 AS BIGINT) AS m FROM seed),
    {steps_sql}
    SELECT CAST(node AS BIGINT) AS part, CAST(m AS BIGINT) AS ppr_e9
    FROM v{_PPR_STEPS}
    WHERE node < 1000000000 AND m > 0
    ORDER BY ppr_e9 DESC, part
    LIMIT 20
"""


@query("ppr_recommend_parts", oracle=_ppr_oracle())
def ppr_recommend_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed part (the minimum partkey)
    over the part<->supplier supply graph: {_PPR_STEPS} damped steps
    (d = 0.85, restart mass re-injected at the seed each step) and
    the top-20 part nodes by visiting mass — 'parts related to this
    part through shared suppliers', the graph-proximity
    recommendation primitive.  All-integer e9 mass with one
    truncating division per edge per step ((m * 85) DIV (100 * deg)),
    so both engines walk the identical quantized chain; mass that
    truncates to zero stops walking identically on both.

    Scale shape: each step is one labels-to-edges equi-join on src
    (the label_propagation_2round exchange) plus a dst rollup; the
    frontier v starts at 1 node and stays sparse (only reached nodes
    carry rows), so early steps touch a tiny fraction of the edge
    list via the join.  Step count fixed at {_PPR_STEPS}; no
    checkpoint needed at this depth."""
    li = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("p"),
            (F.lit(1_000_000_000) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = li.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionByName(
        li.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    from instructions_mr_spark.queries._util import supersede_checkpoint

    edges = supersede_checkpoint("ppr_edges", edges)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e_deg = edges.join(deg, "src")
    seed = li.agg(F.min("p").alias("sp"))
    v = seed.select(
        F.col("sp").alias("node"), F.lit(1_000_000_000).cast("bigint").alias("m")
    )
    restart = seed.select(
        F.col("sp").alias("node"),
        F.lit(150_000_000).cast("bigint").alias("m"),
    )
    for _ in range(_PPR_STEPS):
        inflow = (
            e_deg.join(F.broadcast(v), e_deg.src == v.node)
            .groupBy("dst")
            .agg(F.expr("SUM((m * 85) DIV (100 * deg))").alias("m"))
            .select(F.col("dst").alias("node"), "m")
        )
        v = (
            inflow.unionByName(restart)
            .groupBy("node")
            .agg(F.sum("m").alias("m"))
        )
    return (
        v.filter((F.col("node") < 1_000_000_000) & (F.col("m") > 0))
        .select(
            F.col("node").cast("bigint").alias("part"),
            F.col("m").cast("bigint").alias("ppr_e9"),
        )
        .orderBy(F.col("ppr_e9").desc(), "part")
        .limit(20)
    )


ppr_recommend_parts.__doc__ = (ppr_recommend_parts.__doc__ or "").replace(
    "{_PPR_STEPS}", str(_PPR_STEPS)
)


@query(
    "graph_resource_allocation",
    oracle="""
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    adj AS (
      SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e
    ),
    deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY v),
    adjd AS (SELECT adj.v, adj.n, deg.d FROM adj JOIN deg USING (v)),
    scored AS (
      SELECT x.n AS a, y.n AS b,
             COUNT(*) AS n_common,
             SUM(1000000000 // x.d) AS ra_e9
      FROM adjd x JOIN adjd y ON x.v = y.v AND x.n < y.n
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT s.a AS part_a, s.b AS part_b,
           CAST(s.n_common AS BIGINT) AS n_common,
           CAST(s.ra_e9 AS BIGINT) AS ra_e9
    FROM scored s LEFT JOIN e ON e.a = s.a AND e.b = s.b
    WHERE e.a IS NULL
    """,
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction over the co-purchase graph
    (Zhou/Lü/Zhang 2009): non-adjacent part pairs scored by
    RA(a,b) = Σ_{z∈CN} 1/deg(z) — common neighbors weighted INVERSELY
    by their degree, so a niche connector says more than a hub that
    co-occurs with everything (the known fix for Jaccard's hub bias,
    complementing graph_link_prediction).  Each wedge contributes the
    exact integer 1e9 DIV deg(z), so the score is a truncating
    fixed-point sum both engines compute bit-identically; >= 2 common
    neighbors required, existing edges anti-joined away.

    Scale shape: the wedge join carries the center's degree ON the
    adjacency row (one broadcast-ish deg join before the wedge, not
    after), so scoring needs no extra pass; pairs aggregate as bare
    int ids — same deg^2 wedge volume and degree-cap guidance as
    graph_triangle_count."""
    e, deg = _copurchase_base(spark, sf_dir)
    adj = e.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    adjd = adj.join(deg, "v").select(
        "v", "n", F.expr("CAST(1000000000 DIV d AS BIGINT)").alias("ra_term")
    )
    x, y = adjd.alias("x"), adjd.alias("y")
    scored = (
        x.join(y, (F.col("x.v") == F.col("y.v")) & (F.col("x.n") < F.col("y.n")))
        .groupBy(F.col("x.n").alias("a"), F.col("y.n").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.col("x.ra_term")).alias("ra_e9"),
        )
        .filter(F.col("n_common") >= 2)
    )
    return scored.join(e, ["a", "b"], "left_anti").select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("n_common").cast("bigint").alias("n_common"),
        F.col("ra_e9").cast("bigint").alias("ra_e9"),
    )


@query(
    "modularity_terms_lp",
    oracle="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, 1000000000 + l_suppkey AS s
      FROM lineitem
    ),
    edges AS MATERIALIZED (
      SELECT p AS src, s AS dst FROM li
      UNION ALL
      SELECT s AS src, p AS dst FROM li
    ),
    lbl0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges),
    nbr1 AS MATERIALIZED (
      SELECT e.dst AS node, l.lbl, COUNT(*) AS c
      FROM edges e JOIN lbl0 l ON l.node = e.src
      GROUP BY 1, 2
    ),
    lbl1 AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl ASC) AS rn
        FROM nbr1
      ) WHERE rn = 1
    ),
    nbr2 AS MATERIALIZED (
      SELECT e.dst AS node, l.lbl, COUNT(*) AS c
      FROM edges e JOIN lbl1 l ON l.node = e.src
      GROUP BY 1, 2
    ),
    lbl2 AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl ASC) AS rn
        FROM nbr2
      ) WHERE rn = 1
    ),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
    m AS (SELECT COUNT(*) AS m FROM li),
    internal AS (
      SELECT la.lbl AS community, COUNT(*) AS internal_edges
      FROM li
      JOIN lbl2 la ON la.node = li.p
      JOIN lbl2 lb ON lb.node = li.s
      WHERE la.lbl = lb.lbl
      GROUP BY 1
    ),
    comm AS (
      SELECT l.lbl AS community,
             COUNT(*) AS n_nodes,
             SUM(d.d) AS deg_sum
      FROM lbl2 l JOIN deg d ON d.node = l.node
      GROUP BY 1
    )
    SELECT c.community AS community,
           CAST(c.n_nodes AS BIGINT) AS n_nodes,
           CAST(c.deg_sum AS BIGINT) AS deg_sum,
           CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
           CAST(m.m AS BIGINT) AS m_edges
    FROM comm c LEFT JOIN internal i ON i.community = c.community, m
    ORDER BY n_nodes DESC, c.community ASC
    LIMIT 50
    """,
)
def modularity_terms_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity sufficient statistics for the label-
    propagation communities: per community, node count, TOTAL degree
    mass and INTERNAL undirected edge count, plus the global edge
    count m — Q = Σ_c [internal_c/m − (deg_sum_c/2m)²] assembles by
    one exact division per community downstream, which makes this the
    quality gate for the LPA partition (is 2-round LPA finding real
    structure or one giant blob?).  On a strictly bipartite graph the
    2-round SYNCHRONOUS assignment is anti-phase (parts and suppliers
    end up carrying each other's labels), so internal mass lands near
    zero and Q <= 0 — the metric honestly reports that depth-2 sync
    LPA found no community structure there; that readout is the
    measurement, not a bug (pinned by tests/test_r8o_ops.py on a
    two-star fixture).  The community assignment comes from the SAME
    shared builder as label_propagation_2round, so the two queries
    can never disagree about what the communities are.

    Scale shape: the LPA rounds are labels-to-edges equi-joins (see
    label_propagation_2round); internal-edge counting joins the
    distinct part-supplier pairs against the final labels on BOTH
    endpoints (two int-keyed joins, no wedge); degree and community
    rollups are map-side combinable; the 1-row m aggregate broadcasts
    via cross join."""
    edges, labels = _lp2_edges_labels(spark, sf_dir)
    li = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("p"),
            (F.lit(1_000_000_000) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    m = li.agg(F.count(F.lit(1)).alias("m_edges"))
    la = labels.select(F.col("node").alias("p"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("node").alias("s"), F.col("lbl").alias("lb"))
    internal = (
        li.join(la, "p")
        .join(lb, "s")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    comm = (
        labels.join(deg, "node")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("deg_sum"),
        )
    )
    return (
        comm.join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("deg_sum").cast("bigint").alias("deg_sum"),
            F.coalesce("internal_edges", F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            F.col("m_edges").cast("bigint").alias("m_edges"),
        )
        .orderBy(F.col("n_nodes").desc(), F.col("community").asc())
        .limit(50)
    )


_CCDF_EDGES_SQL = """
    WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY 1
    )
"""


@query(
    "graph_degree_ccdf",
    oracle=f"""
    {_CCDF_EDGES_SQL},
    th AS (SELECT CAST(POW(2, g) AS BIGINT) AS threshold
           FROM (SELECT UNNEST(range(0, 11)) AS g)),
    n AS (SELECT COUNT(*) AS nv FROM deg)
    SELECT th.threshold,
           CAST(SUM(CASE WHEN deg.d >= th.threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ge,
           {round_half('CAST(SUM(CASE WHEN deg.d >= th.threshold THEN 1 ELSE 0 END)'
                      ' AS DOUBLE) / MAX(n.nv)', 6)} AS frac_ge
    FROM th CROSS JOIN deg CROSS JOIN n
    GROUP BY th.threshold
    ORDER BY th.threshold
    """,
)
def graph_degree_ccdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution CCDF of the co-purchase graph at the
    power-of-two thresholds 1..1024: P(deg >= 2^k) per k — the
    log-log tail readout that distinguishes a heavy-tailed
    (scale-free-ish) product graph from a bounded-degree one, and the
    input to 'will the wedge join blow up' capacity planning (wedge
    count is sum d^2, dominated by exactly this tail).  Thresholds
    are exact integer comparisons — no float log2 bucketing whose
    boundary rounding could differ across engines.

    Scale shape: degrees from one edge-keyed count; the 11-row
    threshold table broadcast-crosses the degree table (vertex-sized,
    not corpus-sized) into a map-side-combinable conditional sum."""
    from instructions_mr_spark.queries.analytics import copurchase_edges

    e = copurchase_edges(spark, sf_dir).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    th = spark.range(0, 11).select(
        F.pow(F.lit(2), F.col("id")).cast("bigint").alias("threshold")
    )
    n = deg.agg(F.count(F.lit(1)).alias("nv"))
    return (
        deg.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(n))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("d") >= F.col("threshold"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ge"),
            round_half(
                F.sum(
                    F.when(F.col("d") >= F.col("threshold"), 1).otherwise(0)
                ).cast("double")
                / F.max("nv"),
                6,
            ).alias("frac_ge"),
        )
        .orderBy("threshold")
    )


@query(
    "graph_conductance_brand",
    oracle=f"""
    {_CCDF_EDGES_SQL},
    lbl AS (SELECT p_partkey AS v, p_brand AS brand FROM part),
    el AS (
      SELECT la.brand AS brand_a, lb.brand AS brand_b
      FROM e JOIN lbl la ON la.v = e.a JOIN lbl lb ON lb.v = e.b
    ),
    vol AS (
      SELECT lbl.brand, SUM(deg.d) AS vol, COUNT(*) AS n_vertices
      FROM deg JOIN lbl ON lbl.v = deg.v GROUP BY 1
    ),
    cut AS (
      SELECT brand, SUM(x) AS cut FROM (
        SELECT brand_a AS brand, CASE WHEN brand_a <> brand_b THEN 1 ELSE 0 END AS x FROM el
        UNION ALL
        SELECT brand_b AS brand, CASE WHEN brand_a <> brand_b THEN 1 ELSE 0 END AS x FROM el
      ) GROUP BY 1
    ),
    m AS (SELECT COUNT(*) * 2 AS vol_total FROM e)
    SELECT vol.brand, CAST(vol.n_vertices AS BIGINT) AS n_vertices,
           CAST(vol.vol AS BIGINT) AS vol,
           CAST(COALESCE(cut.cut, 0) AS BIGINT) AS cut,
           {round_half('CAST(COALESCE(cut.cut, 0) AS DOUBLE)'
                 ' / NULLIF(LEAST(vol.vol, m.vol_total - vol.vol), 0)', 6)}
             AS conductance
    FROM vol LEFT JOIN cut USING (brand), m
    ORDER BY vol.brand
    """,
)
def graph_conductance_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance of each brand's part set inside the co-purchase
    graph: cut(S, S-bar) / min(vol(S), vol(S-bar)) — the
    community-quality score that says whether a brand's products are
    bought together (low conductance: a real cluster, safe to
    co-partition) or spread across baskets (high: any brand-keyed
    graph partition will shuffle most edges anyway).  The standard
    pre-flight for partition-by-category graph layouts.

    Scale shape: edges keyed by endpoint join the part label twice
    (hint-free equi-joins — part grows with sf, never broadcast);
    volumes and cuts are brand-keyed map-side-combinable sums over
    the edge list; the final table is |brands| rows."""
    from instructions_mr_spark.queries.analytics import copurchase_edges

    e = copurchase_edges(spark, sf_dir).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    )
    lbl = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("v"), F.col("p_brand").alias("brand")
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    el = (
        e.join(lbl.withColumnRenamed("brand", "brand_a"), F.col("v") == F.col("a"))
        .drop("v")
        .join(lbl.withColumnRenamed("brand", "brand_b"), F.col("v") == F.col("b"))
        .select("brand_a", "brand_b")
    )
    vol = (
        deg.join(lbl, "v")
        .groupBy("brand")
        .agg(F.sum("d").alias("vol"), F.count(F.lit(1)).alias("n_vertices"))
    )
    x = F.when(F.col("brand_a") != F.col("brand_b"), 1).otherwise(0).alias("x")
    cut = (
        el.select(F.col("brand_a").alias("brand"), x)
        .unionAll(el.select(F.col("brand_b").alias("brand"), x))
        .groupBy("brand")
        .agg(F.sum("x").alias("cut"))
    )
    m = e.agg((F.count(F.lit(1)) * 2).alias("vol_total"))
    return (
        vol.join(cut, "brand", "left")
        .crossJoin(F.broadcast(m))
        .selectExpr(
            "brand",
            "CAST(n_vertices AS BIGINT) AS n_vertices",
            "CAST(vol AS BIGINT) AS vol",
            "CAST(COALESCE(cut, 0) AS BIGINT) AS cut",
            round_half(
                "CAST(COALESCE(cut, 0) AS DOUBLE) / NULLIF(LEAST(vol, vol_total - vol), 0)", 6
            )
            + " AS conductance",
        )
        .orderBy("brand")
    )

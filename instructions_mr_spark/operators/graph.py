"""Connected components over an edge DataFrame (min-label
propagation) — the clustering kernel behind near-dup dedup
(``dedup_cluster_cc``).  The reference has no graph or even join
operators (SURVEY.md §2.6, verified absence); this is an EXT-mandate
operator for the training-data pipeline (dup *clusters*, not just
pairs, are what a 100 TB dedup pass materializes).

Algorithm (GraphX/Pregel shape, pure DataFrame ops):

  labels <- each node its own id
  repeat: every node takes min(own label, neighbours' labels)
  until SUM(labels) stops decreasing (labels only ever decrease, so
  an unchanged sum IS the fixpoint — one scalar agg per round, no
  row-level diff join).

Scale: O(component diameter) rounds; each round = one shuffle of the
edge list (keyed on src) joined to current labels + one small agg.
Near-dup components are shallow, so rounds stay in the single digits.
Labels are localCheckpoint()ed per round to truncate lineage —
without it, 30 rounds of stacked joins re-run Catalyst on an
ever-growing plan and resubmit the whole chain every action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from instructions_mr_spark.plans.guard import certified_local_checkpoint, free_checkpoint


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    """Cheap fixpoint signature: (row count, sum of src+dst)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("src") + F.col("dst")), F.lit(0)).alias("s"),
    ).first()
    return int(row.n), int(row.s)


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds regardless of component DIAMETER, vs
    min-label propagation's O(diameter).  The scale choice for long
    chain-shaped components (URL redirect chains, citation paths)
    where propagation needs hundreds of rounds.

    large-star(u): every neighbor v > u re-links to m = min(N(u)+{u});
    small-star(u): every neighbor v <= u (and u) links to that m.
    Each round = two groupBy-join passes over the edge list; fixpoint
    when the edge multiset stops changing.  Output matches
    connected_components: (node, component=min node id).
    """
    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # collect nodes BEFORE dropping self-loops so a node appearing
    # only in a self-loop still gets a (node, node) label
    # (superseded per-round checkpoints are freed via
    # plans.guard.free_checkpoint; see its docstring)
    nodes = certified_local_checkpoint(
        raw.select(F.col("src").alias("node"))
        .unionByName(raw.select(F.col("dst").alias("node")))
        .distinct(),
        "cc_star_nodes",
    )
    e = raw.filter(F.col("src") != F.col("dst"))
    # canonical direction src > dst (edge points larger -> smaller)
    e = certified_local_checkpoint(
        e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).distinct(),
        "cc_star_edges0",
    )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # ---- large-star: group by u over BOTH orientations; attach
        # strictly-larger neighbors to the minimum of the neighborhood
        both = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = both.groupBy("src").agg(
            F.least(F.min("dst"), F.col("src")).alias("m")
        )
        large = (
            both.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # LAZY checkpoints: the round's one real action (_edge_checksum
        # below) materializes both — no extra count() job per
        # checkpoint; superseded rounds are freed only AFTER that
        # action (freeing earlier would tear blocks the still-lazy
        # chain needs).
        prev_e = e
        e_large = certified_local_checkpoint(
            large.filter(F.col("src") != F.col("dst")).distinct(),
            "cc_star_large",
            eager=False,
        )
        # ---- small-star: edges already point large->small; group by
        # src, link every smaller neighbor (and src) to the minimum
        mins = e_large.groupBy("src").agg(F.min("dst").alias("m"))
        linked = e_large.join(mins, "src")
        small = (
            linked.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(linked.select("src", F.col("m").alias("dst")))
        )
        e = certified_local_checkpoint(
            small.filter(F.col("src") != F.col("dst")).distinct(),
            "cc_star_small",
            eager=False,
        )
        sig = _edge_checksum(e)
        free_checkpoint(prev_e)
        free_checkpoint(e_large)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # stars: every non-root points directly at its component min
    labels = nodes.join(
        e.select(F.col("src").alias("node"), F.col("dst").alias("component")),
        "node",
        "left",
    ).select("node", F.coalesce("component", "node").alias("component"))
    return labels


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    directed_input: bool = False,
) -> DataFrame:
    """Return DataFrame[node, component] for every node appearing in
    ``edges``; ``component`` is the minimum node id of its connected
    component.

    ``edges`` is treated as undirected: unless ``directed_input`` is
    True (meaning the caller already provides both orientations), each
    edge is mirrored internally.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed_input:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.persist()
    labels = certified_local_checkpoint(
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node")),
        "cc_labels0",
    )
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e.src == labels.node)
            .groupBy(F.col("dst").alias("nb_node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # LAZY checkpoint: the convergence aggregate below is the
        # round's one action and materializes it — no extra count()
        # job; the superseded round is freed only after that action.
        prev_labels = labels
        labels = certified_local_checkpoint(
            labels.join(nbr_min, labels.node == F.col("nb_node"), "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            ),
            "cc_labels",
            eager=False,
        )
        cur_sum = labels.agg(F.sum("component")).first()[0]
        free_checkpoint(prev_labels)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    e.unpersist()
    if not converged:
        # Min-label propagation needs O(diameter) rounds; exhausting
        # the loop without hitting the sum fixpoint means some
        # component is still split — returning silently would look
        # valid but be wrong.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (component diameter exceeds it)"
        )
    return labels


# Checkpoint cadence for the pagerank power iteration (rounds between
# eager localCheckpoint barriers); module-level so scale experiments
# can A/B it without editing the loop.  r8 interleaved A/B at sf2
# (BENCH_sf1.json round8_pagerank_cadence): cadence 2 -> 21.1s,
# 3 -> 20.2s, none-but-last -> 18.7s (min-of-3, K=5) — barriers cost
# ~11% at K=5; cadence 3 keeps lineage bounded for larger K while
# taking most of the win.
PR_CKPT_EVERY = 3


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    quantize_decimals: int | None = None,
) -> DataFrame:
    """PageRank by power iteration over an edge DataFrame — returns
    (id, rank) for every node appearing as src or dst.

    Fixed iteration count (not convergence-tested): a deterministic
    K-step power iteration has an exact unrolled-SQL twin, so the
    result stays oracle-checkable, and in practice curation pipelines
    run a fixed small K anyway.  Dangling nodes (no out-edges) leak
    their mass — the simple variant; redistribute externally if the
    graph has sinks (an undirected edge list never does).

    Scale shape per iteration: one keyed join of the static
    (src, dst, out-degree) edge table to the current rank vector +
    one groupBy(dst) partial-aggregated sum + one left join back to
    the node list — every stage keyed, no driver state, no all-pairs.
    The edge table is persisted once; ranks are localCheckpoint()ed
    per round to truncate the iterative lineage (same pattern as
    connected_components above).

    ``quantize_decimals``: when set, ranks and per-edge contributions
    are carried as integer counts of 1e-q units (FLOOR-scaled) and
    summed as DECIMAL(38,0) — an exact, ORDER-FREE aggregation, so
    the result is bit-identical under any partitioning/engine (the
    float-stability convention the LM-score oracles use).  FLOOR, not
    ROUND: quantized inputs make exact half-quantum ties systematic,
    and engines break ROUND ties through different double paths —
    FLOOR after one IEEE multiply/divide has no tie semantics at all.
    The quantized iteration IS the contract: an unrolled-SQL twin
    applying the same FLOOR-scaling reproduces it value-exactly.
    Leave None for production use (full double precision,
    order-dependent in the last ulp).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Persist the static edge table plain: the per-round join
    # BROADCASTS the rank vector (it is node-count-sized, and AQE
    # picks broadcast from the cached stats), so the edge side never
    # shuffles for the join at all — pre-repartitioning it on src was
    # measured as pure upfront cost (plan probe: BroadcastExchange on
    # ranks, zero edge exchanges).  Only in a billion-node regime
    # where ranks outgrow broadcast would a src-repartitioned cache
    # pay; at that point add .repartition("src") here.
    edeg = e.join(deg, "src").persist()
    nodes = certified_local_checkpoint(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct(),
        "pagerank_nodes",
    )
    n = nodes.count()
    if n == 0:
        # degrade gracefully like connected_components: an empty edge
        # list yields an empty rank vector, not a ZeroDivisionError
        return nodes.select("id", F.lit(0.0).alias("rank"))
    q = quantize_decimals
    pow10 = float(10**q) if q is not None else None
    if q is None:
        rank0 = F.lit(1.0 / n)
    else:
        # units of 1e-q: every arithmetic step below is one IEEE
        # double op (identical on any engine) followed by FLOOR
        rank0 = F.floor(F.lit(pow10) / F.lit(n)).cast("decimal(38,0)")
    ranks = nodes.select("id", rank0.alias("rank"))
    last_ck: DataFrame | None = None
    for i in range(iterations):
        contrib = F.col("rank").cast("double") / F.col("deg")
        if q is not None:
            contrib = F.floor(contrib).cast("decimal(38,0)")
        contribs = edeg.join(ranks, edeg["src"] == ranks["id"]).select(
            F.col("dst").alias("id"), contrib.alias("c")
        )
        sums = contribs.groupBy("id").agg(F.sum("c").alias("acc"))
        acc_d = F.coalesce(F.col("acc").cast("double"), F.lit(0.0))
        if q is None:
            nxt = F.lit((1.0 - damping) / n) + F.lit(damping) * acc_d
        else:
            nxt = F.floor(
                F.lit((1.0 - damping) * pow10) / F.lit(n)
                + F.lit(damping) * acc_d
            ).cast("decimal(38,0)")
        ranks = nodes.join(sums, "id", "left").select("id", nxt.alias("rank"))
        # Checkpoint every PR_CKPT_EVERY rounds (and the last):
        # pagerank has no per-round action, so each eager checkpoint is
        # a full driver barrier — fewer barriers cut the per-iteration
        # job count while the interleaved plan stacks at most
        # PR_CKPT_EVERY rounds deep (lineage growth is linear, AQE
        # re-plans the stacked rounds as one job).  Cadence chosen by
        # the r8 sf2 interleaved A/B recorded in BENCH_sf1.json.
        if (i + 1) % PR_CKPT_EVERY == 0 or i == iterations - 1:
            ranks = certified_local_checkpoint(ranks, "pagerank_ranks")
            free_checkpoint(last_ck)
            last_ck = ranks
    edeg.unpersist()
    if q is not None:
        # back from 1e-q units to rank scale; units/pow10 is one IEEE
        # division of an exactly-represented integer — bit-identical
        # on any engine
        ranks = ranks.select(
            "id", (F.col("rank").cast("double") / F.lit(pow10)).alias("rank")
        )
    return ranks

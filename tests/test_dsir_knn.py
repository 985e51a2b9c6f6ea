"""Round-5 additions: DSIR importance weights and the batch k-NN join.

Property tests beyond the DuckDB oracle: DSIR must actually upweight
the target domain, and the batch k-NN join must agree with per-probe
brute force.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from instructions_mr_spark import registry


def test_dsir_upweights_target_domain(spark, sf_dir):
    """The whole point of DSIR: documents from the target domain
    (lang='en') must score a higher mean log-weight than the rest —
    their bigrams dominate the target counts."""
    out = registry.QUERIES["dsir_importance_weights"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    joined = out.join(docs, "doc_id").select(
        "lang", (F.col("dsir_logweight") / F.col("n_bigrams")).alias("mean_lw")
    )
    rows = joined.groupBy(F.col("lang") == "en").agg(
        F.avg("mean_lw").alias("m")
    ).collect()
    means = {r[0]: r.m for r in rows}
    assert means[True] > means[False]


def test_dsir_counts_bigram_occurrences(spark, sf_dir):
    """n_bigrams per doc = word count - 1 (every adjacent pair, with
    multiplicity — occurrences, not distinct grams)."""
    out = registry.QUERIES["dsir_importance_weights"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", (F.size(F.split("text", " ")) - 1).alias("expect")
    )
    bad = (
        out.join(docs, "doc_id")
        .filter(F.col("n_bigrams") != F.col("expect"))
        .count()
    )
    assert bad == 0


def test_knn_join_matches_per_probe_brute_force(spark, sf_dir):
    """Each probe's rows from the batch join must equal the exact
    brute-force top-k for that probe (same cosine rounding, same
    vec_id tie-break)."""
    out = registry.QUERIES["knn_join_batch"](spark, sf_dir).collect()
    from instructions_mr_spark.functions import cosine_sim
    from instructions_mr_spark.queries.llm_pipeline import _KNN_K, _KNN_PROBES

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append((r.rnk, r.vec_id, r.cosine))
    assert set(by_probe) == set(range(_KNN_PROBES))
    for probe_id, rows in by_probe.items():
        assert len(rows) == _KNN_K
        qv = e.filter(F.col("vec_id") == probe_id).select(
            F.col("embedding").alias("q")
        )
        brute = (
            e.filter(F.col("vec_id") >= _KNN_PROBES)
            .crossJoin(F.broadcast(qv))
            .select(
                "vec_id",
                cosine_sim(F.col("q"), F.col("embedding")).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(_KNN_K)
            .collect()
        )
        got = [(v, c) for _, v, c in sorted(rows)]
        want = [(r.vec_id, r.cosine) for r in brute]
        assert got == want, f"probe {probe_id}: {got} != {want}"


def test_knn_join_plan_broadcasts_probes(spark, sf_dir):
    """The probe side must broadcast — the corpus never shuffles for
    the join itself."""
    df = registry.QUERIES["knn_join_batch"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan

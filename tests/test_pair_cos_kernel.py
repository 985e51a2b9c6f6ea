"""Focused pins for the shared pair-cosine join-back (round 13):
queries/llm_pipeline.py::_pair_cosine_joinback deduplicates the r12
hoisted-norm exact-cosine shape shared by the SemDeDup kernel and the
LSH verify.  The helper must be a pure refactor:

1. the scored pairs are bit-identical (repr equality) to the inline
   r12 expression path over every all-pairs cosine of the real
   sf0.001 embeddings;
2. the fold itself matches an INDEPENDENT pure-Python reference (the
   exact IEEE operation sequence of
   ``aggregate(zip_with(a, b, x*y), 0.0, acc + x)``).

The DuckDB oracles revalidate the declared values engine-to-engine;
these pins keep the join-back honest inside one engine even if the
oracle harness changes.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from instructions_mr_spark.functions import cosine_with_norms, l2_norm
from instructions_mr_spark.queries.llm_pipeline import _pair_cosine_joinback
from instructions_mr_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _reference_cos(a: list[float], b: list[float]) -> float:
    """The JVM expressions, literally: left-fold dot and norms in
    dimension order over float32-widened doubles, then dot/(na*nb).
    Plain Python IEEE doubles — no numpy, no Spark."""
    dot = 0.0
    na2 = 0.0
    nb2 = 0.0
    for x32, y32 in zip(a, b):
        x, y = float(x32), float(y32)
        dot = dot + x * y
        na2 = na2 + x * x
        nb2 = nb2 + y * y
    return dot / (math.sqrt(na2) * math.sqrt(nb2))


def _all_pairs(spark):
    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    ids = (
        e.select(F.col("vec_id").alias("vec_a"))
        .crossJoin(e.select(F.col("vec_id").alias("vec_b")))
        .filter(F.col("vec_a") < F.col("vec_b"))
    )
    return e, ids


def test_joinback_matches_unfloored_expression_path(spark):
    e, ids = _all_pairs(spark)
    new = {
        (r.vec_a, r.vec_b): r.cos
        for r in _pair_cosine_joinback(ids, e, "cos").collect()
    }
    ea = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    old = {
        (r.vec_a, r.vec_b): r.cos
        for r in ids.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine_with_norms(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .collect()
    }
    assert set(new) == set(old)
    assert len(new) > 100
    mismatches = [
        (k, repr(new[k]), repr(old[k])) for k in new if repr(new[k]) != repr(old[k])
    ]
    assert not mismatches, mismatches[:5]


def test_joinback_matches_pure_python_fold(spark):
    e, ids = _all_pairs(spark)
    vecs = {r.vec_id: list(r.embedding) for r in e.collect()}
    got = {
        (r.vec_a, r.vec_b): r.cos
        for r in _pair_cosine_joinback(ids, e, "cos").collect()
    }
    # spot-check every 7th pair against the plain-Python fold, through
    # the same JVM e6 rounding (ROUND is applied by the join-back, so
    # compare pre-round values via reconstruction: the reference
    # rounded to 6 via Spark must equal the emitted value — here we
    # bound |ref - got| by half an e6 ulp instead of emulating the
    # JVM's decimal rounding in Python)
    checked = 0
    for i, ((a, b), cos) in enumerate(sorted(got.items())):
        if i % 7:
            continue
        ref = _reference_cos(vecs[a], vecs[b])
        assert abs(ref - cos) <= 5.0000001e-7, (a, b, ref, cos)
        checked += 1
    assert checked > 50



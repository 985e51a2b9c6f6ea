"""Round-5 additions: PMI collocations and quality-aware cluster reps."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from instructions_mr_spark import registry


def test_collocation_pmi_matches_pure_python(spark, sf_dir):
    """Recompute pair/marginal counts from the raw text in pure Python
    and check support filtering and every PMI value."""
    out = {
        (r.w1, r.w2): (r.c12, r.pmi)
        for r in registry.QUERIES["collocation_pmi"](spark, sf_dir).collect()
    }
    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    c12: dict[tuple[str, str], int] = {}
    for txt in texts:
        ws = txt.split(" ")
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
    n = sum(c12.values())
    c1: dict[str, int] = {}
    c2: dict[str, int] = {}
    for (a, b), c in c12.items():
        c1[a] = c1.get(a, 0) + c
        c2[b] = c2.get(b, 0) + c
    from instructions_mr_spark.queries.text import _PMI_MIN_COUNT

    want = {
        k: (c, round(math.log(c * n / (c1[k[0]] * c2[k[1]])), 6))
        for k, c in c12.items()
        if c >= _PMI_MIN_COUNT
    }
    assert set(out) == set(want)
    for k, (c, pmi) in want.items():
        assert out[k][0] == c
        assert abs(out[k][1] - pmi) < 1e-9, (k, out[k], (c, pmi))


def test_cluster_rep_best_elects_longest_member(spark, sf_dir):
    """The elected rep must be a member of its cluster with the maximal
    n_chars (min doc_id on ties), and n_members must equal the cluster
    size reported by dedup_cluster_cc."""
    clusters = {}
    for r in registry.QUERIES["dedup_cluster_cc"](spark, sf_dir).collect():
        clusters.setdefault(r.cluster_id, []).append(r.doc_id)
    chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    reps = registry.QUERIES["cluster_rep_best"](spark, sf_dir).collect()
    assert {r.cluster_id for r in reps} == set(clusters)
    for r in reps:
        members = clusters[r.cluster_id]
        assert r.n_members == len(members)
        assert r.rep_doc_id in members
        best = min(members, key=lambda d: (-chars[d], d))
        assert r.rep_doc_id == best
        assert r.rep_n_chars == chars[best]

"""ANN retrieval evaluation harness — the recall report a user runs
before choosing an index type for their embedding corpus.

For a probe set, computes exact brute-force top-k (ground truth), then
scores each ANN variant's recall@k against it:

  * k-means IVF (train centroids, probe the best cells)
  * product quantization (ADC shortlist + exact re-rank)

Usage:
    python examples/retrieval_eval.py [sf_dir] [k] [n_probes]

Output: one line per variant — mean recall@k over the probe set plus
the per-probe breakdown.  The same harness, pointed at a production
corpus, answers "is IVF with n_probe=4 good enough or do we pay for
exact?" with numbers instead of folklore.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from instructions_mr_spark.functions import cosine_sim
from instructions_mr_spark.operators.simsearch import (
    ivf_search,
    pq_adc_search,
    train_ivf_centroids,
    train_pq_codebooks,
)
from instructions_mr_spark.session import get_spark


def brute_top_k(e, query_vec, k):
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    return [
        r.vec_id
        for r in e.select(
            "vec_id", cosine_sim(qlit, F.col("embedding")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
        .collect()
    ]


def run(sf_dir: str, k: int = 10, n_probes: int = 8) -> dict[str, float]:
    spark = get_spark("retrieval_eval")
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    probes = {
        r.vec_id: list(r.embedding)
        for r in e.filter(F.col("vec_id") < n_probes).collect()
    }
    corpus = e.filter(F.col("vec_id") >= n_probes)

    centroids = train_ivf_centroids(corpus, k=8)
    codebooks = train_pq_codebooks(corpus, m=8, k=16)

    recalls: dict[str, list[float]] = {"ivf": [], "pq": []}
    for pid, qv in sorted(probes.items()):
        truth = set(brute_top_k(corpus, qv, k))
        ivf = {
            r.vec_id
            for r in ivf_search(corpus, centroids, qv, top_k=k, n_probe=4).collect()
        }
        pq = {r.vec_id for r in pq_adc_search(corpus, codebooks, qv, top_k=k).collect()}
        recalls["ivf"].append(len(ivf & truth) / k)
        recalls["pq"].append(len(pq & truth) / k)
    return {name: sum(v) / len(v) for name, v in recalls.items()}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_probes = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    out = run(sf_dir, k, n_probes)
    for name, recall in sorted(out.items()):
        print(f"recall@{k} {name:>4}: {recall:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

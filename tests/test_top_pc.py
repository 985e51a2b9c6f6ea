"""Semantic pin for embedding_top_pc: the integer power iteration must
find a planted dominant direction and report convergence."""

from __future__ import annotations

import math

from instructions_mr_spark import registry
from tests.conftest import write_tables


def test_top_pc_finds_planted_direction(spark, tmp_path):
    """Vectors = (5 + i%3) * w + small per-dim noise, w = (1,1,0,...)/sqrt(2):
    the dominant principal direction is w; after 3 iterations the
    loadings align with w (|cos| > 0.99) and conv_cos ~ 1."""
    d = 8
    w = [1 / math.sqrt(2), 1 / math.sqrt(2)] + [0.0] * (d - 2)
    rows = []
    for i in range(40):
        scale = 5 + (i % 3)
        noise_dim = i % d
        vec = [scale * w[j] + (0.1 if j == noise_dim else 0.0) for j in range(d)]
        rows.append((i, vec, 0))
    write_tables(tmp_path, embeddings=rows)
    got = sorted(
        registry.QUERIES["embedding_top_pc"](spark, str(tmp_path)).collect(),
        key=lambda r: r.dim,
    )
    assert len(got) == d
    loading = [r.loading for r in got]
    cos = abs(sum(a * b for a, b in zip(loading, w)))
    assert cos > 0.99, f"cos(loading, planted) = {cos}"
    assert got[0].conv_cos > 0.999

"""Semantic pins for the round-8 sixth batch: resource-allocation link
prediction, embedding covariance / centroid-affinity / norm-histogram
terms, and a hand-built Simpson's-paradox flip."""

from __future__ import annotations

from datetime import datetime

from instructions_mr_spark import registry
from tests.conftest import write_tables


_TS = datetime(1995, 6, 1)


def _lines(lines):
    """lines: (orderkey, partkey, discount), numbered from 1."""
    return [
        (ok, pk, 1, i + 1, 1.0, 1.0, float(d), 0.0, "N", "O", _TS)
        for i, (ok, pk, d) in enumerate(lines)
    ]


def test_resource_allocation_hand_graph(spark, tmp_path):
    # co-purchase edges (support >= 2): 1-3, 2-3, 1-4, 2-4; no 1-2, 3-4.
    # RA(1,2) = RA(3,4) = 1e9//2 + 1e9//2 (both connectors have deg 2)
    lines = []
    ok = 0
    for a, b in [(1, 3), (1, 3), (2, 3), (2, 3),
                 (1, 4), (1, 4), (2, 4), (2, 4)]:
        ok += 1
        lines += [(ok, a, 0.0), (ok, b, 0.0)]
    write_tables(tmp_path, lineitem=_lines(lines))
    rows = {
        (r["part_a"], r["part_b"]): (r["n_common"], r["ra_e9"])
        for r in registry.QUERIES["graph_resource_allocation"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {(1, 2): (2, 1000000000), (3, 4): (2, 1000000000)}


def test_embedding_covariance_hand_pairs(spark, tmp_path):
    write_tables(
        tmp_path,
        embeddings=[(1, [1.0, 2.0], 0), (2, [3.0, -1.0], 0)],
    )
    rows = {
        (r["i"], r["j"]): (r["n"], int(r["s_xy"]), r["s_x"], r["s_y"])
        for r in registry.QUERIES["embedding_covariance_terms"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[(1, 1)] == (2, 10_000_000, 4000, 4000)
    assert rows[(1, 2)] == (2, -1_000_000, 4000, 1000)
    assert rows[(2, 2)] == (2, 5_000_000, 1000, 1000)


def test_centroid_affinity_hand_labels(spark, tmp_path):
    # label 0: sums (4000, 0), n=2; label 1: sums (0, 2000), n=1
    write_tables(
        tmp_path,
        embeddings=[(1, [1.0, 0.0], 0), (2, [3.0, 0.0], 0), (3, [0.0, 2.0], 1)],
    )
    [r] = registry.QUERIES["centroid_affinity_terms"](
        spark, str(tmp_path)
    ).collect()
    assert (r["label_a"], r["label_b"], r["n_a"], r["n_b"]) == (0, 1, 2, 1)
    assert (int(r["dot_q"]), int(r["na2_q"]), int(r["nb2_q"])) == (
        0, 16_000_000, 4_000_000,
    )


def test_norm_histogram_buckets(spark, tmp_path):
    # [1,0] -> sumsq 1e6 -> floor(log2) = 19; zero vector -> bucket -1
    write_tables(
        tmp_path,
        embeddings=[(1, [1.0, 0.0], 0), (2, [0.0, 0.0], 0)],
    )
    rows = {
        r["log2_bucket"]: (r["n"], r["min_sumsq"], r["max_sumsq"])
        for r in registry.QUERIES["embedding_norm_histogram"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {19: (1, 1_000_000, 1_000_000), -1: (1, 0, 0)}


def test_simpsons_flip(spark, tmp_path):
    # treat beats control INSIDE both strata but loses overall
    write_tables(tmp_path, part=[
        (1, "p", "B", "PROMO ANODIZED", 5, 1.0),
        (2, "p", "B", "STANDARD X", 5, 1.0),
        (3, "p", "B", "PROMO BURNISHED", 15, 1.0),
        (4, "p", "B", "STANDARD Y", 15, 1.0),
    ])
    lines = [(100, 1, 0.09)] + [(100, 2, 0.08)] * 9  # stratum 0
    lines += [(101, 3, 0.02)] * 9 + [(101, 4, 0.01)]  # stratum 1
    write_tables(tmp_path, lineitem=_lines(lines))
    rows = {
        r["stratum"]: r
        for r in registry.QUERIES["simpsons_paradox_audit"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[0]["treat_higher"] is True
    assert rows[1]["treat_higher"] is True
    assert rows[-1]["treat_higher"] is False  # the flip
    assert (rows[-1]["n_t"], rows[-1]["s_t"]) == (10, 900 + 9 * 200)
    assert (rows[-1]["n_c"], rows[-1]["s_c"]) == (10, 9 * 800 + 100)

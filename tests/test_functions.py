"""Tests for the Column function library (functions/__init__.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from instructions_mr_spark.functions import (
    cosine_sim,
    hamming64,
    jaccard,
    rolling_hash,
    word_shingles,
)


def test_cosine_sim_known_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    got = [r.c for r in df.select(cosine_sim(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == 1.0
    assert got[1] == 0.0
    assert abs(got[2] - 0.707107) < 1e-6


def _random_pairs(n: int, dims: int, seed: int):
    """``n`` pairs of float32 vectors that reach the awkward corners of
    the fold: mixed signs, components near zero, exact zeros and
    float32 subnormals, and whole vectors scaled to 1e-20 or 1e20."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.standard_normal((n, dims))
    b = rng.standard_normal((n, dims))
    for v in (a, b):
        v[rng.random((n, dims)) < 0.05] *= 1e-30
        v[rng.random((n, dims)) < 0.02] = 0.0
        v[rng.random((n, dims)) < 0.01] = 1e-44
        v[rng.random(n) < 0.1] *= 1e-20
        v[rng.random(n) < 0.1] *= 1e20
        v[:, 0] = np.where(v[:, 0] == 0.0, 1.0, v[:, 0])  # no zero vector
    return a.astype(np.float32), b.astype(np.float32)


def test_embedding_math_is_bit_identical_across_engines(spark, tmp_path):
    """cosine_sim / duck_cosine, dot_product / duck_dot and
    spark_sq_l2 / duck_sq_l2 read the same Parquet vectors and must
    return the same doubles bit for bit: every query pairs one with
    the other, and its oracle compares exactly.  These seeds include a
    pair whose cosine lies in (-5e-7, 0), which DuckDB's ROUND alone
    returns as -0.0 and Spark's as 0.0."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from instructions_mr_spark.functions import (
        dot_product,
        duck_cosine,
        duck_dot,
        duck_sq_l2,
        spark_sq_l2,
    )

    n = 2500
    rows = {"id": [], "a": [], "b": []}
    for dims, seed in ((64, 7), (16, 8)):
        a, b = _random_pairs(n, dims, seed)
        rows["id"] += range(len(rows["id"]), len(rows["id"]) + n)
        rows["a"] += [list(x) for x in a]
        rows["b"] += [list(x) for x in b]
    path = str(tmp_path / "pairs.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array(rows["id"], pa.int64()),
                "a": pa.array(rows["a"], pa.list_(pa.float32())),
                "b": pa.array(rows["b"], pa.list_(pa.float32())),
            }
        ),
        path,
    )

    a, b = F.col("a"), F.col("b")
    got = spark.read.parquet(path).select(
        "id",
        cosine_sim(a, b).alias("cos"),
        cosine_sim(F.slice(a, 1, 16), F.slice(b, 1, 16)).alias("cos16"),
        dot_product(a, b).alias("dot"),
        F.expr(spark_sq_l2("a", "b")).alias("l2"),
    )
    want = duckdb.sql(
        f"SELECT id, {duck_cosine('a', 'b')} AS cos,"
        f" {duck_cosine('a', 'b', 16)} AS cos16, {duck_dot('a', 'b')} AS dot,"
        f" {duck_sq_l2('a', 'b')} AS l2 FROM read_parquet('{path}')"
    ).fetchall()
    cols = ("cos", "cos16", "dot", "l2")
    spark_rows = {r.id: tuple(float(r[c]).hex() for c in cols) for r in got.collect()}
    duck_rows = {r[0]: tuple(float(x).hex() for x in r[1:]) for r in want}
    assert len(spark_rows) == len(duck_rows) == 2 * n
    bad = [(i, spark_rows[i], w) for i, w in sorted(duck_rows.items()) if spark_rows[i] != w]
    assert not bad, f"{len(bad)} rows differ, first: {bad[:3]}"


def test_hamming64(spark):
    df = spark.createDataFrame([(0b1011, 0b0011), (5, 5)], "a long, b long")
    got = [r.h for r in df.select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()]
    assert got == [1, 0]


def test_rolling_hash_deterministic_and_prefix_sensitive(spark):
    df = spark.createDataFrame([("abc",), ("abd",), ("abc",)], "s string")
    got = [r.h for r in df.select(rolling_hash(F.col("s")).alias("h")).collect()]
    assert got[0] == got[2]
    assert got[0] != got[1]
    # matches the closed form: a + b*31 + c*31^2 (mod p)
    expected = ord("a") + ord("b") * 31 + ord("c") * 31**2
    assert got[0] == expected


def test_jaccard_and_shingles(spark):
    df = spark.createDataFrame([("a b c d", "b c d e")], "x string, y string")
    out = df.select(
        jaccard(F.split("x", " "), F.split("y", " ")).alias("j"),
        word_shingles(F.col("x"), 3).alias("sh"),
    ).collect()[0]
    assert abs(out.j - 3 / 5) < 1e-9
    assert out.sh == ["a b c", "b c d"]


def test_zorder_column_matches_sql_fragment_and_bijective(spark):
    """zorder_key (Column ops) must equal zorder_key_sql (shared SQL
    fragment) on random coordinates, and the 10-bit curve must be
    bijective over its domain sample."""
    import random

    from pyspark.sql import functions as F

    from instructions_mr_spark.functions import zorder_key, zorder_key_sql

    rng = random.Random(5)
    pts = [(rng.randrange(1024), rng.randrange(1024)) for _ in range(300)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = df.select(
        "x", "y",
        zorder_key(F.col("x"), F.col("y")).alias("zc"),
        F.expr(zorder_key_sql("x", "y")).alias("zs"),
    ).collect()
    keys = set()
    for r in out:
        assert r.zc == r.zs, (r.x, r.y)
        keys.add((r.x, r.y, r.zc))
    # distinct points -> distinct keys (bijective on the 10-bit grid)
    assert len({(x, y) for x, y, _ in keys}) == len({z for _, _, z in keys})

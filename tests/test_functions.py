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


def _rounding_inputs():
    """About 20k doubles at the corners where ROUND implementations
    part: mixed magnitudes of both signs, tiny negatives (DuckDB's
    -0.0), exact halves of both signs (half away from zero at 0
    digits), half cents n/200, n/2000, and +-0.0."""
    import numpy as np

    rng = np.random.default_rng(16)
    halves = np.arange(2000) + 0.5
    return np.concatenate([
        10.0 ** rng.uniform(-3, 6, 8000) * rng.choice([-1.0, 1.0], 8000),
        -(10.0 ** rng.uniform(-14, -5, 2000)),
        halves,
        -halves,
        np.arange(-2000, 2000) / 200,
        rng.integers(-10**6, 10**6, 2000) / 2000,
        [0.0, -0.0],
    ])


def test_round_half_is_bit_identical_across_engines(spark, tmp_path):
    """round_half as SQL text and as a Column on Spark, and as SQL text
    on DuckDB, read the same Parquet doubles and must return
    the same doubles bit for bit at every digit count the queries use.
    A bare ROUND(x, k) pair fails on the same file: at 10 digits on the
    mixed magnitudes, at 2 on the half cents, and on the sign of zero."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from instructions_mr_spark.functions import round_half

    xs = _rounding_inputs()
    path = str(tmp_path / "x.parquet")
    pq.write_table(
        pa.table({"id": pa.array(range(len(xs)), pa.int64()), "x": pa.array(xs)}), path
    )
    digits = (0, 2, 4, 6, 9, 10)
    sql = [round_half("x", k) for k in digits] + ["ROUND(x, 10)", "ROUND(x, 2)"]
    got = spark.read.parquet(path).select(
        "id",
        *[F.expr(e).alias(f"s{i}") for i, e in enumerate(sql)],
        *[round_half(F.col("x"), k).alias(f"c{k}") for k in digits],
    )
    want = duckdb.sql(
        "SELECT id, " + ", ".join(sql) + f" FROM read_parquet('{path}')"
    ).fetchall()
    hexes = lambda vals: tuple(float(v).hex() for v in vals)  # noqa: E731
    spark_rows = {r[0]: hexes(r[1:]) for r in got.collect()}
    duck_rows = {r[0]: hexes(r[1:]) for r in want}
    assert len(spark_rows) == len(duck_rows) == len(xs)
    n = len(digits)
    bad = [
        (xs[i], spark_rows[i][:n], spark_rows[i][-n:], w[:n])
        for i, w in sorted(duck_rows.items())
        if not spark_rows[i][:n] == spark_rows[i][-n:] == w[:n]
    ]
    assert not bad, f"{len(bad)} values differ, first: {bad[:3]}"
    # the fault the seam removes is visible on this file
    bare = {j: sum(spark_rows[i][n + j] != duck_rows[i][n + j] for i in duck_rows) for j in (0, 1)}
    assert bare[0] > 0 and bare[1] > 0, bare


# microseconds per unit of functions.spark_epoch / duck_epoch
_EPOCH_UNITS = {
    "us": 1, "s": 10**6, "hour": 3600 * 10**6, "day": 86400 * 10**6, "week": 604800 * 10**6,
}


def _epoch_inputs() -> list[int]:
    """~20k microsecond timestamps: uniform over 1906-2096 (most carry a
    sub-second part, a third fall before 1970), exact multiples of every
    seam unit and their +-1 us neighbours on both sides of the epoch,
    and 0."""
    import random

    rng = random.Random(18)
    lo, hi = -2_019_686_400_000_000, 3_999_744_000_000_000  # 1906 .. 2096
    xs = [rng.randrange(lo, hi) for _ in range(16_000)]
    for n in _EPOCH_UNITS.values():
        for k in rng.sample(range(-(abs(lo) // n), hi // n), 250) + [-1, 1]:
            xs += [k * n - 1, k * n, k * n + 1]
    return xs + [0]


def test_epoch_units_agree_across_engines(spark, tmp_path):
    """spark_epoch on Spark and duck_epoch on DuckDB read one tz-less
    Parquet file (TIMESTAMP_NTZ in Spark) and one UTC-adjusted file
    (an instant) and must give the same BIGINT at every unit, with
    DuckDB's TimeZone set to UTC and to a non-UTC zone.  The spellings
    the seam replaced fail on the same file: a Spark cast to BIGINT
    floors pre-1970 seconds and DuckDB's ``CAST(epoch(ts) AS BIGINT)``
    rounds them to nearest.  Any other unit raises."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from instructions_mr_spark.functions import duck_epoch, spark_epoch

    for twin in (spark_epoch, duck_epoch):
        with pytest.raises(ValueError):
            twin("ts", "minute")
    xs = _epoch_inputs()
    ids = pa.array(range(len(xs)), pa.int64())
    for tz in (None, "UTC"):
        path = str(tmp_path / f"ts_{tz}.parquet")
        pq.write_table(pa.table({"id": ids, "ts": pa.array(xs, pa.timestamp("us", tz))}), path)
        got = spark.read.parquet(path).select(
            "id", *[F.expr(spark_epoch("ts", u)).alias(u) for u in _EPOCH_UNITS]
        )
        spark_rows = {r[0]: tuple(r[1:]) for r in got.collect()}
        assert len(spark_rows) == len(xs)
        for i, x in enumerate(xs):  # whole units since the epoch, truncated toward zero
            sign = 1 if x >= 0 else -1
            assert spark_rows[i] == tuple(sign * (abs(x) // n) for n in _EPOCH_UNITS.values()), x
        for zone in ("UTC", "America/New_York"):
            con = duckdb.connect()
            con.execute(f"SET TimeZone = '{zone}'")
            want = con.sql(
                "SELECT id, " + ", ".join(duck_epoch("ts", u) for u in _EPOCH_UNITS)
                + f" FROM read_parquet('{path}')"
            ).fetchall()
            bad = [(xs[r[0]], spark_rows[r[0]], r[1:]) for r in want if spark_rows[r[0]] != r[1:]]
            assert not bad, f"{tz}/{zone}: {len(bad)} values differ, first: {bad[:3]}"
    # the fault the seam removes is visible on the tz-less file
    path = str(tmp_path / "ts_None.parquet")
    old_spark = dict(
        spark.read.parquet(path).selectExpr("id", "CAST(CAST(ts AS TIMESTAMP) AS BIGINT)").collect()
    )
    old_duck = dict(
        duckdb.sql(f"SELECT id, CAST(epoch(ts) AS BIGINT) FROM read_parquet('{path}')").fetchall()
    )
    assert sum(old_spark[i] != old_duck[i] for i in old_duck) > 0


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
    assert out.j == 0.6
    assert out.sh == ["a b c", "b c d"]
    import duckdb

    from instructions_mr_spark.functions import duck_jaccard

    a, b = "['a', 'b', 'c', 'd']", "['b', 'c', 'd', 'e']"
    assert duckdb.sql(f"SELECT {duck_jaccard(a, b)}").fetchone()[0] == out.j


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

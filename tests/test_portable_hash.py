"""Cross-engine parity of the portable digest (``functions.spark_hash``
/ ``functions.duck_hash``) — the one primitive every dedup/sampling
oracle leans on.  If Spark and DuckDB ever disagree on a single byte
here, half the registry red-rows, so pin it directly on adversarial
strings (not just through query oracles)."""

from __future__ import annotations

import hashlib

import duckdb
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_hash, spark_hash

STRINGS = [
    "", "a", "hello world", "ünïcode-ø", "tab\tnewline\n", "'quote'",
    "a b c d e f g h", "0", "🙂🙃", "x" * 1000,
]

# (key expression, seed, the Python string it hashes) for the three key
# shapes the package uses: an int seed appends '#<seed>', an unseeded
# key hashes as-is, and a column-salted key carries its salt inline.
KEY_SHAPES = [
    ("s", 13, lambda s: f"{s}#13"),
    ("s", None, lambda s: s),
    ("s || ':' || s", None, lambda s: f"{s}:{s}"),
]


def _pairs(spark, key, seed, hex_digits):
    df = spark.createDataFrame([(s,) for s in STRINGS], "s string")
    frag = spark_hash(key, seed, hex_digits)
    got = {r.s: r.h for r in df.select("s", F.expr(frag).alias("h")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in STRINGS])
    duck = {r[0]: r[1] for r in con.sql(
        f"SELECT s, {duck_hash(key, seed, hex_digits)} AS h FROM t").fetchall()}
    return got, duck


def _python_digest(text: str, hex_digits: int) -> int:
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:hex_digits], 16)


def test_h32_parity(spark):
    for key, seed, salted in KEY_SHAPES:
        got, duck = _pairs(spark, key, seed, 8)
        assert got == duck, key
        # the Python twin (the winnowing kernel's per-gram hashlib loop)
        assert got == {s: _python_digest(salted(s), 8) for s in STRINGS}, key


def test_h60_parity(spark):
    for key, seed, salted in KEY_SHAPES:
        got, duck = _pairs(spark, key, seed, 15)
        assert got == duck, key
        assert got == {s: _python_digest(salted(s), 15) for s in STRINGS}, key
        # 60-bit digests stay within signed BIGINT with headroom
        assert all(0 <= v < 1 << 60 for v in got.values())

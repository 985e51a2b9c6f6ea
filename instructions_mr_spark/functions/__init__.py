"""Reusable Column-level function library (SURVEY.md §2.7 scalar
families + the LLM-pipeline kernels).

Everything here returns Column expressions (JVM-side, codegen'd),
except the portable digest: ``spark_hash`` / ``duck_hash`` render the
same md5-derived integer as Spark SQL and DuckDB text, the one place
the digest format lives.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _salted(key: str, seed: int | None) -> str:
    return key if seed is None else f"{key} || '#{seed}'"


def spark_hash(key: str, seed: int | None = None, hex_digits: int = 8) -> str:
    """Portable integer digest of a SQL expression (Spark SQL side):
    the first ``hex_digits`` hex digits of ``md5(key || '#<seed>')``
    as a BIGINT, i.e. ``int(md5(..).hexdigest()[:hex_digits], 16)``.

    ``key`` is inserted unchanged; an int ``seed`` appends
    ``|| '#<seed>'``, and a key salted with a column expression is
    passed whole with no seed.  8 digits give a 32-bit hash; 15 (the
    most that fits a signed BIGINT) give a 60-bit one, for
    gram/url-cardinality keys where 32 bits birthday-collide past
    ~100k keys.  :func:`duck_hash` renders the same
    bits in DuckDB, so dedup, sampling and sketch oracles can be
    checked exactly; this module is the only one that knows the
    format."""
    return (
        f"CAST(CONV(SUBSTRING(MD5(CAST({_salted(key, seed)} AS BINARY)), 1, {hex_digits}),"
        " 16, 10) AS BIGINT)"
    )


def duck_hash(key: str, seed: int | None = None, hex_digits: int = 8) -> str:
    """DuckDB twin of :func:`spark_hash` (same arguments, same value)."""
    return f"('0x' || substr(md5({_salted(key, seed)}), 1, {hex_digits}))::BIGINT"


def cosine_sim(a: Column, b: Column, digits: int = 6) -> Column:
    """Cosine similarity of two float-array columns, computed in
    doubles with a deterministic left-fold (order-stable across
    engines), rounded for cross-engine comparability."""
    dots = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    dot = F.aggregate(dots, F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return F.round(dot / (na * nb), digits)


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 fingerprints (SimHash
    neighbor test): popcount of xor via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def rolling_hash(text: Column, length: int = 64, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash of the first ``length`` chars:
    sum(ascii(c_i) * base^i) mod p, as a deterministic fingerprint.
    Pure higher-order-function fold — no UDF."""
    chars = F.split(F.substring(text, 1, length), "")
    # fold state: struct(acc hash, pow)
    init = F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p"))
    step = lambda acc, c: F.struct(  # noqa: E731
        ((acc["h"] + F.ascii(c) * acc["p"]) % mod).alias("h"),
        ((acc["p"] * base) % mod).alias("p"),
    )
    return F.aggregate(chars, init, step, lambda acc: acc["h"])


def jaccard(a: Column, b: Column, digits: int = 6) -> Column:
    """Jaccard similarity of two array columns (set semantics)."""
    return F.round(
        F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b)),
        digits,
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column.

    Built by zipping n shifted slices of the word array (linear
    passes) rather than indexing per position — per-index
    ``element_at`` inside ``transform`` is ~10x slower (measured 5.4s
    vs 0.55s over 5000 docs at sf0.1).  Texts with fewer than n words
    yield an empty array."""
    words = F.split(text, " ")
    length = F.size(words) - (n - 1)
    acc = F.slice(words, 1, length)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(words, 1 + j, length), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(length >= 1, F.array_distinct(acc)).otherwise(
        F.array().cast("array<string>")
    )


def zorder_key_sql(x_expr: str, y_expr: str, bits: int = 10) -> str:
    """SQL fragment (valid in Spark SQL AND DuckDB) interleaving the
    low ``bits`` of two non-negative ints into one Morton/Z-curve key:
    sorting or range-partitioning on it clusters data so a filter on
    EITHER column skips most row groups — multi-column data skipping
    without a table format's Z-ORDER command.  Pure integer bit ops,
    shared verbatim with the oracle so the curves cannot drift."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x_expr} >> {b}) & 1) * {1 << (2 * b)})")
        terms.append(f"((({y_expr} >> {b}) & 1) * {1 << (2 * b + 1)})")
    return "(" + " + ".join(terms) + ")"


def zorder_key(x: Column, y: Column, bits: int = 10) -> Column:
    """Column form of zorder_key_sql (same bit math via Column ops)."""
    from pyspark.sql import functions as F

    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + (
            F.shiftleft(F.shiftright(x.cast("long"), b).bitwiseAND(1), 2 * b)
            + F.shiftleft(F.shiftright(y.cast("long"), b).bitwiseAND(1), 2 * b + 1)
        )
    return out

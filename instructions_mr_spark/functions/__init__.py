"""Reusable Column-level function library (SURVEY.md §2.7 scalar
families + the LLM-pipeline kernels).

Most functions here return Column expressions (JVM-side).  The
``spark_*`` / ``duck_*`` twins render the same formula as Spark SQL and
DuckDB text, so a query and its oracle cannot drift; this module is the
one place each of these formulas lives:

- the portable digest: ``spark_hash`` / ``duck_hash``;
- embedding similarity: ``dot_product``, ``l2_norm``,
  ``cosine_with_norms`` and ``cosine_sim`` as Columns, ``spark_dot`` /
  ``spark_sq_l2`` as Spark SQL, ``duck_dot`` / ``duck_cosine`` /
  ``duck_sq_l2`` as DuckDB SQL;
- the sign-bit LSH bucket: ``sign_bucket`` / ``duck_sign_bucket``;
- rounding: ``round_half`` (SQL text or Column); no other module
  spells a ``ROUND``;
- event time: ``spark_epoch`` / ``duck_epoch``, whole units since the
  epoch; no other module spells an epoch function;
- Jaccard similarity: ``jaccard`` / ``duck_jaccard``.
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


def round_half(x: str | Column, k: int) -> str | Column:
    """``x`` rounded half away from zero to ``k`` decimals, as SQL text
    (the same on both engines) or as a Column, that Spark and DuckDB
    evaluate bit for bit.  A bare ``ROUND(x, k)`` is not portable: Spark
    rounds the shortest decimal string HALF_UP, DuckDB computes
    ``round(x * 10^k) / 10^k``; they part at k >= 9 and on exact halves.
    ``+ 0.0`` turns DuckDB's -0.0 into Spark's 0.0.

    Domain: a DOUBLE, FLOAT or integer ``x``; the result is a DOUBLE.  A
    DECIMAL becomes a DOUBLE first by the ``queries._util`` output-type
    rule (DuckDB's DECIMAL->DOUBLE cast misrounds above 2^53).  A 1-ulp
    libm difference (LN, EXP) still flips a value within an ulp of a
    rounding boundary."""
    if isinstance(x, Column):
        scale = F.lit(float(10**k))
        return F.round(x * scale) / scale + F.lit(0.0)
    return f"(ROUND(({x}) * 1e{k}) / 1e{k} + 0.0)"


# Microseconds per unit of ``spark_epoch`` / ``duck_epoch``.
_EPOCH_US = {
    "us": 1,
    "s": 1_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def _epoch_div(unit: str, op: str) -> str:
    if unit not in _EPOCH_US:
        raise ValueError(f"epoch unit {unit!r} is not one of {sorted(_EPOCH_US)}")
    return "" if unit == "us" else f" {op} {_EPOCH_US[unit]}"


def spark_epoch(x: str, unit: str = "us") -> str:
    """Whole ``unit``s since 1970-01-01 UTC of the SQL expression ``x``,
    as Spark SQL text; :func:`duck_epoch` renders the same value in
    DuckDB.  ``unit`` is one of ``us``, ``s``, ``hour``, ``day``,
    ``week``; a column caller wraps the text in ``F.expr``.

    Domain: ``x`` is a TIMESTAMP, TIMESTAMP_NTZ or DATE; the result is
    a BIGINT, truncated toward zero on both engines, which equals the
    floor at or after 1970 (the tables hold 1995-2024).  ``unix_micros``
    rejects TIMESTAMP_NTZ, so Spark casts through TIMESTAMP first; the
    cast is exact because the session time zone is UTC.  DuckDB takes
    no cast, so a UTC-adjusted file does not depend on its
    ``TimeZone``."""
    return f"(unix_micros(CAST(({x}) AS TIMESTAMP)){_epoch_div(unit, 'DIV')})"


def duck_epoch(x: str, unit: str = "us") -> str:
    """DuckDB twin of :func:`spark_epoch` (same arguments, same value)."""
    return f"(epoch_us({x}){_epoch_div(unit, '//')})"


# Embedding similarity.  Every dot product is a left fold, in
# dimension order, of float components widened to double; cosine is
# rounded to COSINE_DIGITS.  Both engines run the same IEEE operations
# in the same order, so the two renderings below agree bit for bit.
COSINE_DIGITS = 6


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns, as a double left fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """L2 norm of a float-array column.  Pair joins hoist it into the
    per-vector projection: higher-order functions run interpreted, so
    two norms per candidate pair cost ~2.6 s of the SemDeDup join-back
    at sf0.1 (178k pairs) where one pass over 2k vectors is cheap.  The
    hoisted value is the same double."""
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their L2 norms ``na``, ``nb``."""
    return round_half(dot_product(a, b) / (na * nb), COSINE_DIGITS)


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns; ``duck_cosine`` is
    its DuckDB twin."""
    return cosine_with_norms(a, b, l2_norm(a), l2_norm(b))


def spark_dot(a: str, b: str) -> str:
    """:func:`dot_product` as Spark SQL text, for hand-built strings
    whose second operand is a literal array (one parse instead of a
    py4j call per literal)."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def spark_sq_l2(a: str, b: str) -> str:
    """Squared L2 distance as Spark SQL text; ``duck_sq_l2`` is its
    DuckDB twin."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def duck_dot(a: str, b: str, dims: int | None = None) -> str:
    """DuckDB twin of :func:`dot_product` over the first ``dims``
    components (all of them by default)."""
    n = f"len({a})" if dims is None else dims
    return (
        f"list_reduce(list_transform(range(1, {n} + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
        " (a, b) -> a + b)"
    )


def _duck_norm(a: str) -> str:
    return f"sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * x), (a,b) -> a+b))"


def duck_cosine(a: str, b: str, dims: int | None = None) -> str:
    """DuckDB twin of :func:`cosine_sim`; ``dims`` scores only the first
    ``dims`` components, like ``cosine_sim`` over ``F.slice(.., 1, dims)``."""
    na, nb = (a, b) if dims is None else (f"{a}[1:{dims}]", f"{b}[1:{dims}]")
    return round_half(
        f"{duck_dot(a, b, dims)} / ({_duck_norm(na)} * {_duck_norm(nb)})", COSINE_DIGITS
    )


def duck_sq_l2(a: str, b: str) -> str:
    """DuckDB twin of :func:`spark_sq_l2`."""
    d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), i -> {d} * {d}),"
        " (a, b) -> a + b)"
    )


def sign_bucket(a: str, dims: int) -> Column:
    """Sign-bit LSH bucket: bit i is set when component i+1 of the
    embedding is positive, over the first ``dims`` components."""
    return F.aggregate(
        F.zip_with(
            F.slice(a, 1, dims),
            F.array([F.lit(1 << i) for i in range(dims)]),
            lambda x, p: F.when(x > 0, p).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def duck_sign_bucket(a: str, dims: int) -> str:
    """DuckDB twin of :func:`sign_bucket`."""
    return (
        f"list_aggregate(list_transform(range(1, {dims + 1}),"
        f" i -> CASE WHEN {a}[i] > 0 THEN (1 << (i-1)) ELSE 0 END), 'sum')"
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


def jaccard(a: Column | str, b: Column | str) -> Column:
    """Jaccard similarity of two array columns (set semantics), rounded
    to 6 digits; ``duck_jaccard`` is its DuckDB twin."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return round_half(inter / F.size(F.array_union(a, b)), 6)


def duck_jaccard(a: str, b: str) -> str:
    """DuckDB twin of :func:`jaccard`."""
    inter = f"CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
    return round_half(f"{inter} / len(list_distinct({a} || {b}))", 6)


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

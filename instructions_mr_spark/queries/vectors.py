"""Embedding-geometry operators beyond the ANN/dedup families.

The round-8 sixth batch: exact dimension-pair covariance terms (the
input sheet for whitening / PCA sanity checks), label-centroid
affinity terms (are class clusters angularly separated?), and a
log2-bucketed norm histogram (the norm-spread screen that decides
whether inner-product and cosine retrieval differ materially).

All three follow the engine's integer-moments convention: embeddings
quantize to 1e3 fixed point FIRST, every downstream moment is exact
BIGINT/DECIMAL arithmetic (a DECIMAL sum leaves as the nearest DOUBLE,
the _util output-type rule), and anything irrational (sqrt, cosine) is
left to the consumer with its numerator/denominator terms emitted — so
both engines agree bit-for-bit at any scale.

Reference parity note: the reference engine (instructions-mr,
/root/reference — a sequential LLM prompt-pipeline, ~1.1k LoC) has no
vector operators; this family extends the training-data surface
(SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.queries._util import dec_double, t
from instructions_mr_spark.registry import query

_QE_SPARK = (
    "transform(embedding,"
    " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
)
_QE_DUCK = (
    "list_transform(embedding,"
    " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
)


def _exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, i, x) — 1-based dim index, 1e3-quantized value."""
    return (
        t(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", F.expr(_QE_SPARK).alias("qe")
        )
        .select(
            "vec_id",
            "label",
            F.posexplode("qe").alias("i0", "x"),
        )
        .select(
            "vec_id", "label", (F.col("i0") + 1).alias("i"), "x"
        )
    )


# ------------------------------------ dimension-pair covariance


@query(
    "embedding_covariance_terms",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_QE_DUCK} AS qe FROM embeddings
    ),
    ex AS (
      SELECT vec_id,
             unnest(generate_series(1, len(qe))) AS i,
             unnest(qe) AS x
      FROM q
    )
    SELECT a.i, b.i AS j,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dec_double("SUM(CAST(a.x AS DECIMAL(38,0)) * b.x)")} AS s_xy,
           CAST(SUM(a.x) AS BIGINT) AS s_x,
           CAST(SUM(b.x) AS BIGINT) AS s_y
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY 1, 2
    """,
)
def embedding_covariance_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance sufficient statistics for every dimension pair
    (i <= j) of the embedding matrix: pair count, cross-product sum
    and both marginal sums in 1e3 fixed point — cov(i,j) and the full
    correlation matrix assemble from these by exact division, which
    is how you check an embedding space for dead / duplicated /
    entangled dimensions before trusting PCA or whitening on it.
    Cross products accumulate in DECIMAL(38,0): 1e12 rows x (4e3)^2
    per-row magnitude stays far inside the 38-digit envelope where
    BIGINT would overflow.  The sum leaves as the nearest DOUBLE.

    Scale shape: one posexplode (d rows per vector) and a SELF-join
    co-located on vec_id (the equi-key; the i<=j predicate filters
    inside the join), then a (d^2/2)-key map-side-combinable rollup —
    output is dims^2, independent of corpus size."""
    ex = _exploded(spark, sf_dir).select("vec_id", "i", "x")
    a, b = ex.alias("a"), ex.alias("b")
    pairs = a.join(
        b,
        (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("b.i") >= F.col("a.i")),
    )
    return pairs.groupBy(
        F.col("a.i").alias("i"), F.col("b.i").alias("j")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(dec_double("SUM(CAST(a.x AS DECIMAL(38,0)) * b.x)"))
        .alias("s_xy"),
        F.sum("a.x").cast("bigint").alias("s_x"),
        F.sum("b.x").cast("bigint").alias("s_y"),
    )


# ------------------------------------- label-centroid affinity


@query(
    "centroid_affinity_terms",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_QE_DUCK} AS qe FROM embeddings
    ),
    ex AS (
      SELECT label,
             unnest(generate_series(1, len(qe))) AS i,
             unnest(qe) AS x
      FROM q
    ),
    sums AS (
      SELECT label, i, CAST(SUM(x) AS BIGINT) AS s
      FROM ex GROUP BY 1, 2
    ),
    n AS (SELECT label, COUNT(*) AS n_vecs FROM q GROUP BY 1)
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(na.n_vecs AS BIGINT) AS n_a,
           CAST(nb.n_vecs AS BIGINT) AS n_b,
           {dec_double("SUM(CAST(a.s AS DECIMAL(38,0)) * b.s)")} AS dot_q,
           {dec_double("SUM(CAST(a.s AS DECIMAL(38,0)) * a.s)")} AS na2_q,
           {dec_double("SUM(CAST(b.s AS DECIMAL(38,0)) * b.s)")} AS nb2_q
    FROM sums a
    JOIN sums b ON a.i = b.i AND a.label < b.label
    JOIN n na ON na.label = a.label
    JOIN n nb ON nb.label = b.label
    GROUP BY 1, 2, 3, 4
    """,
)
def centroid_affinity_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Angular affinity terms between every pair of label centroids:
    with per-label per-dimension EXACT sums s (centroid = s / n), the
    emitted dot_q = Σ s_a·s_b, na2_q = Σ s_a², nb2_q = Σ s_b² give
    cos(centroid_a, centroid_b) = dot_q / sqrt(na2_q · nb2_q)
    independent of n — the class-separation readout that predicts
    label confusability before training a classifier head.  The sqrt
    is the consumer's (it is irrational; the terms are exact).

    Scale shape: the corpus collapses to a (label x dim) sum table in
    one exchange; everything after runs on that tiny table (pair join
    on dim index, label-count broadcast) — output is label-pairs,
    independent of corpus size."""
    ex = _exploded(spark, sf_dir)
    sums = ex.groupBy("label", "i").agg(
        F.sum("x").cast("bigint").alias("s")
    )
    n = (
        t(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    a, b = sums.alias("a"), sums.alias("b")
    pairs = a.join(
        b, (F.col("a.i") == F.col("b.i")) & (F.col("a.label") < F.col("b.label"))
    )
    na = n.select(F.col("label").alias("la"), F.col("n_vecs").alias("n_a"))
    nb = n.select(F.col("label").alias("lb"), F.col("n_vecs").alias("n_b"))
    return (
        pairs.groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.expr(dec_double("SUM(CAST(a.s AS DECIMAL(38,0)) * b.s)"))
            .alias("dot_q"),
            F.expr(dec_double("SUM(CAST(a.s AS DECIMAL(38,0)) * a.s)"))
            .alias("na2_q"),
            F.expr(dec_double("SUM(CAST(b.s AS DECIMAL(38,0)) * b.s)"))
            .alias("nb2_q"),
        )
        .join(F.broadcast(na), F.col("label_a") == F.col("la"))
        .join(F.broadcast(nb), F.col("label_b") == F.col("lb"))
        .select(
            "label_a",
            "label_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "dot_q",
            "na2_q",
            "nb2_q",
        )
    )


# --------------------------------------- norm histogram (log2)


@query(
    "embedding_norm_histogram",
    oracle=f"""
    WITH q AS (
      SELECT label,
             CAST(list_sum(list_transform({_QE_DUCK}, x -> x * x))
                  AS BIGINT) AS sumsq
      FROM embeddings
    )
    SELECT label,
           CAST(CASE WHEN sumsq = 0 THEN -1
                ELSE length(bin(sumsq)) - 1 END AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(sumsq) AS BIGINT) AS min_sumsq,
           CAST(MAX(sumsq) AS BIGINT) AS max_sumsq
    FROM q GROUP BY 1, 2
    """,
)
def embedding_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of squared embedding norms per label:
    bucket = floor(log2(Σ x_q²)) computed EXACTLY as the bit length
    of the integer sum-of-squares (length of its binary rendering
    minus one — no floating log anywhere), zero vectors pinned to
    bucket -1.  A wide norm spread means inner-product and cosine
    retrieval disagree and vectors need normalizing before ANN; this
    is that one-glance screen.

    Scale shape: per-row lambda math on the scan (JVM higher-order
    functions), then one (label x ~40 buckets)-key rollup — map-side
    combinable, output bounded by the bucket domain."""
    q = t(spark, sf_dir, "embeddings").select(
        "label",
        F.expr(
            f"CAST(aggregate({_QE_SPARK}, CAST(0 AS BIGINT),"
            f" (a, x) -> a + x * x) AS BIGINT)"
        ).alias("sumsq"),
    )
    return q.groupBy(
        "label",
        F.expr(
            "CAST(CASE WHEN sumsq = 0 THEN -1"
            " ELSE length(bin(sumsq)) - 1 END AS BIGINT)"
        ).alias("log2_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("sumsq").cast("bigint").alias("min_sumsq"),
        F.max("sumsq").cast("bigint").alias("max_sumsq"),
    )

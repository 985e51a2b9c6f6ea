"""Statistical feature-engineering / data-profiling queries: group-wise
normalization, robust outlier gating, distribution entropy, and exact
percentile summaries.  Reference status: the reference engine has no
aggregation surface at all (SURVEY.md §2.6) — EXT mandate, standard
preprocessing shapes for a training-data pipeline.

Scale notes: every query here is one keyed exchange (groupBy or
window on the group key) plus in-row arithmetic — no driver-side
state, no collect.  Exact percentiles shuffle the group's values to
one reducer per group; at 100 TB switch the same call sites to
``approx_percentile`` (t-digest, mergeable partials) — the query
shapes are otherwise identical.
"""

from __future__ import annotations
from instructions_mr_spark.plans.guard import literal_df

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from instructions_mr_spark.functions import (
    duck_epoch, duck_hash, duck_sign_bucket, round_half, sign_bucket, spark_epoch, spark_hash,
)
from instructions_mr_spark.queries._util import (
    DEC_PRICE,
    dec_double,
    supersede_checkpoint,
    t,
)
from instructions_mr_spark.registry import query

# z-score from EXACT decimal moments, shared verbatim by both engines
# (the float-stability rule in _util.py): native AVG/STDDEV over
# millions of doubles accumulate in engine-dependent order and can
# flip a 6-digit rounding at scale; decimal S1/S2 are exact, and the
# double arithmetic derived from them is bit-identical everywhere.
_Z_WIN = "OVER (PARTITION BY l_returnflag)"
_Z_N = f"COUNT(*) {_Z_WIN}"
_Z_S1 = f"CAST(SUM({DEC_PRICE}) {_Z_WIN} AS DOUBLE)"
_Z_S2 = f"CAST(SUM({DEC_PRICE} * {DEC_PRICE}) {_Z_WIN} AS DOUBLE)"
_Z_EXPR = round_half(f"(l_extendedprice - {_Z_S1} / {_Z_N}) / "
                     f"SQRT(({_Z_S2} - {_Z_S1} * {_Z_S1} / {_Z_N}) / ({_Z_N} - 1))", 6)


@query(
    "zscore_by_group",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           {_Z_EXPR} AS zscore
    FROM lineitem
    """,
)
def zscore_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score normalization (feature scaling within a
    category): one hash exchange on the group key, then window
    aggregates that share the partitioning — no join-back.  Moments
    via exact decimal sums (see _Z_EXPR note)."""
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.expr(_Z_EXPR).alias("zscore"),
    )


@query(
    "outlier_iqr",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           {round_half('q.q3 + 1.5 * (q.q3 - q.q1)', 6)} AS upper_fence
    FROM events e JOIN q USING (event_type)
    WHERE e.value > q.q3 + 1.5 * (q.q3 - q.q1)
    """,
)
def outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier gate per group: exact Q1/Q3 of event value
    per event_type (tiny aggregate), broadcast back onto the fact
    scan, keep rows above Q3 + 1.5*IQR.  The quantile table is
    group-count-sized, so the join is always a broadcast."""
    e = t(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    fence = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        e.join(F.broadcast(q), "event_type")
        .filter(F.col("value") > fence)
        .select(
            "event_id",
            "event_type",
            "value",
            round_half(fence, 6).alias("upper_fence"),
        )
    )


_ENTROPY_CELL = round_half("(CAST(c.c AS DOUBLE) / t.n) * log2(CAST(c.c AS DOUBLE) / t.n)", 10)


@query(
    "column_entropy",
    oracle=f"""
    WITH counted AS (
      SELECT column_name, v, COUNT(*) AS c FROM (
        SELECT 'lang' AS column_name, lang AS v FROM documents
        UNION ALL SELECT 'source', source FROM documents
        UNION ALL SELECT 'event_type', event_type FROM events
      ) GROUP BY column_name, v
    ), tot AS (
      SELECT column_name, SUM(c) AS n, COUNT(*) AS n_distinct
      FROM counted GROUP BY column_name
    )
    SELECT c.column_name, t.n_distinct,
           {round_half(f"-CAST(SUM(CAST({_ENTROPY_CELL} AS DECIMAL(38,10))) AS DOUBLE)", 6)}
             AS entropy_bits
    FROM counted c JOIN tot t USING (column_name)
    GROUP BY c.column_name, t.n_distinct
    """,
)
def column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of categorical column distributions — the
    data-profiling signal for near-constant columns (entropy ~ 0) and
    key-like columns (entropy ~ log2 n).  Shape: union of projections,
    one count per (column, value), one small rollup; everything keyed,
    map-side partials throughout."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "events")
    stacked = (
        d.select(F.lit("lang").alias("column_name"), F.col("lang").alias("v"))
        .unionByName(
            d.select(F.lit("source").alias("column_name"), F.col("source").alias("v"))
        )
        .unionByName(
            e.select(
                F.lit("event_type").alias("column_name"),
                F.col("event_type").alias("v"),
            )
        )
    )
    counted = stacked.groupBy("column_name", "v").agg(F.count("*").alias("c"))
    tot = counted.groupBy("column_name").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct")
    )
    p = F.col("c").cast("double") / F.col("n")
    # Per-term 10-decimal round + DECIMAL(38,10) sum: exact and
    # order-free under any partitioning/engine (the float-stability
    # convention the LM-score oracles use), so the output can carry
    # 6 decimals instead of the old 4-decimal accepted-drift bound.
    term = round_half(p * F.log2(p), 10).cast("decimal(38,10)")
    return (
        counted.join(tot, "column_name")
        .groupBy("column_name", "n_distinct")
        .agg(
            round_half((-F.sum(term)).cast("double"), 6).alias("entropy_bits")
        )
    )


@query(
    "token_percentiles",
    oracle=f"""
    WITH m AS (
      SELECT len(string_split(text, ' ')) AS n_tokens, n_chars FROM documents
    )
    SELECT {round_half('quantile_cont(n_tokens, 0.10)', 6)} AS tok_p10,
           {round_half('quantile_cont(n_tokens, 0.50)', 6)} AS tok_p50,
           {round_half('quantile_cont(n_tokens, 0.90)', 6)} AS tok_p90,
           {round_half('quantile_cont(n_tokens, 0.99)', 6)} AS tok_p99,
           {round_half('quantile_cont(n_chars, 0.50)', 6)} AS chars_p50,
           {round_half('quantile_cont(n_chars, 0.99)', 6)} AS chars_p99
    FROM m
    """,
)
def token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length-distribution summary of the corpus (the numbers
    behind truncation/packing decisions for a training run).  Exact
    ``percentile`` here; at 100 TB use ``approx_percentile`` — same
    query shape, mergeable sketch instead of a per-group sort."""
    d = t(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).alias("n_tokens"), "n_chars"
    )
    pct = lambda c, p: round_half(F.expr(f"percentile({c}, {p})"), 6)  # noqa: E731
    return d.agg(
        pct("n_tokens", 0.10).alias("tok_p10"),
        pct("n_tokens", 0.50).alias("tok_p50"),
        pct("n_tokens", 0.90).alias("tok_p90"),
        pct("n_tokens", 0.99).alias("tok_p99"),
        pct("n_chars", 0.50).alias("chars_p50"),
        pct("n_chars", 0.99).alias("chars_p99"),
    )


@query(
    "sketch_hll_merge",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS merge_ok
    FROM events GROUP BY event_type
    """,
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Spark 4 datasketches): per-group user
    cardinality computed by sketching two DISJOINT halves of the data
    separately and hll_union_agg-ing the binary sketches — the
    mergeable-partial shape that lets 1000 executors sketch locally
    and combine at 100 TB with constant memory.  Sketch bytes are
    engine-specific, so the contract oracle pins the union estimate
    to within 5% of exact (boolean TRUE), like agg_approx_distinct."""
    e = t(spark, sf_dir, "events").withColumn(
        "half", (F.col("event_id") % 2).cast("int")
    )
    halves = e.groupBy("event_type", "half").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    merged = halves.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users") + 1
        ).alias("merge_ok"),
    )


@query(
    "sketch_theta_union",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS exact_union,
           TRUE AS union_ok
    FROM events WHERE event_type IN ('view', 'purchase')
    """,
)
def sketch_theta_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Spark 4): set-expression cardinality across
    segments — distinct users who viewed OR purchased, from two
    independently-built sketches theta_union_agg'd together.  Unlike
    HLL, theta sketches also support intersection/difference, the
    audience-overlap shapes.  Contract oracle: union estimate within
    5% of exact, pinned TRUE."""
    e = t(spark, sf_dir, "events")
    sketches = (
        e.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
    )
    est = sketches.agg(
        F.expr("theta_sketch_estimate(theta_union_agg(sk))").alias("est")
    )
    exact = e.filter(F.col("event_type").isin("view", "purchase")).agg(
        F.countDistinct("user_id").alias("exact_union")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_union",
        (
            F.abs(F.col("est") - F.col("exact_union"))
            <= 0.05 * F.col("exact_union") + 1
        ).alias("union_ok"),
    )


@query(
    "dataset_manifest",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(SUM({duck_hash('text')}) AS BIGINT)
             AS content_checksum
    FROM documents GROUP BY source
    """,
)
def dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset manifest: row count, token total, key range,
    and an ORDER-INDEPENDENT content checksum (sum of 32-bit text
    fingerprints) — the artifact a pipeline writes next to a
    materialized dataset so a re-read (or a second cluster) can verify
    integrity without re-shuffling anything.  Commutative sum means
    partial aggregation works and partition order never matters."""
    d = t(spark, sf_dir, "documents")
    fp32 = F.expr(spark_hash("text"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum(fp32).cast("bigint").alias("content_checksum"),
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT doc_id, source, md5(text) AS dg FROM documents
      WHERE doc_id % 7 != 0
    ), b AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS dg
      FROM documents WHERE doc_id % 5 != 0
    ), j AS (
      SELECT COALESCE(a.source, b.source) AS source,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.dg IS DISTINCT FROM b.dg THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b USING (doc_id)
    )
    SELECT source,
           COUNT(*) FILTER (WHERE status = 'added') AS n_added,
           COUNT(*) FILTER (WHERE status = 'removed') AS n_removed,
           COUNT(*) FILTER (WHERE status = 'changed') AS n_changed,
           COUNT(*) FILTER (WHERE status = 'unchanged') AS n_unchanged
    FROM j GROUP BY source
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the incremental-ingestion planning step:
    given two dataset versions, classify every doc as added / removed /
    changed / unchanged by content digest and report per-source counts
    (what a nightly 100 TB refresh logs before deciding what to
    reprocess).  Snapshots here are deterministic views of the corpus
    (A drops doc_id%7==0, B drops %5==0 and rewrites %11==0) so the
    oracle is exact.

    Scale shape: both sides reduce to (doc_id, source, digest) at the
    scan — the full outer join shuffles digests and ids only, never
    bodies; the per-source rollup is a tiny aggregate.  This is
    dedup_incremental's admission check generalized to a three-way
    diff."""
    d = t(spark, sf_dir, "documents")
    # Explicit presence markers: classification must key on "row exists
    # on that side", not on digest nullability — a NULL text value on a
    # row present in both snapshots has a NULL digest but is still
    # present (it would otherwise misread as 'added'/'removed').
    a = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.col("source").alias("src_a"),
        F.md5(F.col("text").cast("binary")).alias("dg_a"),
        F.lit(True).alias("in_a"),
    )
    b = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.col("source").alias("src_b"),
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 0, F.concat("text", F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("dg_b"),
        F.lit(True).alias("in_b"),
    )
    j = a.join(b, "doc_id", "full").select(
        F.coalesce("src_a", "src_b").alias("source"),
        F.when(F.col("in_a").isNull(), "added")
        .when(F.col("in_b").isNull(), "removed")
        .when(~F.col("dg_a").eqNullSafe(F.col("dg_b")), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return j.groupBy("source").agg(
        F.count(F.when(F.col("status") == "added", 1)).alias("n_added"),
        F.count(F.when(F.col("status") == "removed", 1)).alias("n_removed"),
        F.count(F.when(F.col("status") == "changed", 1)).alias("n_changed"),
        F.count(F.when(F.col("status") == "unchanged", 1)).alias("n_unchanged"),
    )


_DIM_MEAN = "CAST(SUM(xi) AS DOUBLE) / 1e8 / COUNT(*)"
_DIM_VAR = round_half(
    f"{dec_double('SUM(CAST(xi AS DECIMAL(38,0)) * xi)')} / 1e16 / COUNT(*)"
    f" - ({_DIM_MEAN}) * ({_DIM_MEAN})", 9
)


@query(
    "embedding_dim_stats",
    oracle=f"""
    WITH dims AS (
      SELECT u.i - 1 AS dim,
             CAST({round_half('CAST(embedding[u.i] AS DOUBLE) * 100000000', 0)} AS BIGINT) AS xi
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
    )
    SELECT dim,
           COUNT(*) AS n,
           {round_half(_DIM_MEAN, 9)} AS mean,
           {_DIM_VAR} AS var,
           {round_half('CAST(MIN(xi) AS DOUBLE) / 1e8', 9)} AS min_x,
           {round_half('CAST(MAX(xi) AS DOUBLE) / 1e8', 9)} AS max_x
    FROM dims GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA: mean/variance/range for every
    vector dimension — the health check that catches dead dimensions
    (var ~ 0), un-normalized batches (means far from 0), and clipped
    activations (max pinned) before they poison similarity search.

    Scale shape: posexplode over the vector column is the only
    corpus-sized step; the aggregate keys on the dimension index
    (fixed cardinality = vector width, perfectly balanced).  Moments
    are DECIMAL-exact sums (order-free); the mean/var division to
    DOUBLE happens once per dimension from identical integers-scaled
    decimals on both engines."""
    e = t(spark, sf_dir, "embeddings")
    # fixed-point at 1e-8: both engines round the SAME double to the
    # SAME integer, and the sums are then exact (BIGINT / DECIMAL(38))
    # — a float->DECIMAL cast instead differs at the representation
    # edge (measured 1e-9 var drift)
    dims = e.select(F.posexplode("embedding").alias("dim", "raw")).select(
        "dim",
        F.expr(f"CAST({round_half('CAST(raw AS DOUBLE) * 100000000', 0)} AS BIGINT)").alias("xi"),
    )
    return dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(round_half(_DIM_MEAN, 9)).alias("mean"),
        F.expr(_DIM_VAR).alias("var"),
        F.expr(round_half('CAST(MIN(xi) AS DOUBLE) / 1e8', 9)).alias("min_x"),
        F.expr(round_half('CAST(MAX(xi) AS DOUBLE) / 1e8', 9)).alias("max_x"),
    )


# ---------------------------------------------- k-anonymity audit

_KANON_K = 5
_KANON_BUCKET = 50  # n_chars bucket width


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH classes AS (
      SELECT lang, source,
             CAST(FLOOR(n_chars / {_KANON_BUCKET}.0) AS BIGINT) AS chars_bucket,
             COUNT(*) AS class_size
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_docs,
           CAST(CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
             AS below_k
    FROM classes GROUP BY class_size
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (lang, source,
    bucketed length): the histogram of equivalence-class sizes, with
    classes smaller than k={_KANON_K} flagged — documents in such
    classes are re-identifiable by their metadata alone, the privacy
    screen a training corpus runs before release (Sweeney's
    k-anonymity, applied to corpus metadata instead of database
    rows).  Remediation (suppress or generalize the flagged classes)
    joins this table back by class key.

    Scale shape: one group-by on the quasi-identifier tuple, then a
    tiny group-by on class size.  Floor-division buckets the
    continuous column so both engines agree exactly (integer
    arithmetic, no rounded double)."""
    d = t(spark, sf_dir, "documents")
    classes = d.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / _KANON_BUCKET).cast("bigint").alias("chars_bucket"),
    ).agg(F.count("*").alias("class_size"))
    return classes.groupBy("class_size").agg(
        F.count("*").alias("n_classes"),
        F.sum("class_size").alias("n_docs"),
        F.when(F.col("class_size") < _KANON_K, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("below_k"),
    )


# ------------------------------------- per-label embedding centroid QA


@query(
    "embedding_label_centroid",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, label, u.i - 1 AS dim,
             CAST({round_half('CAST(embedding[u.i] AS DOUBLE) * 100000000', 0)} AS BIGINT) AS xi
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
    ),
    cent AS (
      SELECT label, dim, SUM(xi) AS sx, COUNT(*) AS n
      FROM dims GROUP BY label, dim
    ),
    per_vec AS (
      SELECT d.vec_id, d.label,
             SUM(CAST(d.xi * c.n - c.sx AS DECIMAL(38,0))
                 * CAST(d.xi * c.n - c.sx AS DECIMAL(38,0))) AS num,
             MAX(c.n) AS n
      FROM dims d JOIN cent c ON d.label = c.label AND d.dim = c.dim
      GROUP BY d.vec_id, d.label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {round_half('CAST(SUM(num) AS DOUBLE)'
                 ' / (1e16 * CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) AS DOUBLE))'
                 ' / COUNT(*)', 9)} AS mean_dist2,
           {round_half('CAST(MAX(num) AS DOUBLE)'
                 ' / (1e16 * CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) AS DOUBLE))', 9)}
             AS max_dist2,
           CAST(split_part(MAX(lpad(CAST(num AS VARCHAR), 40, '0') || '_'
                || lpad(CAST(vec_id AS VARCHAR), 12, '0')), '_', 2) AS BIGINT)
             AS far_vec_id
    FROM per_vec GROUP BY label
    """,
)
def embedding_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-cluster QA: squared distance of every
    vector to its LABEL centroid, rolled up to (count, mean, max,
    farthest vector) per label — the mislabel/outlier screen run on
    an embedded corpus before the labels drive mixture decisions.  A
    label whose max_dist2 dwarfs its mean has mislabeled members;
    far_vec_id is the first candidate to inspect.

    Exactness: the centroid DIVISION never happens — distances use
    the common-denominator form (xi*n - sum_x)^2 / (1e8*n)^2, where
    the numerator is an exact DECIMAL(38) sum of fixed-point (1e-8)
    integers on BOTH engines, and the single final division of
    identical integers is bit-identical (the embedding_dim_stats
    fixed-point rule extended to joins-with-aggregates).

    Scale shape: posexplode -> (label, dim) centroid aggregate (tiny:
    labels x dims rows, broadcast back) -> per-vec numerator sum ->
    per-label rollup.  The only corpus-sized exchange is the per-vec
    group-by, keyed on (vec_id, label) int pairs; the farthest-vector
    election is max(struct) over exact integers, no window."""
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "raw"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.expr(f"CAST({round_half('CAST(raw AS DOUBLE) * 100000000', 0)} AS BIGINT)").alias("xi"),
    )
    cent = dims.groupBy("label", "dim").agg(
        F.sum("xi").alias("sx"), F.count("*").alias("n")
    )
    per_vec = (
        dims.join(F.broadcast(cent), ["label", "dim"])
        .select(
            "vec_id",
            "label",
            F.expr(
                "CAST(xi * n - sx AS DECIMAL(38,0)) * CAST(xi * n - sx AS DECIMAL(38,0))"
            ).alias("term"),
            "n",
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("term").alias("num"), F.max("n").alias("n"))
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.expr(
            round_half("CAST(SUM(num) AS DOUBLE)"
                       " / (1e16 * CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) AS DOUBLE))"
                       " / COUNT(*)", 9)
        ).alias("mean_dist2"),
        F.expr(
            round_half("CAST(MAX(num) AS DOUBLE)"
                       " / (1e16 * CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) AS DOUBLE))", 9)
        ).alias("max_dist2"),
        # tie-safe argmax shared with the oracle: zero-padded string
        # pack orders identically in both engines (num >= 0, scale 0)
        F.expr(
            "CAST(split_part(MAX(CONCAT(lpad(CAST(num AS STRING), 40, '0'), '_',"
            " lpad(CAST(vec_id AS STRING), 12, '0'))), '_', 2) AS BIGINT)"
        ).alias("far_vec_id"),
    )


k_anonymity_audit.__doc__ = (k_anonymity_audit.__doc__ or "").replace(
    "{_KANON_K}", str(_KANON_K)
)


# ----------------------------------- top-PC power iteration (integer)

_PC_ITERS = 3


def _duck_pc_iter_ctes(n_iters: int) -> str:
    """Unrolled power-iteration CTE chain (DuckDB side). HUGEINT sums
    are exact; rescale is decimal-digit-length + truncating // so both
    engines see identical integers at every step."""
    parts = [
        f"""dims AS (
      SELECT vec_id, u.i - 1 AS dim,
             CAST({round_half('CAST(embedding[u.i] AS DOUBLE) * 100000000', 0)} AS BIGINT) AS xi
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
    ),
    v0 AS (SELECT DISTINCT dim, CAST(1 AS HUGEINT) AS v FROM dims)"""
    ]
    for k in range(1, n_iters + 1):
        parts.append(f"""dots{k} AS (
      SELECT d.vec_id, SUM(CAST(d.xi AS HUGEINT) * v.v) AS dot
      FROM dims d JOIN v{k-1} v USING (dim) GROUP BY d.vec_id
    ),
    u{k} AS (
      SELECT d.dim, SUM(CAST(d.xi AS HUGEINT) * t.dot) AS u
      FROM dims d JOIN dots{k} t USING (vec_id) GROUP BY d.dim
    ),
    m{k} AS (SELECT MAX(length(CAST(abs(u) AS VARCHAR))) AS digits FROM u{k}),
    v{k} AS (
      SELECT dim, u // CAST('1' || repeat('0', GREATEST(digits - 6, 0)) AS HUGEINT) AS v
      FROM u{k}, m{k}
    )""")
    return ",\n    ".join(parts)


@query(
    "embedding_top_pc",
    oracle=f"""
    WITH {_duck_pc_iter_ctes(_PC_ITERS)},
    n2 AS (SELECT SUM(CAST(v AS HUGEINT) * v) AS n2 FROM v{_PC_ITERS}),
    conv AS (
      SELECT SUM(CAST(a.v AS HUGEINT) * b.v) AS ab,
             SUM(CAST(a.v AS HUGEINT) * a.v) AS aa,
             SUM(CAST(b.v AS HUGEINT) * b.v) AS bb
      FROM v{_PC_ITERS - 1} a JOIN v{_PC_ITERS} b USING (dim)
    )
    SELECT dim, CAST(v AS BIGINT) AS pc_fixed,
           {round_half('CAST(v AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE))', 9)} AS loading,
           {round_half('CAST(ab AS DOUBLE)'
                 ' / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE)))', 9)}
             AS conv_cos
    FROM v{_PC_ITERS}, n2, conv ORDER BY dim
    """,
)
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding matrix by
    {_PC_ITERS}-step POWER ITERATION expressed entirely in relational
    algebra — each step is two narrow keyed aggregates (row dot
    products, then column accumulation), i.e. a distributed
    Gram-matrix matvec.  Output: per-dim integer component, unit-norm
    loading, and `conv_cos` (cosine between the last two iterates —
    ~1.0 means converged; low values mean a flat spectrum, as on this
    synthetic corpus whose dims are iid).  Uncentered (embedding
    corpora are ~zero-mean; compose with the centering numerators of
    embedding_label_centroid otherwise).

    Exactness (the reason this is oracle-checkable at all): every
    arithmetic step is INTEGER — 1e-8 fixed-point inputs, HUGEINT/
    DECIMAL(38) exact sums, and a rescale that divides by a power of
    ten derived from the max magnitude's DECIMAL-DIGIT COUNT (string
    length — exact in both engines) using truncating integer division
    (`div` / `//`, both truncate toward zero).  Both engines
    therefore see bit-identical iterates; the only floats are the
    final loadings, divided once from identical integers.

    Scale shape: v broadcasts (vector-width rows); each iteration
    shuffles (vec_id, dot) then (dim, partial) — map-side combine on
    both; {_PC_ITERS} unrolled iterations = {2 * _PC_ITERS} narrow
    exchanges over the corpus.  This is the Krylov building block:
    Lanczos/Oja variants reuse exactly this plan."""
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "raw")
    ).select(
        "vec_id",
        "dim",
        F.expr(f"CAST({round_half('CAST(raw AS DOUBLE) * 100000000', 0)} AS BIGINT)").alias("xi"),
    )
    v = dims.select("dim").distinct().select(
        "dim", F.expr("CAST(1 AS DECIMAL(38,0))").alias("v")
    )
    prev = None
    for _ in range(_PC_ITERS):
        dots = (
            dims.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.expr("SUM(CAST(xi AS DECIMAL(38,0)) * v)").alias("dot"))
        )
        u = (
            dims.join(dots, "vec_id")
            .groupBy("dim")
            .agg(F.expr("SUM(CAST(xi AS DECIMAL(38,0)) * dot)").alias("u"))
        )
        mdig = u.agg(
            F.expr("MAX(length(CAST(abs(u) AS STRING)))").alias("digits")
        )
        prev = v
        # Stage the (vector-width)-row iterate: without this, every
        # downstream reference re-expands the FULL prior-iteration
        # subtree (u feeds both v and mdig, v feeds the next matvec
        # AND the conv/norm tails), and 3 unrolled iterations plan
        # 272 exchanges / ~14 corpus aggregations instead of 6.
        # localCheckpoint of 64 rows is free; it is exactly the LSH
        # "stage the signature table" convention.
        v = supersede_checkpoint(
            "pc_iterate",
            u.crossJoin(F.broadcast(mdig))
            .select(
                "dim",
                F.expr(
                    "u div CAST('1' || repeat('0', GREATEST(digits - 6, 0)) AS DECIMAL(38,0))"
                ).alias("v"),
            )
            ,
        )
    norm = v.agg(F.expr("SUM(CAST(v AS DECIMAL(38,0)) * v)").alias("n2"))
    conv = (
        prev.withColumnRenamed("v", "va")
        .join(v.withColumnRenamed("v", "vb"), "dim")
        .agg(
            F.expr("SUM(CAST(va AS DECIMAL(38,0)) * vb)").alias("ab"),
            F.expr("SUM(CAST(va AS DECIMAL(38,0)) * va)").alias("aa"),
            F.expr("SUM(CAST(vb AS DECIMAL(38,0)) * vb)").alias("bb"),
        )
    )
    return (
        v.crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(conv))
        .select(
            "dim",
            F.expr("CAST(v AS BIGINT)").alias("pc_fixed"),
            F.expr(
                round_half('CAST(v AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE))', 9)
            ).alias("loading"),
            F.expr(
                round_half("CAST(ab AS DOUBLE) / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE)))", 9)
            ).alias("conv_cos"),
        )
    )


embedding_top_pc.__doc__ = (embedding_top_pc.__doc__ or "").replace(
    "{_PC_ITERS}", str(_PC_ITERS)
).replace("{2 * _PC_ITERS}", str(2 * _PC_ITERS))


# ---------------------------------------------- l-diversity audit

_LDIV_L = 2


@query(
    "l_diversity_audit",
    oracle=f"""
    WITH classes AS (
      SELECT source,
             CAST(FLOOR(n_chars / {_KANON_BUCKET}.0) AS BIGINT) AS chars_bucket,
             COUNT(DISTINCT lang) AS l_distinct,
             COUNT(*) AS class_size
      FROM documents GROUP BY 1, 2
    )
    SELECT l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_docs,
           CAST(CASE WHEN l_distinct < {_LDIV_L} THEN 1 ELSE 0 END AS BIGINT)
             AS below_l
    FROM classes GROUP BY l_distinct
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al.) — the companion
    k_anonymity_audit can't do alone: an equivalence class whose
    SENSITIVE attribute (here `lang`, standing in for any sensitive
    label) takes fewer than l={_LDIV_L} distinct values leaks that
    attribute even when the class is large.  Output is the histogram
    of classes by sensitive-value diversity with below-l flags, over
    the (source, length-bucket) quasi-identifier.

    Scale shape: one group-by on the QI tuple with a count-distinct
    (two-phase expand, map-side partials), then a tiny diversity
    rollup; FLOOR-division buckets as in k_anonymity_audit."""
    d = t(spark, sf_dir, "documents")
    classes = d.groupBy(
        "source",
        F.floor(F.col("n_chars") / _KANON_BUCKET).cast("bigint").alias("chars_bucket"),
    ).agg(
        F.countDistinct("lang").alias("l_distinct"),
        F.count("*").alias("class_size"),
    )
    return classes.groupBy("l_distinct").agg(
        F.count("*").alias("n_classes"),
        F.sum("class_size").alias("n_docs"),
        F.when(F.col("l_distinct") < _LDIV_L, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("below_l"),
    )


l_diversity_audit.__doc__ = (l_diversity_audit.__doc__ or "").replace(
    "{_LDIV_L}", str(_LDIV_L)
)


# ---------------------------------------------- distribution drift


@query(
    "dataset_drift_kl",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source,
             SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS b
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT COUNT(*) AS k, SUM(a) AS na, SUM(b) AS nb FROM cells
    ),
    terms AS (
      SELECT
        CAST({round_half(
          '(CAST(b + 1 AS DOUBLE) / (nb + k))'
          ' * ln((CAST(b + 1 AS DOUBLE) / (nb + k))'
               ' / (CAST(a + 1 AS DOUBLE) / (na + k)))', 10)}
          AS DECIMAL(38,10)) AS kl_term,
        abs((b + 1) * (na + k) - (a + 1) * (nb + k)) AS tv_num,
        k, na, nb
      FROM cells, tot
    )
    SELECT CAST(MAX(k) AS BIGINT) AS n_cells,
           {round_half('CAST(SUM(kl_term) AS DOUBLE)', 6)} AS kl_new_vs_old,
           CAST(SUM(tv_num) AS DOUBLE)
             / (2.0 * (MAX(na) + MAX(k)) * (MAX(nb) + MAX(k))) AS tv_distance
    FROM terms
    """,
)
def dataset_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two corpus snapshots (here
    the deterministic even/odd doc_id halves; in production,
    yesterday's ingest vs today's): KL(new || old) and total
    variation over the (lang, source) cell distribution, with add-one
    (Laplace) smoothing so a cell appearing in only one snapshot
    stays finite.  The alarm that catches a source silently changing
    mix before it skews a training run.

    Exactness: KL terms are 10-decimal-rounded doubles summed as
    DECIMAL (the column_entropy convention; a 1-ulp libm difference
    still flips a term within an ulp of a rounding boundary); total
    variation never divides per-cell — the numerator is the exact
    integer |cross-multiply| summed as BIGINT, divided ONCE by the
    common denominator (emitted unrounded from identical integers).

    Scale shape: one (lang, source) aggregate with conditional sums
    (a single corpus pass for both snapshots), a 1-row total
    broadcast back, and a scalar rollup."""
    d = t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("b"),
    )
    tot = cells.agg(
        F.count("*").alias("k"), F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    terms = cells.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CAST("
            + round_half("(CAST(b + 1 AS DOUBLE) / (nb + k))"
                         " * ln((CAST(b + 1 AS DOUBLE) / (nb + k))"
                         " / (CAST(a + 1 AS DOUBLE) / (na + k)))", 10)
            + " AS DECIMAL(38,10))"
        ).alias("kl_term"),
        F.expr("abs((b + 1) * (na + k) - (a + 1) * (nb + k))").alias("tv_num"),
        "k",
        "na",
        "nb",
    )
    return terms.agg(
        F.expr("CAST(MAX(k) AS BIGINT)").alias("n_cells"),
        F.expr(round_half('CAST(SUM(kl_term) AS DOUBLE)', 6)).alias("kl_new_vs_old"),
        F.expr(
            "CAST(SUM(tv_num) AS DOUBLE)"
            " / (2.0 * (MAX(na) + MAX(k)) * (MAX(nb) + MAX(k)))"
        ).alias("tv_distance"),
    )


# ---------------------------------------------- t-closeness audit

_TCLOSE_BUCKET = 50   # same sensitive bucketing as k_anonymity_audit
_TCLOSE_T = "0.2"     # flag threshold (literal shared by both engines)


@query(
    "t_closeness_audit",
    oracle=f"""
    WITH g AS (
      SELECT CAST(FLOOR(n_chars / {_TCLOSE_BUCKET}.0) AS BIGINT) AS bucket,
             COUNT(*) AS gc
      FROM documents GROUP BY 1
    ),
    gcum AS (
      SELECT bucket, SUM(gc) OVER (ORDER BY bucket
                                   ROWS UNBOUNDED PRECEDING) AS cum_g,
             (SELECT SUM(gc) FROM g) AS n_total,
             (SELECT COUNT(*) FROM g) AS m
      FROM g
    ),
    cls AS (
      SELECT lang, source, COUNT(*) AS n_class FROM documents GROUP BY 1, 2
    ),
    cc AS (
      SELECT lang, source,
             CAST(FLOOR(n_chars / {_TCLOSE_BUCKET}.0) AS BIGINT) AS bucket,
             COUNT(*) AS c
      FROM documents GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT cls.lang, cls.source, cls.n_class, gcum.bucket,
             gcum.cum_g, gcum.n_total, gcum.m, COALESCE(cc.c, 0) AS c
      FROM cls CROSS JOIN gcum
      LEFT JOIN cc ON cc.lang = cls.lang AND cc.source = cls.source
                  AND cc.bucket = gcum.bucket
    ),
    cum AS (
      SELECT lang, source, n_class, n_total, m, cum_g,
             SUM(c) OVER (PARTITION BY lang, source ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS cum_c
      FROM grid
    )
    SELECT lang, source, CAST(MAX(n_class) AS BIGINT) AS class_size,
           CAST((SUM(ABS(CAST(n_total AS BIGINT) * cum_c
                         - CAST(n_class AS BIGINT) * cum_g)) * 1000000)
                // (MAX(n_class) * MAX(n_total) * (MAX(m) - 1))
                AS BIGINT) AS t_e6,
           SUM(ABS(CAST(n_total AS BIGINT) * cum_c
                   - CAST(n_class AS BIGINT) * cum_g))
             > CAST({_TCLOSE_T} * MAX(n_class) * MAX(n_total) * (MAX(m) - 1)
                    AS DOUBLE) AS above_t
    FROM cum GROUP BY lang, source
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third rung of the privacy ladder after k_anonymity_audit and
    l_diversity_audit: an equivalence class leaks even with l diverse
    sensitive values if its sensitive DISTRIBUTION differs from the
    corpus-wide one.  For the ordered sensitive attribute (bucketed
    n_chars, same {_TCLOSE_BUCKET}-wide buckets as the k-anon audit)
    the distance is the 1-D earth-mover's distance: mean absolute
    CUMULATIVE gap between class and global distributions, emitted
    as t_e6 integer units (one truncating division — the tie-safety
    convention).  Classes with t above {_TCLOSE_T} get flagged.

    Exactness: EMD is computed on the common-denominator integer
    lattice — |N*cumc_i - n_g*cumC_i| summed as BIGINTs, one final
    division by n_g*N*(m-1) — so both engines agree bit-for-bit, and
    the above_t flag compares the INTEGER numerator against the
    threshold-scaled denominator (no rounded-value comparison).

    Scale shape: two corpus-sized aggregates (global buckets, class x
    bucket counts); the class-x-bucket grid is |classes| * m rows —
    metadata-sized, never corpus-sized — and the cumulative windows
    run on that grid partitioned by class.  At 100 TB the only wide
    exchanges are the two leading group-bys."""
    d = t(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / _TCLOSE_BUCKET).cast("bigint")
    g = d.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("gc"))
    from pyspark.sql import Window

    gcum = (
        g.withColumn(
            "cum_g",
            F.sum("gc").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .crossJoin(
            g.agg(
                F.sum("gc").alias("n_total"), F.count(F.lit(1)).alias("m")
            )
        )
        .select("bucket", "cum_g", "n_total", "m")
    )
    cls = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_class"))
    cc = d.groupBy("lang", "source", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        cls.crossJoin(F.broadcast(gcum))
        .join(F.broadcast(cc), ["lang", "source", "bucket"], "left")
        .select(
            "lang", "source", "n_class", "bucket", "cum_g", "n_total", "m",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    cum = grid.withColumn(
        "cum_c",
        F.sum("c").over(
            Window.partitionBy("lang", "source")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    gap = F.abs(
        F.col("n_total").cast("bigint") * F.col("cum_c")
        - F.col("n_class").cast("bigint") * F.col("cum_g")
    )
    return cum.groupBy("lang", "source").agg(
        F.max("n_class").alias("class_size"),
        F.expr(
            "CAST((CAST(SUM(ABS(CAST(n_total AS BIGINT) * cum_c"
            " - CAST(n_class AS BIGINT) * cum_g)) AS DECIMAL(38,0)) * 1000000)"
            " div (MAX(n_class) * MAX(n_total) * (MAX(m) - 1)) AS BIGINT)"
        ).alias("t_e6"),
        (
            F.sum(gap)
            > (
                F.expr(_TCLOSE_T)
                * F.max("n_class")
                * F.max("n_total")
                * (F.max("m") - 1)
            ).cast("double")
        ).alias("above_t"),
    )


t_closeness_audit.__doc__ = (
    (t_closeness_audit.__doc__ or "")
    .replace("{_TCLOSE_BUCKET}", str(_TCLOSE_BUCKET))
    .replace("{_TCLOSE_T}", _TCLOSE_T)
)


# ------------------------------------------- join-key skew profiler


@query(
    "join_key_skew_profile",
    oracle="""
    WITH c AS (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1),
    r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, k) AS rnk FROM c),
    s AS (SELECT COUNT(*) AS d, SUM(n) AS tot, MAX(n) AS mx FROM c)
    SELECT CAST(s.d AS BIGINT) AS distinct_keys,
           CAST(s.tot AS BIGINT) AS total_rows,
           CAST(s.mx AS BIGINT) AS max_count,
           CAST((s.mx * 1000000) // s.tot AS BIGINT) AS top1_share_e6,
           CAST((SELECT n FROM r, s
                 WHERE rnk = GREATEST(1, CAST(CEIL(0.01 * s.d) AS BIGINT)))
                AS BIGINT) AS p99_count,
           CAST((CAST(s.mx AS HUGEINT) * s.d * 1000000) // s.tot
                AS BIGINT) AS skew_ratio_e6
    FROM s
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the profile a planner (or an
    engineer sizing a salted join) reads before shuffling on a key:
    distinct keys, max per-key count, the hottest key's share of all
    rows, the 99th-percentile per-key count, and max/mean skew ratio
    for orders.o_custkey — share and ratio in e6 integer units under
    truncating division (tie-safety convention).  skew_ratio_e6 >>
    1e6 is the 'salt this join' signal; p99 vs max separates one
    pathological key from a heavy tail.

    Scale shape: the per-key count is the one corpus-sized exchange.
    The p99 count is a value-domain order statistic: the key-count
    HISTOGRAM (distinct count values — Zipf-bounded, NOT key-
    cardinality-sized) gets a cumulative key tally in one tiny
    window, and p99_count = the largest count value whose
    keys-at-or-above tally reaches rank ceil(0.01 * d) — exactly the
    value ROW_NUMBER over the full key table would pick (the n at a
    rank depends only on n, so ranking individual keys is never
    needed).  The summary row's shape is unchanged."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    s = c.agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("n").alias("tot"),
        F.max("n").alias("mx"),
    )
    hist = c.groupBy("n").agg(F.count(F.lit(1)).alias("_keys"))
    w_desc = (
        Window.orderBy(F.col("n").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("_cumk", F.sum("_keys").over(w_desc))
    p99 = (
        cum.crossJoin(F.broadcast(s.select("d")))
        .filter(
            F.col("_cumk")
            >= F.greatest(F.lit(1), F.ceil(F.lit(0.01) * F.col("d")).cast("bigint"))
        )
        .agg(F.max("n").alias("p99_count"))
    )
    return s.crossJoin(F.broadcast(p99)).select(
        F.col("d").alias("distinct_keys"),
        F.col("tot").alias("total_rows"),
        F.col("mx").alias("max_count"),
        F.expr(
            "CAST((mx * CAST(1000000 AS BIGINT)) div tot AS BIGINT)"
        ).alias("top1_share_e6"),
        "p99_count",
        F.expr(
            "CAST((CAST(mx AS DECIMAL(38,0)) * d * 1000000) div tot"
            " AS BIGINT)"
        ).alias("skew_ratio_e6"),
    )


@query(
    "label_agreement_kappa",
    oracle=f"""
    WITH p AS (
      SELECT label,
             CAST({duck_sign_bucket('embedding', 4)} % 10 AS INTEGER) AS pred
      FROM embeddings
    ), c AS (
      SELECT label, pred, COUNT(*) AS cnt FROM p GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(cnt) AS n,
             SUM(CASE WHEN label = pred THEN cnt ELSE 0 END) AS diag_agree
      FROM c
    ), rows_m AS (
      SELECT label AS k, SUM(cnt) AS rk FROM c GROUP BY 1
    ), cols_m AS (
      SELECT pred AS k, SUM(cnt) AS ck FROM c GROUP BY 1
    ), pe AS (
      SELECT COALESCE(SUM(rk * ck), 0) AS pe_num
      FROM rows_m JOIN cols_m USING (k)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(diag_agree AS BIGINT) AS diag_agree,
           CAST(pe_num AS BIGINT) AS pe_num,
           CAST(((n * diag_agree - pe_num) * 1000000)
                // (n * n - pe_num) AS BIGINT) AS kappa_e6
    FROM tot, pe
    """,
)
def label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotator-agreement QA: Cohen's kappa between the gold ``label``
    column and a deterministic weak labeler (the 4-bit sign bucket of
    the embedding, mod the 10 classes) — the chance-corrected
    agreement score labeling pipelines gate on before trusting
    model-assigned labels.  Everything is INTEGER-EXACT: po and pe
    stay as raw numerators over n and n^2 (diag_agree, pe_num), and
    kappa lands as kappa_e6 = (n*diag - pe) * 1e6 under one truncating
    division by (n^2 - pe) — Spark ``div`` == DuckDB ``//``, no
    rounded double final.  BIGINT holds to ~3e9 rows; past that, swap
    the products to DECIMAL(38,0) (the HUGEINT pattern the logprob
    family uses).

    Scale shape: one corpus-sized (label, pred) group-by produces the
    confusion matrix (|classes|^2 rows); margins, diagonal, and the
    kappa algebra all run on that tiny table — broadcast-joined, one
    output row."""
    e = t(spark, sf_dir, "embeddings")
    c = (
        e.select("label", (sign_bucket("embedding", 4) % 10).cast("int").alias("pred"))
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = c.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.when(F.col("label") == F.col("pred"), F.col("cnt")).otherwise(0)).alias(
            "diag_agree"
        ),
    )
    rows_m = c.groupBy(F.col("label").alias("k")).agg(F.sum("cnt").alias("rk"))
    cols_m = c.groupBy(F.col("pred").alias("k")).agg(F.sum("cnt").alias("ck"))
    pe = (
        rows_m.join(cols_m, "k")
        .agg(F.coalesce(F.sum(F.col("rk") * F.col("ck")), F.lit(0)).alias("pe_num"))
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .selectExpr(
            "CAST(n AS BIGINT) AS n",
            "CAST(diag_agree AS BIGINT) AS diag_agree",
            "CAST(pe_num AS BIGINT) AS pe_num",
            "CAST(((n * diag_agree - pe_num) * CAST(1000000 AS BIGINT)) "
            "div (n * n - pe_num) AS BIGINT) AS kappa_e6",
        )
    )


_QSK_WIDTH = 1000  # histogram bin width in cents (10.00 units)


@query(
    "sketch_quantile_merge",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // {_QSK_WIDTH} AS bin,
             COUNT(*) AS c
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT bin, c,
             SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_c,
             (SELECT SUM(c) FROM b) AS n
      FROM b
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(MIN(CASE WHEN 100 * cum_c >= 50 * n THEN bin END)
                * {_QSK_WIDTH} AS BIGINT) AS p50_lo_cents,
           CAST(MIN(CASE WHEN 100 * cum_c >= 90 * n THEN bin END)
                * {_QSK_WIDTH} AS BIGINT) AS p90_lo_cents,
           CAST(MIN(CASE WHEN 100 * cum_c >= 99 * n THEN bin END)
                * {_QSK_WIDTH} AS BIGINT) AS p99_lo_cents
    FROM cum
    """,
)
def sketch_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch — the fixed-bin histogram family
    member next to sketch_hll_merge (distincts) and
    sketch_theta_union (set ops): per-partition bin counts merge by
    addition (Spark's partial aggregation IS the sketch merge), and
    p50/p90/p99 read off the cumulative histogram as the first bin
    whose cumulative count clears p% of n — emitted as the bin's
    lower bound in cents, max error = one bin width.  This is the
    scale path token_percentiles' exact per-group sort cannot take at
    100 TB (t-digest/KLL refine the same merge-then-read shape with
    adaptive bins).

    Exactness: bins come from FLOOR(value*100+0.5) cents under
    truncating division, the quantile rule is the all-integer
    comparison 100*cum >= p*n — no interpolation, no doubles.

    Scale shape: one corpus-sized group-by to the bin histogram
    (bounded bins); the cumulative window and the quantile reads run
    on the histogram only."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    b = (
        e.selectExpr(
            f"CAST(FLOOR(value * 100 + 0.5) AS BIGINT) div {_QSK_WIDTH} AS bin"
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = b.select(
        "bin",
        "c",
        F.sum("c")
        .over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_c"),
    ).crossJoin(F.broadcast(b.agg(F.sum("c").alias("n"))))
    pick = lambda p: F.min(  # noqa: E731
        F.when(100 * F.col("cum_c") >= p * F.col("n"), F.col("bin"))
    ) * _QSK_WIDTH
    return cum.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        pick(50).cast("bigint").alias("p50_lo_cents"),
        pick(90).cast("bigint").alias("p90_lo_cents"),
        pick(99).cast("bigint").alias("p99_lo_cents"),
    )


@query(
    "percentile_exact_twophase",
    oracle="""
    WITH v AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, COUNT(*) AS c
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT cents, c,
             SUM(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_c,
             (SELECT SUM(c) FROM v) AS n
      FROM v
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN 100 * cum_c >= 50 * n THEN cents END) AS BIGINT)
             AS p50_cents,
           CAST(MIN(CASE WHEN 100 * cum_c >= 90 * n THEN cents END) AS BIGINT)
             AS p90_cents,
           CAST(MIN(CASE WHEN 100 * cum_c >= 99 * n THEN cents END) AS BIGINT)
             AS p99_cents
    FROM cum
    """,
)
def percentile_exact_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT discrete percentiles without sorting rows: aggregate the
    corpus onto its VALUE DOMAIN (one count per distinct cents value —
    bounded, unlike the row count), then read p50/p90/p99 off the
    cumulative value histogram with the all-integer 100*cum >= p*n
    rule.  This is how exact order statistics survive 100 TB: the
    shuffle carries (value, count) pairs, the sort is over distinct
    values, and the answer is exact — sketch_quantile_merge's binned
    twin trades that exactness for fixed-size state.

    Scale shape: one corpus-sized value group-by (map-side partial),
    a distinct-value-sized cumulative window, three reads."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    v = (
        e.selectExpr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents")
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = v.select(
        "cents",
        F.sum("c")
        .over(Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_c"),
    ).crossJoin(F.broadcast(v.agg(F.sum("c").alias("n"))))
    pick = lambda p: F.min(  # noqa: E731
        F.when(100 * F.col("cum_c") >= p * F.col("n"), F.col("cents"))
    )
    return cum.agg(
        F.max("n").cast("bigint").alias("n"),
        pick(50).cast("bigint").alias("p50_cents"),
        pick(90).cast("bigint").alias("p90_cents"),
        pick(99).cast("bigint").alias("p99_cents"),
    )


@query(
    "percentile_group_twophase",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM v
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN 100 * cum_c >= 50 * n THEN cents END) AS BIGINT)
             AS p50_cents,
           CAST(MIN(CASE WHEN 100 * cum_c >= 99 * n THEN cents END) AS BIGINT)
             AS p99_cents
    FROM cum GROUP BY event_type
    """,
)
def percentile_group_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact discrete percentiles by the value-domain
    identity (the grouped twin of percentile_exact_twophase): one
    (group, value) count aggregate, per-group cumulative reads — no
    per-group row sort, which is what makes token_percentiles-style
    exact sorts the thing that dies first at scale.

    Scale shape: shuffle carries (group, value, count); the
    cumulative window partitions by group over distinct values."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    v = (
        e.selectExpr(
            "event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents"
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = v.select(
        "event_type",
        "cents",
        F.sum("c")
        .over(
            Window.partitionBy("event_type")
            .orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum_c"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    pick = lambda p: F.min(  # noqa: E731
        F.when(100 * F.col("cum_c") >= p * F.col("n"), F.col("cents"))
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(50).cast("bigint").alias("p50_cents"),
        pick(99).cast("bigint").alias("p99_cents"),
    )


_BLOOM_M = 4096  # bit-array size
_BLOOM_K = 3  # hash functions


@query(
    "bloom_fpr_calibration",
    oracle=f"""
    WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
    b AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
    bits AS (
      SELECT DISTINCT
             ({duck_hash("CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)")}
               % {_BLOOM_M}) AS bit
      FROM a, (SELECT unnest([1, 2, 3]) AS j)
    ),
    probes AS (
      SELECT b.doc_id,
             ({duck_hash("CAST(b.doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)")}
               % {_BLOOM_M}) AS bit
      FROM b, (SELECT unnest([1, 2, 3]) AS j)
    ),
    hits AS (
      SELECT p.doc_id, COUNT(*) AS set_bits
      FROM probes p JOIN bits ON bits.bit = p.bit
      GROUP BY p.doc_id
    )
    SELECT CAST({_BLOOM_M} AS BIGINT) AS m,
           CAST({_BLOOM_K} AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_inserted,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_probes,
           CAST((SELECT COUNT(*) FROM hits WHERE set_bits = {_BLOOM_K})
                AS BIGINT) AS n_false_positives
    """,
)
def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive calibration, expressed ENTIRELY in
    relational algebra: even doc_ids insert into an m={_BLOOM_M},
    k={_BLOOM_K} filter (bit set = distinct portable-hash buckets),
    odd doc_ids probe it, and a probe whose {_BLOOM_K} bits are all
    set is a measured false positive (probes are disjoint from the
    inserted set by construction).  Comparing n_false_positives /
    n_probes against (n_bits_set/m)^k is the calibration every bloom
    prefilter (dedup_incremental's, runtime filter joins) should run
    before trusting its sizing on a new key distribution.

    Scale shape: the bit table is at most m rows (broadcast); probes
    explode k in-row hashes and join the tiny bit set — the measured
    FPR costs one scan of each side."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    j = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    # hash-function index j folds into the hashed string ('id#j'),
    # mirroring the oracle's suffix — one md5 kernel, k logical hashes
    h = spark_hash("CAST(doc_id AS STRING) || '#' || CAST(j AS STRING)")
    bits = (
        a.select("doc_id", j)
        .selectExpr(f"{h} % {_BLOOM_M} AS bit")
        .distinct()
    )
    probes = b.select("doc_id", j).selectExpr("doc_id", f"{h} % {_BLOOM_M} AS bit")
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("set_bits"))
    )
    return (
        a.agg(F.count(F.lit(1)).alias("n_inserted"))
        .crossJoin(F.broadcast(bits.agg(F.count(F.lit(1)).alias("n_bits_set"))))
        .crossJoin(F.broadcast(b.agg(F.count(F.lit(1)).alias("n_probes"))))
        .crossJoin(
            F.broadcast(
                hits.filter(F.col("set_bits") == _BLOOM_K).agg(
                    F.count(F.lit(1)).alias("n_false_positives")
                )
            )
        )
        .selectExpr(
            f"CAST({_BLOOM_M} AS BIGINT) AS m",
            f"CAST({_BLOOM_K} AS BIGINT) AS k",
            "CAST(n_inserted AS BIGINT) AS n_inserted",
            "CAST(n_bits_set AS BIGINT) AS n_bits_set",
            "CAST(n_probes AS BIGINT) AS n_probes",
            "CAST(n_false_positives AS BIGINT) AS n_false_positives",
        )
    )


bloom_fpr_calibration.__doc__ = (bloom_fpr_calibration.__doc__ or "").replace(
    "{_BLOOM_M}", str(_BLOOM_M)
).replace("{_BLOOM_K}", str(_BLOOM_K))


# ----------------------------------------- MAD robust outliers


@query(
    "mad_robust_outliers",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    v1 AS (
      SELECT event_type, cents, COUNT(*) AS c FROM base GROUP BY 1, 2
    ),
    cum1 AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM v1
    ),
    med AS (
      SELECT event_type, MAX(n) AS n,
             MIN(CASE WHEN 2 * cum_c >= n THEN cents END) AS med_cents
      FROM cum1 GROUP BY event_type
    ),
    dev AS (
      SELECT b.event_type, ABS(b.cents - m.med_cents) AS d
      FROM base b JOIN med m USING (event_type)
    ),
    v2 AS (SELECT event_type, d, COUNT(*) AS c FROM dev GROUP BY 1, 2),
    cum2 AS (
      SELECT event_type, d, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM v2
    ),
    mad AS (
      SELECT event_type,
             MIN(CASE WHEN 2 * cum_c >= n THEN d END) AS mad_cents
      FROM cum2 GROUP BY event_type
    )
    SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
           CAST(m.med_cents AS BIGINT) AS med_cents,
           CAST(a.mad_cents AS BIGINT) AS mad_cents,
           CAST((SELECT COALESCE(SUM(c), 0) FROM v2
                 WHERE v2.event_type = m.event_type
                   AND v2.d > 3 * a.mad_cents) AS BIGINT) AS n_outliers
    FROM med m JOIN mad a USING (event_type)
    """,
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event series via the median absolute
    deviation — the breakdown-point-0.5 alternative to z-scores
    (stream_anomaly_zscore) and IQR fences (outlier_iqr): med and
    MAD ignore up to half the data being garbage, which is the
    property that matters when the outliers ARE the contamination
    being hunted.  Both order statistics use the repo's discrete
    value-domain identity (smallest value whose doubled cumulative
    count reaches n), so everything — median, deviations, MAD, the
    3-MAD fence — is exact integer cents with zero float drift.

    Scale shape: two rounds of the percentile_group_twophase plan
    (value-count aggregate + per-group cumulative over DISTINCT
    values — never a per-row sort); the |types|-row median table
    broadcasts back onto the fact scan for the deviation pass, and
    the outlier count reduces from the deviation-count table, not
    the raw rows."""
    from pyspark.sql import Window

    base = t(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents"
    )

    def _lower_median(df, col):
        v = df.groupBy("event_type", col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("event_type").orderBy(col)
        cum = v.select(
            "event_type",
            col,
            F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
                "cum_c"
            ),
            F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
        )
        return cum.groupBy("event_type").agg(
            F.max("n").alias("n"),
            F.min(
                F.when(2 * F.col("cum_c") >= F.col("n"), F.col(col))
            ).alias(f"med_{col}"),
        )

    med = _lower_median(base, "cents").withColumnRenamed("med_cents", "med")
    dev = base.join(F.broadcast(med.select("event_type", "med")), "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med")).alias("d")
    )
    v2 = dev.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("d")
    cum2 = v2.select(
        "event_type",
        "d",
        "c",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_c"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    mad = cum2.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("cum_c") >= F.col("n"), F.col("d"))).alias(
            "mad"
        )
    )
    out = (
        v2.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("d") > 3 * F.col("mad"), F.col("c"))),
                F.lit(0),
            ).alias("n_outliers")
        )
    )
    return (
        med.join(mad, "event_type")
        .join(out, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("med").cast("bigint").alias("med_cents"),
            F.col("mad").cast("bigint").alias("mad_cents"),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
        )
    )


# ------------------------------------- KS two-sample split drift


@query(
    "ks_split_drift",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_id % 100 < 80 THEN 0 ELSE 1 END AS side
      FROM events
    ),
    v AS (
      SELECT event_type, cents,
             SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c2
      FROM base GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents,
             SUM(c1) OVER (PARTITION BY event_type ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS cum1,
             SUM(c2) OVER (PARTITION BY event_type ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS cum2,
             SUM(c1) OVER (PARTITION BY event_type) AS n1,
             SUM(c2) OVER (PARTITION BY event_type) AS n2
      FROM v
    )
    SELECT event_type,
           CAST(MAX(n1) AS BIGINT) AS n_train,
           CAST(MAX(n2) AS BIGINT) AS n_test,
           CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) AS BIGINT) AS d_scaled,
           CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) * 1000000
                // (MAX(n1) * MAX(n2)) AS BIGINT) AS d_e6
    FROM cum GROUP BY event_type
    """,
)
def ks_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the
    80/20 hash-mod split halves, per event series — the
    distribution-shift gate that catches a bad split before
    training: D = max_v |F_train(v) - F_test(v)|, computed in the
    value domain with both ECDFs cross-multiplied to the common
    n1*n2 denominator so the max and the comparison are pure
    integers (the exact-order-statistic sibling of the binned
    dataset_drift_kl).  A healthy hash split reads near 0; a
    leaky/time-correlated split reads large.

    Scale shape: one (type, value) aggregate carrying both sides'
    counts, then per-series cumulative windows over DISTINCT values
    and a max — the percentile_group_twophase shuffle shape, never a
    row sort.  BIGINT holds n2*cum1 up to ~3e9 rows per series; past
    that the cross-multiply lifts to DECIMAL on both engines."""
    from pyspark.sql import Window

    base = t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        "CASE WHEN event_id % 100 < 80 THEN 0 ELSE 1 END AS side",
    )
    v = base.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("c2"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("event_type")
    cum = v.select(
        "event_type",
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c2").over(wc).alias("cum2"),
        F.sum("c1").over(wp).alias("n1"),
        F.sum("c2").over(wp).alias("n2"),
    )
    d = F.abs(F.col("n2") * F.col("cum1") - F.col("n1") * F.col("cum2"))
    return cum.groupBy("event_type").agg(
        F.max("n1").cast("bigint").alias("n_train"),
        F.max("n2").cast("bigint").alias("n_test"),
        F.max(d).cast("bigint").alias("d_scaled"),
        F.expr(
            "CAST(MAX(ABS(n2 * cum1 - n1 * cum2)) * 1000000"
            " DIV (MAX(n1) * MAX(n2)) AS BIGINT)"
        ).alias("d_e6"),
    )


# --------------------------------------- Gini revenue inequality


@query(
    "gini_revenue_inequality",
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS rev_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, rev_cents,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY rev_cents, o_custkey) AS i
      FROM rev
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
           CAST((2 * SUM(CAST(i AS HUGEINT) * rev_cents)
                 - (COUNT(*) + 1) * SUM(CAST(rev_cents AS HUGEINT)))
                * 1000000
                // (CAST(COUNT(*) AS HUGEINT) * SUM(rev_cents))
                AS BIGINT) AS gini_e6
    FROM ranked GROUP BY segment
    """,
)
def gini_revenue_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime revenue per market
    segment — the inequality readout mixture designers use to decide
    whether a segment's revenue (or a corpus slice's token mass) is
    concentrated enough to need head/tail treatment.  Uses the exact
    rank identity G = (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i))
    on ascending-sorted integer cents: ties contribute identically
    under any tie order (equal x across consecutive ranks), so the
    ROW_NUMBER is deterministic-safe, and the whole statistic is
    integer e6 under truncating division — DECIMAL(38,0) moments on
    the Spark side, HUGEINT on DuckDB (i*x_i sums pass BIGINT at
    ~1e9 customers; same overflow class the sf1 bench caught in
    pareto_revenue_share).

    Scale shape: the custkey group-by is the only corpus-sized
    exchange; ROW_NUMBER sorts the per-customer AGGREGATE within
    each of 5 bounded segments, and the moment rollup is map-side
    combinable.  At 100 TB the per-segment sort swaps to the
    two-phase range-partitioned rank (range_partition_bounds)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    rev = (
        o.join(
            c.select("c_custkey", "c_mktsegment"),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)"
            ).alias("rev_cents")
        )
    )
    ranked = rev.select(
        "segment",
        "rev_cents",
        F.row_number()
        .over(Window.partitionBy("segment").orderBy("rev_cents", "o_custkey"))
        .alias("i"),
    )
    return ranked.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_cents").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST((2 * SUM(CAST(i AS DECIMAL(38,0)) * rev_cents)"
            " - (COUNT(*) + 1) * SUM(CAST(rev_cents AS DECIMAL(38,0))))"
            " * 1000000"
            " DIV (CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(rev_cents))"
            " AS BIGINT)"
        ).alias("gini_e6"),
    )


# ------------------------------------- HHI revenue concentration


@query(
    "hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS rev_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
           CAST(SUM(CAST(rev_cents AS HUGEINT) * rev_cents) * 1000000
                // (SUM(CAST(rev_cents AS HUGEINT))
                    * SUM(CAST(rev_cents AS HUGEINT)))
                AS BIGINT) AS hhi_e6,
           CAST(MAX(rev_cents) * 1000000 // SUM(rev_cents) AS BIGINT)
             AS top1_share_e6
    FROM rev GROUP BY segment
    """,
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of customer revenue
    per market segment — sum of squared revenue shares, the
    regulator's market-concentration metric and the mixture
    designer's "is one source dominating this slice" gate (its
    reciprocal is the effective number of contributors).  Computed
    as integer e6 under truncating division with the numerator and
    the squared-total denominator both in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB): rev_cents^2 passes BIGINT per TERM at ~$100M
    customers and the squared total passes it immediately, so the
    whole statistic lives in wide integers until the final e6 cast.

    Scale shape: one custkey group-by (the corpus exchange), then a
    map-side-combinable moment aggregate per bounded segment — no
    sort, no window, no second shuffle."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    rev = (
        o.join(
            c.select("c_custkey", "c_mktsegment"),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)"
            ).alias("rev_cents")
        )
    )
    return rev.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_cents").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST(SUM(CAST(rev_cents AS DECIMAL(38,0)) * rev_cents) * 1000000"
            " DIV (SUM(CAST(rev_cents AS DECIMAL(38,0)))"
            "      * SUM(CAST(rev_cents AS DECIMAL(38,0))))"
            " AS BIGINT)"
        ).alias("hhi_e6"),
        F.expr(
            "CAST(MAX(rev_cents) * 1000000 DIV SUM(rev_cents) AS BIGINT)"
        ).alias("top1_share_e6"),
    )


# ----------------------------------- rank-sum AUC (Mann-Whitney)


@query(
    "auc_mann_whitney",
    oracle="""
    WITH base AS (
      SELECT n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    v AS (
      SELECT n_chars,
             SUM(pos) AS pos_c,
             SUM(1 - pos) AS neg_c
      FROM base GROUP BY 1
    ),
    cum AS (
      SELECT pos_c, neg_c,
             SUM(neg_c) OVER (ORDER BY n_chars
                              ROWS UNBOUNDED PRECEDING) - neg_c
               AS neg_below
      FROM v
    )
    SELECT CAST(SUM(pos_c) AS BIGINT) AS n_pos,
           CAST(SUM(neg_c) AS BIGINT) AS n_neg,
           CAST(SUM(pos_c * (2 * neg_below + neg_c)) AS BIGINT) AS u2,
           CAST(SUM(CAST(pos_c AS HUGEINT) * (2 * neg_below + neg_c))
                * 1000000
                // (2 * SUM(CAST(pos_c AS HUGEINT)) * SUM(neg_c))
                AS BIGINT) AS auc_e6
    FROM cum
    """,
)
def auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of document length as a classifier for lang='en',
    via the Mann-Whitney rank-sum identity AUC = U / (n_pos * n_neg)
    — the model-eval primitive every quality-classifier gate needs,
    computed without materializing a single rank: in the value
    domain, U doubles to u2 = sum over distinct scores of
    pos_c * (2 * negatives_below + tied_negatives), which handles
    ties at half-credit while keeping every term integer.  auc_e6 is
    the truncating-division e6 readout with the u2 * 1e6 numerator
    widened to DECIMAL(38,0) / HUGEINT (u2 itself approaches
    2 * n_pos * n_neg, past BIGINT at ~2e9 balanced rows).

    Scale shape: one (score-value) aggregate carrying both class
    counts, a cumulative window over DISTINCT values, one final
    moment reduce — the percentile_group_twophase shuffle shape;
    AUC = 0.5 reads "length carries no signal"."""
    base = t(spark, sf_dir, "documents").selectExpr(
        "n_chars", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos"
    )
    v = base.groupBy("n_chars").agg(
        F.sum("pos").alias("pos_c"),
        F.sum(1 - F.col("pos")).alias("neg_c"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = v.select(
        "pos_c",
        "neg_c",
        (F.sum("neg_c").over(w) - F.col("neg_c")).alias("neg_below"),
    )
    return cum.agg(
        F.sum("pos_c").cast("bigint").alias("n_pos"),
        F.sum("neg_c").cast("bigint").alias("n_neg"),
        F.expr(
            "CAST(SUM(pos_c * (2 * neg_below + neg_c)) AS BIGINT)"
        ).alias("u2"),
        F.expr(
            "CAST(SUM(CAST(pos_c AS DECIMAL(38,0)) * (2 * neg_below + neg_c))"
            " * 1000000"
            " DIV (2 * SUM(CAST(pos_c AS DECIMAL(38,0))) * SUM(neg_c))"
            " AS BIGINT)"
        ).alias("auc_e6"),
    )


# ------------------------------- Kendall concordance (trend terms)


@query(
    "kendall_tau_terms",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(COUNT(DISTINCT a.day_idx) + 1 AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN (a.cents < b.cents) THEN 1 ELSE 0 END)
                AS BIGINT) AS concordant,
           CAST(SUM(CASE WHEN (a.cents > b.cents) THEN 1 ELSE 0 END)
                AS BIGINT) AS discordant,
           CAST(SUM(CASE WHEN a.cents = b.cents THEN 1 ELSE 0 END)
                AS BIGINT) AS tied
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day_idx < b.day_idx
    GROUP BY 1
    """,
)
def kendall_tau_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall trend concordance of daily revenue per event series —
    the sufficient statistics of the Mann-Kendall monotone-trend
    test: over all day pairs i < j, how many later days are higher
    (concordant), lower (discordant), or equal (tied).  tau_a =
    (C - D) / (C + D + T); emitted as raw integer terms per the
    repo's no-ROUND convention (the caller picks tau_a / tau_b /
    Mann-Kendall S from the same three numbers).  n_days counts
    distinct LEFT endpoints + 1 = the series length.

    Scale shape: the corpus-sized exchange is the (type, day)
    aggregate; the pair join runs on the AGGREGATE (calendar-bounded
    — days don't grow with corpus size, so the quadratic is over a
    fixed-size table) and reduces map-side to |types| rows."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            ).alias("cents")
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day_idx") < F.col("b.day_idx")),
    )
    return pairs.groupBy(F.col("a.event_type").alias("event_type")).agg(
        (F.countDistinct("a.day_idx") + 1).cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("a.cents") < F.col("b.cents"), 1).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.when(F.col("a.cents") > F.col("b.cents"), 1).otherwise(0))
        .cast("bigint")
        .alias("discordant"),
        F.sum(F.when(F.col("a.cents") == F.col("b.cents"), 1).otherwise(0))
        .cast("bigint")
        .alias("tied"),
    )


# --------------------------------- ordinal patterns (perm entropy)


@query(
    "ordinal_pattern_counts",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    tri AS (
      SELECT event_type, cents AS x1,
             LEAD(cents, 1) OVER (PARTITION BY event_type
                                  ORDER BY day_idx) AS x2,
             LEAD(cents, 2) OVER (PARTITION BY event_type
                                  ORDER BY day_idx) AS x3
      FROM daily
    )
    SELECT event_type,
           CAST((CASE WHEN x2 > x1 THEN 2 WHEN x2 = x1 THEN 1 ELSE 0 END) * 9
              + (CASE WHEN x3 > x2 THEN 2 WHEN x3 = x2 THEN 1 ELSE 0 END) * 3
              + (CASE WHEN x3 > x1 THEN 2 WHEN x3 = x1 THEN 1 ELSE 0 END)
              AS BIGINT) AS pattern,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM tri WHERE x3 IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ordinal_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal-pattern histogram of daily revenue per event series —
    the counting core of permutation entropy (Bandt-Pompe):
    every 3-day sliding window classifies into the relative order of
    its values, encoded base-3 from the three pairwise signs
    (down/tie/up -> 0/1/2; strict permutations land on the six codes
    {2,6,8,18,20,24}, ties on the rest).  A series whose mass sits
    on one code is predictable; uniform mass over all six is
    noise-like — the regime classifier for the forecasting stack.

    Scale shape: the (type, day) aggregate is the only corpus
    exchange; LEAD windows run per series over the calendar-bounded
    aggregate and the histogram reduce is map-side combinable.
    Integer cents all the way — the sign classification never sees
    a float."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            ).alias("cents")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day_idx")
    tri = daily.select(
        "event_type",
        F.col("cents").alias("x1"),
        F.lead("cents", 1).over(w).alias("x2"),
        F.lead("cents", 2).over(w).alias("x3"),
    ).filter(F.col("x3").isNotNull())
    code = F.expr(
        "(CASE WHEN x2 > x1 THEN 2 WHEN x2 = x1 THEN 1 ELSE 0 END) * 9"
        " + (CASE WHEN x3 > x2 THEN 2 WHEN x3 = x2 THEN 1 ELSE 0 END) * 3"
        " + (CASE WHEN x3 > x1 THEN 2 WHEN x3 = x1 THEN 1 ELSE 0 END)"
    )
    return tri.groupBy(
        "event_type", code.cast("bigint").alias("pattern")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


# ----------------------------------------- decile lift table


@query(
    "decile_lift_table",
    oracle="""
    WITH ranked AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             (ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1) * 10
               // COUNT(*) OVER () + 1 AS decile
      FROM documents
    ),
    d AS (
      SELECT decile, COUNT(*) AS n_docs, SUM(pos) AS n_pos
      FROM ranked GROUP BY 1
    ),
    tot AS (SELECT SUM(n_docs) AS tn, SUM(n_pos) AS tp FROM d)
    SELECT decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_pos * 1000000 // n_docs AS BIGINT) AS pos_rate_e6,
           CAST(SUM(CAST(n_pos AS HUGEINT))
                  OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                * tn * 1000000
                // (SUM(CAST(n_docs AS HUGEINT))
                      OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                    * tp) AS BIGINT) AS cum_lift_e6
    FROM d, tot
    """,
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table of document length as a ranker for
    lang='en' — the standard model-eval readout for any scoring
    gate: rank by score descending, cut into 10 equal-population
    buckets (explicit (rank-1)*10 DIV n arithmetic, NOT NTILE, so
    boundary ties resolve identically on both engines via the
    doc_id tiebreak), and report each decile's positive rate plus
    the cumulative lift over the base rate.  Lift > 1e6 in early
    deciles = the score concentrates positives; the e6 ratio keeps
    the whole readout integer with DECIMAL(38,0)/HUGEINT numerators
    (cum_pos * total_n * 1e6 passes BIGINT near ~1e9 docs).

    Scale shape: the global rank runs as the two-phase bucketed rank
    (two_phase_rank, buckets = -n_chars — the length domain is
    bounded by the max document size, not the corpus) — never a
    partitionless window; everything after runs on 10 rows (the
    remaining unpartitioned cum window is decile-domain bounded)."""
    from instructions_mr_spark.queries._util import two_phase_rank

    docs = t(spark, sf_dir, "documents").selectExpr(
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos",
        "n_chars",
        "doc_id",
    )
    ranked = two_phase_rank(
        docs,
        -F.col("n_chars"),
        [F.col("n_chars").desc(), F.col("doc_id")],
        rn_name="_rn",
        n_name="_n",
    ).select("pos", F.expr("(_rn - 1) * 10 DIV _n + 1").alias("decile"))
    d = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("pos").alias("n_pos")
    )
    tot = d.agg(
        F.sum("n_docs").alias("tn"), F.sum("n_pos").alias("tp")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.expr("CAST(n_pos * 1000000 DIV n_docs AS BIGINT)").alias(
                "pos_rate_e6"
            ),
            F.sum("n_pos").over(wc).alias("_cp"),
            F.sum("n_docs").over(wc).alias("_cn"),
            "tn",
            "tp",
        )
        .selectExpr(
            "decile",
            "n_docs",
            "n_pos",
            "pos_rate_e6",
            "CAST(CAST(_cp AS DECIMAL(38,0)) * tn * 1000000"
            " DIV (CAST(_cn AS DECIMAL(38,0)) * tp) AS BIGINT)"
            " AS cum_lift_e6",
        )
    )


# ------------------------------------------ winsorized sums


@query(
    "winsorize_clip_stats",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    v AS (
      SELECT event_type, cents, COUNT(*) AS c FROM base GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    fence AS (
      SELECT event_type, MAX(n) AS n,
             MIN(CASE WHEN 20 * cum_c >= n THEN cents END) AS lo,
             MIN(CASE WHEN 20 * cum_c >= 19 * n THEN cents END) AS hi
      FROM cum GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(f.n AS BIGINT) AS n,
           CAST(f.lo AS BIGINT) AS lo_cents,
           CAST(f.hi AS BIGINT) AS hi_cents,
           CAST(SUM(v.cents * v.c) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN v.cents < f.lo THEN f.lo
                         WHEN v.cents > f.hi THEN f.hi
                         ELSE v.cents END * v.c) AS BIGINT)
             AS sum_winsorized,
           CAST(SUM(CASE WHEN v.cents < f.lo THEN v.c ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN v.cents > f.hi THEN v.c ELSE 0 END)
                AS BIGINT) AS n_clipped_high
    FROM v JOIN fence f USING (event_type)
    GROUP BY 1, 2, 3, 4
    """,
)
def winsorize_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5th/95th-percentile-clipped) series totals — the
    outlier-robust preprocessing every metrics pipeline applies
    before averaging heavy-tailed values, reported with the exact
    integer fences and how much mass moved: both percentiles come
    from the value-domain identity (smallest cents whose scaled
    cumulative count clears the threshold — the lower-percentile
    twin of mad_robust_outliers' median), so fences, clipped sums,
    and clip counts are all exact integers.

    Scale shape: one (type, value) count aggregate, one cumulative
    window over DISTINCT values, and the clip pass runs on the
    COUNT table (|distinct values| rows) with the 5-row fence table
    broadcast — raw events are touched exactly once."""
    base = t(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents"
    )
    v = base.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("cents")
    cum = v.select(
        "event_type",
        "cents",
        "c",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_c"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    fence = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(F.when(20 * F.col("cum_c") >= F.col("n"), F.col("cents"))).alias("lo"),
        F.min(
            F.when(20 * F.col("cum_c") >= 19 * F.col("n"), F.col("cents"))
        ).alias("hi"),
    )
    j = v.join(F.broadcast(fence), "event_type")
    clipped = (
        F.when(F.col("cents") < F.col("lo"), F.col("lo"))
        .when(F.col("cents") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("cents"))
    )
    return j.groupBy(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("lo").cast("bigint").alias("lo_cents"),
        F.col("hi").cast("bigint").alias("hi_cents"),
    ).agg(
        F.sum(F.col("cents") * F.col("c")).cast("bigint").alias("sum_cents"),
        F.sum(clipped * F.col("c")).cast("bigint").alias("sum_winsorized"),
        F.sum(F.when(F.col("cents") < F.col("lo"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_clipped_low"),
        F.sum(F.when(F.col("cents") > F.col("hi"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_clipped_high"),
    )


# --------------------------------- autocorrelation lag terms


@query(
    "acf_lag_terms",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) // 100 AS x
      FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT 1 AS lag UNION ALL SELECT 7)
    SELECT a.event_type, l.lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(a.x * b.x) AS BIGINT) AS s_xy,
           CAST(SUM(a.x) AS BIGINT) AS s_x,
           CAST(SUM(b.x) AS BIGINT) AS s_y,
           CAST(SUM(a.x * a.x) AS BIGINT) AS s_xx,
           CAST(SUM(b.x * b.x) AS BIGINT) AS s_yy
    FROM lags l, daily a
    JOIN daily b ON a.event_type = b.event_type
    WHERE b.day_idx = a.day_idx + l.lag
    GROUP BY 1, 2
    """,
)
def acf_lag_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation sufficient statistics at lags 1 and 7 for the
    daily-revenue series of each event type — the exact integer
    moments (pair count, cross product, both marginal sums and
    squares) from which Pearson r at each lag assembles: lag-1 reads
    momentum, lag-7 reads weekly seasonality, and emitting the
    moments instead of the ratio keeps the repo's no-float-finals
    convention (the same technique as rolling_corr_terms).  Daily
    totals are floored to whole dollars so the squared terms hold in
    BIGINT through ~1e9x scale-up.

    Scale shape: the (type, day) aggregate is the only corpus-sized
    exchange; the lag joins run on the calendar-bounded aggregate
    (equi-join on shifted day index, broadcastable) and the moment
    rollup is map-side combinable."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) DIV 100"
            ).alias("x")
        )
    )
    lags = literal_df(daily.sparkSession, [(1,), (7,)], "lag int")
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day_idx") == F.col("a.day_idx") + F.col("lag")),
    )
    return pairs.groupBy(
        F.col("a.event_type").alias("event_type"),
        F.col("lag").cast("bigint").alias("lag"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("a.x") * F.col("b.x")).cast("bigint").alias("s_xy"),
        F.sum("a.x").cast("bigint").alias("s_x"),
        F.sum("b.x").cast("bigint").alias("s_y"),
        F.sum(F.col("a.x") * F.col("a.x")).cast("bigint").alias("s_xx"),
        F.sum(F.col("b.x") * F.col("b.x")).cast("bigint").alias("s_yy"),
    )


# -------------------------------- chi-square contingency terms


@query(
    "chi2_lang_source_terms",
    oracle="""
    WITH o AS (
      SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2
    ),
    r AS (SELECT lang, SUM(obs) AS rn FROM o GROUP BY 1),
    c AS (SELECT source, SUM(obs) AS cn FROM o GROUP BY 1),
    n AS (SELECT SUM(obs) AS nn FROM o)
    SELECT o.lang, o.source,
           CAST(o.obs AS BIGINT) AS observed,
           CAST(r.rn * c.cn * 1000000 // n.nn AS BIGINT) AS expected_e6,
           CAST((o.obs * n.nn - r.rn * c.cn)
                * CAST(o.obs * n.nn - r.rn * c.cn AS HUGEINT)
                * 1000000
                // (n.nn * r.rn * c.cn) AS BIGINT) AS contrib_e6
    FROM o JOIN r USING (lang) JOIN c USING (source), n
    """,
)
def chi2_lang_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence terms for the (lang, source)
    contingency table — the 'is language mix independent of feed'
    audit behind corpus-composition dashboards: per observed cell,
    the count, its independence expectation R*C/N, and its chi-square
    contribution (O*N - R*C)^2 / (N*R*C), both as e6 integers under
    truncating division so the whole table is cross-engine exact
    (sum contrib_e6/1e6 ~ the chi-square statistic).  The squared
    numerator is widened to DECIMAL(38,0)/HUGEINT — exact through
    ~1e8 docs; past that the e6 readout wants a split-scale rescale
    (documented bound, same class as pareto's BIGINT note).

    Scale shape: one (lang, source) count aggregate is the corpus
    exchange; margins derive from that aggregate (never re-scan) and
    broadcast back onto the bounded cell table."""
    o = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("obs"))
        
    )
    from instructions_mr_spark.queries._util import supersede_checkpoint

    o = supersede_checkpoint("chi2_cells", o)
    r = o.groupBy("lang").agg(F.sum("obs").alias("rn"))
    c = o.groupBy("source").agg(F.sum("obs").alias("cn"))
    n = o.agg(F.sum("obs").alias("nn"))
    return (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "lang",
            "source",
            "CAST(obs AS BIGINT) AS observed",
            "CAST(rn * cn * 1000000 DIV nn AS BIGINT) AS expected_e6",
            "CAST(CAST(obs * nn - rn * cn AS DECIMAL(38,0))"
            " * (obs * nn - rn * cn) * 1000000"
            " DIV (CAST(nn AS DECIMAL(38,0)) * rn * cn) AS BIGINT)"
            " AS contrib_e6",
        )
    )


# ------------------------------------ Wald-Wolfowitz runs counts


@query(
    "runs_test_counts",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {duck_epoch('ts', 'day')} AS day_idx,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    v AS (
      SELECT event_type, cents, COUNT(*) AS c FROM daily GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    med AS (
      SELECT event_type,
             MIN(CASE WHEN 2 * cum_c >= n THEN cents END) AS med
      FROM cum GROUP BY event_type
    ),
    signed AS (
      SELECT d.event_type, d.day_idx,
             CASE WHEN d.cents > m.med THEN 1 ELSE 0 END AS up
      FROM daily d JOIN med m USING (event_type)
    ),
    runs AS (
      SELECT event_type, up,
             CASE WHEN LAG(up) OVER (PARTITION BY event_type
                                     ORDER BY day_idx) IS DISTINCT FROM up
                  THEN 1 ELSE 0 END AS run_start
      FROM signed
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(up) AS BIGINT) AS n_above,
           CAST(COUNT(*) - SUM(up) AS BIGINT) AS n_below,
           CAST(SUM(run_start) AS BIGINT) AS n_runs
    FROM runs GROUP BY event_type
    """,
)
def runs_test_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs-test counts on each series' daily revenue
    vs its exact median — the randomness screen forecasting pipelines
    run before trusting residuals: too FEW runs means the series is
    trending/sticky, too many means oscillation.  The median is the
    value-domain lower median (integer cents), above/below is a
    strict comparison (ties fold into 'below', stated policy), and
    the run count is a LAG-transition sum — every emitted number is
    an exact integer.

    Scale shape: the (type, day) aggregate is the corpus exchange;
    the median pass and the run scan both operate on the
    calendar-bounded aggregate with the |types|-row median table
    broadcast back."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(spark_epoch("ts", "day")).alias("day_idx"),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))"
            ).alias("cents")
        )
    )
    v = daily.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("cents")
    cum = v.select(
        "event_type",
        "cents",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_c"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("cum_c") >= F.col("n"), F.col("cents"))).alias(
            "med"
        )
    )
    signed = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day_idx",
        F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias("up"),
    )
    wd = Window.partitionBy("event_type").orderBy("day_idx")
    runs = signed.select(
        "event_type",
        "up",
        F.when(
            ~F.lag("up").over(wd).eqNullSafe(F.col("up")), 1
        ).otherwise(0).alias("run_start"),
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("up").cast("bigint").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("up")).cast("bigint").alias("n_below"),
        F.sum("run_start").cast("bigint").alias("n_runs"),
    )


# ------------------------------------------ Spearman rank correlation

_SPEAR_DUCK = """
    WITH base AS (
      SELECT o_custkey,
             COUNT(*) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY freq, o_custkey) AS rx,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS ry
      FROM base
    ),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST((rx - ry) * (rx - ry) AS HUGEINT)) AS sum_d2
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(sum_d2 AS BIGINT) AS sum_d2,
           CAST(1000000 - (6 * sum_d2 * 1000000)
                          // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT)
             AS rho_e6
    FROM s
"""


@query("spearman_rho_terms", oracle=_SPEAR_DUCK)
def spearman_rho_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order frequency and lifetime
    revenue across customers — the monotonic-association twin of
    kendall_tau_terms (which pays O(pairs); Spearman is two ranks and
    one sum).  Ties are broken by custkey on BOTH rank axes
    (ROW_NUMBER, not average ranks), so the statistic is the
    deterministic tie-broken variant and both engines compute the
    identical integer.  rho_e6 = 1e6 - (6e6 * sum d^2) DIV (n^3 - n),
    truncating division on non-negative operands (tie-safe); the
    DECIMAL(38,0)/HUGEINT numerator passes BIGINT at any n, and the
    emitted sum_d2 column fits BIGINT up to n ~ 2e6 entities
    (documented envelope; the internal sum is exact DECIMAL(38,0)
    regardless).

    Scale shape: one custkey aggregate; the two global ranks are
    two-phase bucketed ranks (two_phase_rank — value-domain buckets:
    order count, cents DIV 2^21), never a partitionless window; the
    final reduce is one row."""
    from instructions_mr_spark.queries._util import two_phase_rank

    o = t(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("freq"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    r1 = two_phase_rank(
        base, F.col("freq"), [F.col("freq").asc(), F.col("o_custkey")],
        rn_name="rx",
    )
    r2 = two_phase_rank(
        r1,
        F.expr("cents DIV 2097152"),
        [F.col("cents").asc(), F.col("o_custkey")],
        rn_name="ry",
    )
    s = r2.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "SUM(CAST((rx - ry) * (rx - ry) AS DECIMAL(38,0)))"
        ).alias("sum_d2"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(sum_d2 AS BIGINT) AS sum_d2",
        "CAST(1000000 - (6 * sum_d2 * 1000000)"
        " DIV (CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT) AS rho_e6",
    )


# ------------------------------------------------------- Theil index

_THEIL_DUCK = f"""
    WITH base AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(cents) AS total_cents,
             SUM(CAST(cents AS DECIMAL(9,0))
                 * CAST({round_half('LN(CAST(cents AS DOUBLE))', 10)}
                        AS DECIMAL(28,10))) AS sum_xlnx
      FROM base
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(total_cents AS BIGINT) AS total_cents,
           {dec_double("sum_xlnx")} AS sum_xlnx,
           CAST(CAST({round_half('LN(CAST(total_cents AS DOUBLE))', 10)}
                     AS DECIMAL(28,10)) AS DOUBLE) AS ln_total_r10,
           CAST(CAST({round_half('LN(CAST(n AS DOUBLE))', 10)}
                     AS DECIMAL(28,10)) AS DOUBLE) AS ln_n_r10
    FROM s
"""


@query("theil_index_terms", oracle=_THEIL_DUCK)
def theil_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer lifetime revenue, as
    sufficient statistics (the entropy-based complement of
    gini_revenue_inequality and hhi_concentration): T = sum(x ln x) /
    total - (ln total - ln n), where the reader forms the final float.
    Per-row logs follow the column_entropy convention — ln rounded to
    10 digits into DECIMAL, so the sum is order-free (a 1-ulp libm
    difference still flips a log within an ulp of a rounding boundary); cents (< 2^31 per customer, DECIMAL(9,0)) times the
    10-dp log stays inside DECIMAL(38,10) exactly.  The exact sum and
    logs leave as the nearest DOUBLE (the _util output-type rule; the
    sum's unscaled value passes 2^53, so it goes through dec_double).

    Scale shape: one custkey aggregate (map-side partial), one 1-row
    moment reduce — no window, no join."""
    o = t(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    s = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.expr(
            "SUM(CAST(cents AS DECIMAL(9,0))"
            f" * CAST({round_half('LN(CAST(cents AS DOUBLE))', 10)}"
            " AS DECIMAL(28,10)))"
        ).alias("sum_xlnx"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(total_cents AS BIGINT) AS total_cents",
        f"{dec_double('sum_xlnx')} AS sum_xlnx",
        f"CAST(CAST({round_half('LN(CAST(total_cents AS DOUBLE))', 10)}"
        " AS DECIMAL(28,10)) AS DOUBLE) AS ln_total_r10",
        f"CAST(CAST({round_half('LN(CAST(n AS DOUBLE))', 10)} AS DECIMAL(28,10))"
        " AS DOUBLE) AS ln_n_r10",
    )


# --------------------------------------------- Mann-Kendall trend test

_MK_DUCK = f"""
    WITH daily AS (
      SELECT {duck_epoch('o_orderdate', 'day')}
               AS day_idx,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                         WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                AS BIGINT) AS s_stat,
           CAST(SUM(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_concordant,
           CAST(SUM(CASE WHEN b.cents < a.cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_discordant,
           CAST(SUM(CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ties
    FROM daily a JOIN daily b ON b.day_idx > a.day_idx
"""


@query("mann_kendall_trend", oracle=_MK_DUCK)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on the daily revenue series:
    S = sum over day pairs i<j of sign(x_j - x_i) — the standard
    nonparametric 'is this KPI drifting' statistic (S >> 0 = rising,
    << 0 = falling; the reader forms the z from S and n).  All-integer
    (cents, counts, signs) so both engines agree exactly.

    Scale shape: the corpus-sized work is ONE day group-by; the
    pairwise self-join runs on the daily AGGREGATE — calendar-bounded
    (K days -> K^2/2 pairs of narrow int rows, broadcast join), never
    on raw orders.  Epoch-day integer arithmetic (no date functions —
    locale drift)."""
    o = t(spark, sf_dir, "orders")
    daily = o.selectExpr(
        f"{spark_epoch('o_orderdate', 'day')} AS day_idx",
        "CAST(o_totalprice AS DECIMAL(12,2)) AS p",
    ).groupBy("day_idx").agg(
        F.expr("CAST(SUM(p) * 100 AS BIGINT)").alias("cents")
    )
    a = daily.select(
        F.col("day_idx").alias("da"), F.col("cents").alias("xa")
    )
    b = daily.select(
        F.col("day_idx").alias("db"), F.col("cents").alias("xb")
    )
    pairs = a.join(F.broadcast(b), F.col("db") > F.col("da"))
    # n_days as a broadcast 1-row aggregate — no separate count() job
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    agg = pairs.agg(
        F.sum(
            F.when(F.col("xb") > F.col("xa"), 1)
            .when(F.col("xb") < F.col("xa"), -1)
            .otherwise(0)
        ).cast("bigint").alias("s_stat"),
        F.sum(F.when(F.col("xb") > F.col("xa"), 1).otherwise(0))
        .cast("bigint").alias("n_concordant"),
        F.sum(F.when(F.col("xb") < F.col("xa"), 1).otherwise(0))
        .cast("bigint").alias("n_discordant"),
        F.sum(F.when(F.col("xb") == F.col("xa"), 1).otherwise(0))
        .cast("bigint").alias("n_ties"),
    )
    return agg.crossJoin(F.broadcast(nd)).select(
        "n_days", "s_stat", "n_concordant", "n_discordant", "n_ties"
    )


# ------------------------------------------- count-min sketch audit

_CM_SEEDS = 4
_CM_WIDTH = 512
_CM_TOPK = 10


def _cm_duck() -> str:
    h = duck_hash("CAST(l_partkey AS VARCHAR) || '#' || s.seed", hex_digits=15)
    return f"""
    WITH kc AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    ),
    seeds AS (SELECT unnest(range(0, {_CM_SEEDS})) AS seed),
    sk AS (
      SELECT s.seed, {h} % {_CM_WIDTH} AS bucket, SUM(kc.cnt) AS bcnt
      FROM kc, seeds s GROUP BY 1, 2
    ),
    top AS (
      SELECT l_partkey, cnt FROM kc
      ORDER BY cnt DESC, l_partkey LIMIT {_CM_TOPK}
    )
    SELECT t.l_partkey,
           CAST(t.cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(sk.bcnt) AS BIGINT) AS cm_estimate,
           CAST(MIN(sk.bcnt) - t.cnt AS BIGINT) AS overestimate
    FROM top t
    JOIN seeds s ON TRUE
    JOIN sk ON sk.seed = s.seed
           AND sk.bucket = {h.replace('l_partkey', 't.l_partkey')} % {_CM_WIDTH}
    GROUP BY t.l_partkey, t.cnt
    """


@query("sketch_countmin_heavy", oracle=_cm_duck())
def sketch_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch audit over the part-key frequency stream: a
    {_CM_SEEDS} x {_CM_WIDTH} CM sketch (portable h60 row hashes, so
    both engines build the identical sketch), read back for the exact
    top-{_CM_TOPK} heaviest parts — per key the estimate (min over
    seed rows) next to the exact count and the overestimate, which is
    provably >= 0 (CM never undercounts).  The sketch a streaming
    heavy-hitter gate would keep in O(seeds x width) memory instead
    of a per-key table.

    Scale shape: ONE partkey group-by is the corpus exchange; the
    sketch is built from the per-key count table (key-cardinality-
    sized, seeds x 1 narrow rows per key) — never by re-scanning rows
    per seed — and the {_CM_TOPK}-row top list joins the width-bounded
    sketch by broadcast."""
    li = t(spark, sf_dir, "lineitem")
    kc = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    kc = supersede_checkpoint("cm_key_counts", kc)
    seeds = spark.range(_CM_SEEDS).select(F.col("id").cast("int").alias("seed"))
    h = spark_hash("CAST(l_partkey AS STRING) || '#' || seed", hex_digits=15)
    keyed = kc.crossJoin(F.broadcast(seeds)).selectExpr(
        "l_partkey", "cnt", "seed", f"{h} % {_CM_WIDTH} AS bucket"
    )
    sk = keyed.groupBy("seed", "bucket").agg(F.sum("cnt").alias("bcnt"))
    top = (
        kc.orderBy(F.col("cnt").desc(), "l_partkey")
        .limit(_CM_TOPK)
        .withColumnRenamed("cnt", "exact_cnt")
    )
    top_buckets = top.crossJoin(F.broadcast(seeds)).selectExpr(
        "l_partkey", "exact_cnt", "seed", f"{h} % {_CM_WIDTH} AS bucket"
    )
    return (
        top_buckets.join(F.broadcast(sk), ["seed", "bucket"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("bcnt").alias("cm_estimate"))
        .selectExpr(
            "l_partkey",
            "CAST(exact_cnt AS BIGINT) AS exact_cnt",
            "CAST(cm_estimate AS BIGINT) AS cm_estimate",
            "CAST(cm_estimate - exact_cnt AS BIGINT) AS overestimate",
        )
    )


sketch_countmin_heavy.__doc__ = (sketch_countmin_heavy.__doc__ or "").replace(
    "{_CM_SEEDS}", str(_CM_SEEDS)
).replace("{_CM_WIDTH}", str(_CM_WIDTH)).replace("{_CM_TOPK}", str(_CM_TOPK))


# -------------------------------------- feature-hashing collision audit

_FH_BUCKETS = 4096


def _fh_duck() -> str:
    h = duck_hash("w", 91, hex_digits=15)
    return f"""
    WITH vocab AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    b AS (
      SELECT {h} % {_FH_BUCKETS} AS bucket, COUNT(*) AS n_feat
      FROM vocab WHERE w != '' GROUP BY 1
    )
    SELECT CAST(SUM(n_feat) AS BIGINT) AS n_features,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST(SUM(CASE WHEN n_feat >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_collided_buckets,
           CAST(MAX(n_feat) AS BIGINT) AS max_bucket_load,
           CAST(SUM(CASE WHEN n_feat >= 2 THEN n_feat ELSE 0 END) AS BIGINT)
             AS n_features_collided,
           CAST(SUM(CASE WHEN n_feat >= 2 THEN n_feat ELSE 0 END) * 1000000
                // SUM(n_feat) AS BIGINT) AS collision_rate_e6
    FROM b
    """


@query("feature_hash_collision_audit", oracle=_fh_duck())
def feature_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit: map the corpus vocabulary into
    {_FH_BUCKETS} feature-hash buckets (portable h60, identical on
    both engines) and report how much signal collides — total
    features, buckets used, collided buckets, the hottest bucket, and
    the share of features sharing a bucket (e6 integer units under
    truncating division).  The readout that sizes the hash dimension
    before training a hashed-feature model.

    Scale shape: one word-distinct aggregate is the corpus exchange;
    the bucket rollup and the summary run over bucket-bounded
    ({_FH_BUCKETS}-row) state."""
    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    b = vocab.selectExpr(f"{spark_hash('w', 91, hex_digits=15)} % {_FH_BUCKETS} AS bucket").groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).alias("n_feat"))
    return b.agg(
        F.sum("n_feat").cast("bigint").alias("n_features"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
        F.sum(F.when(F.col("n_feat") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_collided_buckets"),
        F.max("n_feat").cast("bigint").alias("max_bucket_load"),
        F.sum(F.when(F.col("n_feat") >= 2, F.col("n_feat")).otherwise(0))
        .cast("bigint")
        .alias("n_features_collided"),
        F.expr(
            "CAST(SUM(CASE WHEN n_feat >= 2 THEN n_feat ELSE 0 END) * 1000000"
            " DIV SUM(n_feat) AS BIGINT)"
        ).alias("collision_rate_e6"),
    )


feature_hash_collision_audit.__doc__ = (
    feature_hash_collision_audit.__doc__ or ""
).replace("{_FH_BUCKETS}", str(_FH_BUCKETS))


# ------------------------------------- Kaplan-Meier retention curve

_KM_CHURN_GAP_DAYS = 90

_KM_DUCK = f"""
    WITH per_cust AS (
      SELECT o_custkey,
             MIN({duck_epoch('o_orderdate', 'day')})
               AS first_day,
             MAX({duck_epoch('o_orderdate', 'day')})
               AS last_day
      FROM orders GROUP BY 1
    ),
    censored AS (
      SELECT o_custkey,
             last_day - first_day AS tenure_days,
             CASE WHEN last_day <= (SELECT MAX(last_day) FROM per_cust) - 90
                  THEN 1 ELSE 0 END AS is_event
      FROM per_cust
    ),
    by_t AS (
      SELECT tenure_days,
             COUNT(*) AS n_leaving,
             SUM(is_event) AS n_events
      FROM censored GROUP BY 1
    ),
    risk AS (
      SELECT tenure_days, n_leaving, n_events,
             (SELECT COUNT(*) FROM censored)
               - (SUM(n_leaving) OVER (ORDER BY tenure_days) - n_leaving)
               AS n_risk
      FROM by_t
    ),
    factors AS (
      SELECT tenure_days, n_risk, n_events,
             CASE WHEN n_events < n_risk THEN
               CAST({round_half('LN(1.0 - CAST(n_events AS DOUBLE) / n_risk)', 10)}
                    AS DECIMAL(16,10))
             ELSE CAST(0 AS DECIMAL(16,10)) END AS ln1f,
             CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS hit_zero
      FROM risk
    )
    SELECT CAST(tenure_days AS BIGINT) AS tenure_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CASE WHEN SUM(hit_zero) OVER (ORDER BY tenure_days) > 0 THEN NULL
                ELSE CAST(CAST(SUM(ln1f) OVER (ORDER BY tenure_days)
                               AS DECIMAL(38,10)) AS DOUBLE) END
             AS ln_surv_r10
    FROM factors
    WHERE n_events > 0
    ORDER BY tenure_days
"""


@query("kaplan_meier_retention", oracle=_KM_DUCK)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer tenure (days between
    first and last order), with right-censoring: a customer still
    ordering within {_KM_CHURN_GAP_DAYS} days of the dataset horizon is
    censored (contributes to the risk set through their observed
    tenure but is not a churn event).  Emitted as exact terms — per
    event-time: n_risk, n_events, and the running sum of
    ln(1 - d/n) rounded to 10 digits (the reader exponentiates for
    S(t)); the 10-dp decimal log convention (theil_index_terms) makes
    the cumulative sum order-free, short of a 1-ulp libm flip at a
    rounding boundary, and ln_surv goes NULL
    from the first time the risk set is exhausted (S(t) = 0, where the
    log diverges).  The running sum is exact in DECIMAL(38,10) and
    leaves as the nearest DOUBLE (the _util output-type rule).

    Scale shape: one custkey aggregate, one tenure-histogram aggregate
    (value-domain bounded: tenure <= calendar span, so the table is a
    few thousand rows at ANY corpus size); the two cumulative sums run
    as two_phase_cumsum over tenure-range buckets — no partitionless
    window, no join wider than the histogram.  The censor horizon is a
    broadcast 1-row aggregate."""
    from instructions_mr_spark.queries._util import two_phase_cumsum

    o = t(spark, sf_dir, "orders")
    day = F.expr(spark_epoch("o_orderdate", "day"))
    per_cust = o.groupBy("o_custkey").agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    horizon = per_cust.agg(F.max("last_day").alias("_horizon"))
    censored = per_cust.join(F.broadcast(horizon)).select(
        (F.col("last_day") - F.col("first_day")).alias("tenure_days"),
        F.when(
            F.col("last_day") <= F.col("_horizon") - _KM_CHURN_GAP_DAYS, 1
        )
        .otherwise(0)
        .alias("is_event"),
    )
    by_t = censored.groupBy("tenure_days").agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum("is_event").alias("n_events"),
    )
    total = censored.agg(F.count(F.lit(1)).alias("_n_total"))
    cum1 = two_phase_cumsum(
        by_t.join(F.broadcast(total)),
        F.expr("tenure_days DIV 128"),
        [F.col("tenure_days").asc()],
        "n_leaving",
        out="_cum_leave",
    )
    risk = cum1.select(
        "tenure_days",
        "n_events",
        (F.col("_n_total") - F.col("_cum_leave") + F.col("n_leaving")).alias(
            "n_risk"
        ),
    )
    factors = risk.select(
        "tenure_days",
        "n_risk",
        "n_events",
        F.expr(
            "CASE WHEN n_events < n_risk THEN"
            f" CAST({round_half('LN(1.0 - CAST(n_events AS DOUBLE) / n_risk)', 10)}"
            " AS DECIMAL(16,10))"
            " ELSE CAST(0 AS DECIMAL(16,10)) END"
        ).alias("ln1f"),
        F.expr(
            "CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END"
        ).alias("hit_zero"),
    )
    cum2 = two_phase_cumsum(
        factors,
        F.expr("tenure_days DIV 128"),
        [F.col("tenure_days").asc()],
        "ln1f",
        out="_cum_ln",
    )
    cum3 = two_phase_cumsum(
        cum2,
        F.expr("tenure_days DIV 128"),
        [F.col("tenure_days").asc()],
        "hit_zero",
        out="_cum_zero",
    )
    return (
        cum3.filter(F.col("n_events") > 0)
        .select(
            F.col("tenure_days").cast("bigint").alias("tenure_days"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.expr(
                "CASE WHEN _cum_zero > 0 THEN NULL"
                " ELSE CAST(CAST(_cum_ln AS DECIMAL(38,10)) AS DOUBLE) END"
            ).alias("ln_surv_r10"),
        )
        .orderBy("tenure_days")
    )


kaplan_meier_retention.__doc__ = (kaplan_meier_retention.__doc__ or "").replace(
    "{_KM_CHURN_GAP_DAYS}", str(_KM_CHURN_GAP_DAYS)
)


# --------------------------------- STL-style daily residual decompose

_STL_DUCK = f"""
    WITH daily AS (
      SELECT {duck_epoch('o_orderdate', 'day')}
               AS day_idx,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    trend AS (
      SELECT day_idx, cents,
             SUM(cents) OVER w // COUNT(*) OVER w AS trend_c
      FROM daily
      WINDOW w AS (ORDER BY day_idx RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT day_idx, cents, trend_c, cents - trend_c AS detr_c,
             day_idx % 7 AS dow
      FROM trend
    ),
    seas AS (
      SELECT dow, SUM(detr_c) // COUNT(*) AS seasonal_c
      FROM detr GROUP BY 1
    )
    SELECT CAST(d.day_idx AS BIGINT) AS day_idx,
           CAST(d.cents AS BIGINT) AS cents,
           CAST(d.trend_c AS BIGINT) AS trend_c,
           CAST(s.seasonal_c AS BIGINT) AS seasonal_c,
           CAST(d.detr_c - s.seasonal_c AS BIGINT) AS resid_c
    FROM detr d JOIN seas s ON d.dow = s.dow
    ORDER BY abs(d.detr_c - s.seasonal_c) DESC, d.day_idx
    LIMIT 25
"""


@query("stl_residual_daily", oracle=_STL_DUCK)
def stl_residual_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition of the daily revenue series —
    trend = centered 7-day RANGE mean (gap-safe: missing days shrink
    the window in rows, not in time), seasonal = day-of-week mean of
    the detrended series, residual = the rest — returning the 25
    largest |residual| days (the anomaly shortlist a KPI monitor
    pages on).  All-integer: cents, floor-divided means (// on both
    engines), epoch-day % 7 for the weekday, so the engines agree
    exactly.

    Scale shape: the day grid is calendar-bounded (a few thousand rows
    at ANY corpus size — the one-partition RANGE window is over THAT,
    not the data; cf. mann_kendall_trend), the DOW table is 7 rows
    broadcast, and the top-25 is TakeOrderedAndProject."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(spark_epoch("o_orderdate", "day"))
        .alias("day_idx")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    trend = daily.select(
        "day_idx",
        "cents",
        F.expr(
            "SUM(cents) OVER (ORDER BY day_idx"
            " RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
            " DIV COUNT(*) OVER (ORDER BY day_idx"
            " RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
        ).alias("trend_c"),
    )
    detr = trend.select(
        "day_idx",
        "cents",
        "trend_c",
        (F.col("cents") - F.col("trend_c")).alias("detr_c"),
        F.expr("day_idx % 7").alias("dow"),
    )
    seas = detr.groupBy("dow").agg(
        F.expr("SUM(detr_c) DIV COUNT(*)").alias("seasonal_c")
    )
    return (
        detr.join(F.broadcast(seas), "dow")
        .select(
            F.col("day_idx").cast("bigint").alias("day_idx"),
            F.col("cents").cast("bigint").alias("cents"),
            F.col("trend_c").cast("bigint").alias("trend_c"),
            F.col("seasonal_c").cast("bigint").alias("seasonal_c"),
            (F.col("detr_c") - F.col("seasonal_c"))
            .cast("bigint")
            .alias("resid_c"),
        )
        .orderBy(F.abs(F.col("resid_c")).desc(), "day_idx")
        .limit(25)
    )


# ---------------------------------------------- Theil-Sen slope

_TSEN_DUCK = f"""
    WITH daily AS (
      SELECT {duck_epoch('o_orderdate', 'day')}
               AS day_idx,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT ((b.cents - a.cents) * 1000000) // (b.day_idx - a.day_idx)
               AS slope_e6
      FROM daily a JOIN daily b ON b.day_idx > a.day_idx
    ),
    hist AS (
      SELECT slope_e6, COUNT(*) AS cnt FROM slopes GROUP BY 1
    ),
    cum AS (
      SELECT slope_e6, cnt,
             SUM(cnt) OVER (ORDER BY slope_e6) AS c,
             (SELECT COUNT(*) FROM slopes) AS n
      FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
           CAST(MIN(CASE WHEN c >= (n + 1) // 2 THEN slope_e6 END)
                AS BIGINT) AS slope_lo_e6,
           CAST(MIN(CASE WHEN c >= (n + 2) // 2 THEN slope_e6 END)
                AS BIGINT) AS slope_hi_e6
    FROM cum
"""


@query("theil_sen_slope", oracle=_TSEN_DUCK)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope of daily revenue: the median of
    all pairwise slopes (cents/day, e6 units) — the estimator that
    shrugs off the outlier days that wreck OLS, and the magnitude
    companion to mann_kendall_trend's direction test.  Slopes are
    integerized under one truncating division (negative-safe: Spark
    DIV and DuckDB // both truncate toward zero), and the median is
    emitted as the two middle order statistics (slope_lo/slope_hi —
    the reader averages; no float midpoint crosses the exchange).

    Scale shape: the pairwise join and the slope histogram are
    calendar-bounded (days^2 / 2 pairs at ANY corpus size — the data
    only changes the cents, not the row count), same envelope as
    mann_kendall_trend; the order-statistic pick is a cumulative sum
    over the bounded histogram."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(spark_epoch("o_orderdate", "day"))
        .alias("day_idx")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    a = daily.select(F.col("day_idx").alias("da"), F.col("cents").alias("xa"))
    b = daily.select(F.col("day_idx").alias("db"), F.col("cents").alias("xb"))
    slopes = a.join(F.broadcast(b), F.col("db") > F.col("da")).select(
        F.expr("((xb - xa) * 1000000) DIV (db - da)").alias("slope_e6")
    )
    hist = slopes.groupBy("slope_e6").agg(F.count(F.lit(1)).alias("cnt"))
    n_tot = slopes.agg(F.count(F.lit(1)).alias("n"))
    cum = (
        hist.join(F.broadcast(n_tot))
        .withColumn(
            "c",
            F.expr("SUM(cnt) OVER (ORDER BY slope_e6)"),
        )
    )
    return cum.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(MIN(CASE WHEN c >= (n + 1) DIV 2 THEN slope_e6 END)"
            " AS BIGINT) AS slope_lo_e6"
        ),
        F.expr(
            "CAST(MIN(CASE WHEN c >= (n + 2) DIV 2 THEN slope_e6 END)"
            " AS BIGINT) AS slope_hi_e6"
        ),
    )


# ----------------------------------------------- AMS F2 sketch

_AMS_SEEDS = (31, 37, 41, 43)

_AMS_DUCK = f"""
    WITH kc AS (
      SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1
    ),
    seeds AS (SELECT unnest(ARRAY{list(_AMS_SEEDS)}) AS seed),
    signed AS (
      SELECT s.seed,
             CASE WHEN {duck_hash("kc.l_partkey || '#' || s.seed", hex_digits=15)} % 2 = 0
                  THEN kc.c ELSE -kc.c END AS sc,
             kc.c
      FROM kc CROSS JOIN seeds s
    )
    SELECT seed,
           CAST(SUM(sc) AS BIGINT) AS s_value,
           CAST(SUM(sc) * SUM(sc) AS BIGINT) AS f2_estimate,
           CAST(SUM(c * c) AS BIGINT) AS f2_exact
    FROM signed GROUP BY seed ORDER BY seed
"""


@query("sketch_ams_f2", oracle=_AMS_DUCK)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch audit
    over part demand: each of {_AMS_SEEDS} seeds assigns every key a
    portable +/-1 hash sign, S = sum(sign * count) is one number per
    seed, and S^2 is an unbiased F2 estimate — the join-size /
    self-join-cardinality estimator (F2 = sum c^2 IS the equi-self-
    join size).  The exact F2 rides along so the audit shows the
    per-seed estimator spread.  All-integer.

    Scale shape: one partkey count (map-side partial), a 4x seed
    fan-out of the KEY table only (never the fact table), and a 4-row
    reduce; the sign is the h60 digest parity, so any engine
    reproduces the same sketch — mergeable across shards by adding
    S values.  Companion to sketch_countmin_heavy (point estimates)
    and sketch_hll_merge (F0)."""
    li = t(spark, sf_dir, "lineitem")
    kc = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    seeds = ", ".join(str(s) for s in _AMS_SEEDS)
    fan = kc.selectExpr("l_partkey", "c", f"explode(array({seeds})) AS seed")
    sign = spark_hash("l_partkey || '#' || seed", hex_digits=15)
    signed = fan.selectExpr(
        "seed",
        "c",
        f"CASE WHEN {sign} % 2 = 0"
        " THEN c ELSE -c END AS sc",
    )
    return (
        signed.groupBy("seed")
        .agg(
            F.sum("sc").cast("bigint").alias("s_value"),
            F.expr("CAST(SUM(sc) * SUM(sc) AS BIGINT)").alias("f2_estimate"),
            F.expr("CAST(SUM(c * c) AS BIGINT)").alias("f2_exact"),
        )
        .orderBy("seed")
    )


sketch_ams_f2.__doc__ = (sketch_ams_f2.__doc__ or "").replace(
    "{_AMS_SEEDS}", str(_AMS_SEEDS)
)


@query(
    "percentile_disc_vs_cont",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(quantile_disc(l_quantity, 0.5) * 100 + 0.5) AS BIGINT)
             AS p50_disc_c,
           CAST(FLOOR(quantile_cont(l_quantity, 0.5) * 100 + 0.5) AS BIGINT)
             AS p50_cont_c,
           CAST(FLOOR(quantile_disc(l_quantity, 0.9) * 100 + 0.5) AS BIGINT)
             AS p90_disc_c,
           CAST(FLOOR(quantile_cont(l_quantity, 0.9) * 100 + 0.5) AS BIGINT)
             AS p90_cont_c
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_disc_vs_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC vs PERCENTILE_CONT side by side (p50 / p90 of
    line quantity per return flag): DISC returns an actual data value
    (smallest value whose cumulative distribution reaches p), CONT
    linearly interpolates between neighbors — analysts swap them
    interchangeably and then wonder why medians differ between tools,
    so the engine pins BOTH definitions against the oracle.  Results
    land as exact cents (quantities are whole-valued, interpolation
    introduces at most .5 fractions — representable exactly in
    doubles, so the cents rounding is deterministic).

    Scale shape: exact percentiles imply a per-group sort internally,
    but grouped BY the natural flag key — for corpus-scale
    percentiles use percentile_exact_twophase's value-histogram
    pattern instead; this query pins SEMANTICS on grouped data."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                "CAST(FLOOR(percentile_disc(0.5) WITHIN GROUP"
                " (ORDER BY l_quantity) * 100 + 0.5) AS BIGINT)"
            ).alias("p50_disc_c"),
            F.expr(
                "CAST(FLOOR(percentile_cont(0.5) WITHIN GROUP"
                " (ORDER BY l_quantity) * 100 + 0.5) AS BIGINT)"
            ).alias("p50_cont_c"),
            F.expr(
                "CAST(FLOOR(percentile_disc(0.9) WITHIN GROUP"
                " (ORDER BY l_quantity) * 100 + 0.5) AS BIGINT)"
            ).alias("p90_disc_c"),
            F.expr(
                "CAST(FLOOR(percentile_cont(0.9) WITHIN GROUP"
                " (ORDER BY l_quantity) * 100 + 0.5) AS BIGINT)"
            ).alias("p90_cont_c"),
        )
    )


@query(
    "moments34_terms",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qc
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qc) AS BIGINT) AS s1,
           {dec_double("SUM(CAST(qc AS DECIMAL(38,0)) * qc)")} AS s2,
           {dec_double("SUM(CAST(qc AS DECIMAL(38,0)) * qc * qc)")} AS s3,
           {dec_double("SUM(CAST(qc AS DECIMAL(38,0)) * qc * qc * qc)")} AS s4
    FROM c GROUP BY l_returnflag
    """,
)
def moments34_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw moments through order 4 of line quantity (cents) per return
    flag: skewness and kurtosis assemble from n, s1..s4 by the
    standard central-moment identities.  The power sums are exact and
    leave through dec_double as the nearest DOUBLE (the _util
    output-type rule; s4 passes BIGINT at sf0.1), so both engines agree
    bit-for-bit
    where Spark's built-in skewness()/kurtosis() (streaming float
    central moments) and DuckDB's would differ in low bits.  The
    shape screen behind outlier-heavy-tail detection and normality
    checks on any metric column.

    Scale shape: ONE map-side-combinable aggregate on the natural
    flag key; all four power sums accumulate in DECIMAL(38,0) —
    cents^4 at 5e3 magnitude times 1e12 rows stays inside 38
    digits."""
    c = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").alias("qc"),
    )
    return c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qc").cast("bigint").alias("s1"),
        F.expr(dec_double("SUM(CAST(qc AS DECIMAL(38,0)) * qc)")).alias("s2"),
        F.expr(dec_double("SUM(CAST(qc AS DECIMAL(38,0)) * qc * qc)"))
        .alias("s3"),
        F.expr(dec_double("SUM(CAST(qc AS DECIMAL(38,0)) * qc * qc * qc)"))
        .alias("s4"),
    )


@query(
    "histogram_2d_grid",
    oracle="""
    SELECT CAST(FLOOR((l_quantity - 1) / 5) AS BIGINT) AS qty_bin,
           CAST(FLOOR(l_discount * 100) AS BIGINT) AS disc_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def histogram_2d_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional histogram of the quantity x discount plane:
    5-unit quantity bins crossed with 1-point discount bins, each
    cell carrying its row count and exact-cents revenue — the heatmap
    feed behind 'where does the volume actually sit' pricing
    analyses, and the joint-distribution screen that 1-D histograms
    (value_histogram) cannot give.  Bin edges are exact integer
    arithmetic on both engines; the whole-point discount floor uses
    the raw double (discounts are stored at 2 decimals, far from the
    .0 boundaries where double floor could disagree).

    Scale shape: ONE map-side-combinable aggregate onto the bounded
    bin grid (10 x ~11 cells) — the smallest possible exchange."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            F.expr("CAST(FLOOR((l_quantity - 1) / 5) AS BIGINT)").alias(
                "qty_bin"
            ),
            F.expr("CAST(FLOOR(l_discount * 100) AS BIGINT)").alias(
                "disc_bin"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                "CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
                " AS BIGINT)"
            ).alias("rev_c"),
        )
    )


@query(
    "weighted_median_exact",
    oracle="""
    WITH hist AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, qty_c, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY qty_c
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM hist
    )
    SELECT l_returnflag,
           CAST(MIN(tw) AS BIGINT) AS total_w,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN qty_c END) AS BIGINT)
             AS wmedian_qty_c
    FROM cum GROUP BY l_returnflag
    """,
)
def weighted_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact REVENUE-weighted median quantity per return flag: the
    smallest quantity where the cumulative revenue weight reaches
    half the total (lower weighted median, 2*cw >= tw in pure
    integers) — 'half the money sits at or below this order size',
    which an unweighted median misstates whenever big-ticket lines
    cluster at particular quantities.

    Scale shape: the percentile_exact_twophase pattern with weights —
    the corpus collapses to a (flag x distinct-quantity) histogram
    first (the only corpus-sized exchange), so the cumulative window
    runs over the bounded value domain, partitioned by flag."""
    hist = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            "l_returnflag",
            F.expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").alias(
                "qty_c"
            ),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))"
            ).alias("w")
        )
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("qty_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "qty_c",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min("tw").cast("bigint").alias("total_w"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("qty_c")))
        .cast("bigint")
        .alias("wmedian_qty_c"),
    )


_REV_C = "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"


@query(
    "anova_two_way_terms",
    oracle=f"""
    SELECT CAST(FLOOR((l_quantity - 1) / 10) AS BIGINT) AS qty_band,
           CAST(FLOOR(l_discount * 20) AS BIGINT) AS disc_band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_REV_C}) AS BIGINT) AS s_rev,
           {dec_double(f"SUM(CAST({_REV_C} AS DECIMAL(38,0)) * {_REV_C})")}
             AS ss_rev
    FROM lineitem GROUP BY 1, 2
    """,
)
def anova_two_way_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA input sheet: exact count / sum / sum-of-squares
    of line revenue (cents) in every (quantity band x discount band)
    cell — main effects, the interaction term and all the F
    statistics assemble from these cells, which is how you test 'does
    discount response DEPEND on order size'.  The cell grid is the
    histogram_2d_grid bucketing carrying second moments.

    Scale shape: ONE map-side-combinable aggregate onto the bounded
    ~5x3 cell grid; squares accumulate in DECIMAL(38,0) and leave as
    the nearest DOUBLE (the _util output-type rule)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            F.expr("CAST(FLOOR((l_quantity - 1) / 10) AS BIGINT)").alias(
                "qty_band"
            ),
            F.expr("CAST(FLOOR(l_discount * 20) AS BIGINT)").alias(
                "disc_band"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(f"CAST(SUM({_REV_C}) AS BIGINT)").alias("s_rev"),
            F.expr(
                dec_double(f"SUM(CAST({_REV_C} AS DECIMAL(38,0)) * {_REV_C})")
            ).alias("ss_rev"),
        )
    )


@query(
    "daily_value_ribbon",
    oracle=f"""
    SELECT {duck_epoch('o_orderdate', 'day')}
             AS day_idx,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(quantile_disc(o_totalprice, 0.25) * 100 + 0.5)
                AS BIGINT) AS p25_c,
           CAST(FLOOR(quantile_disc(o_totalprice, 0.5) * 100 + 0.5)
                AS BIGINT) AS p50_c,
           CAST(FLOOR(quantile_disc(o_totalprice, 0.75) * 100 + 0.5)
                AS BIGINT) AS p75_c
    FROM orders GROUP BY 1
    """,
)
def daily_value_ribbon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order-value ribbon: exact DISC quartiles of order total
    per day (cents) — the p25/p50/p75 band every revenue dashboard
    shades behind the trend line, and the robust alternative to a
    daily mean that one whale order can yank around.  DISC (an
    actual observed value, the percentile_disc_vs_cont contract)
    keeps the cents exact.

    Scale shape: exact per-day percentiles imply a group-local sort,
    but grouped on the bounded calendar key — day groups are
    corpus/2400-sized and sort independently in parallel; for
    percentiles of corpus-sized groups use the two-phase histogram
    pattern instead."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.expr(spark_epoch("o_orderdate", "day")).alias("day_idx")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                "CAST(FLOOR(percentile_disc(0.25) WITHIN GROUP"
                " (ORDER BY o_totalprice) * 100 + 0.5) AS BIGINT)"
            ).alias("p25_c"),
            F.expr(
                "CAST(FLOOR(percentile_disc(0.5) WITHIN GROUP"
                " (ORDER BY o_totalprice) * 100 + 0.5) AS BIGINT)"
            ).alias("p50_c"),
            F.expr(
                "CAST(FLOOR(percentile_disc(0.75) WITHIN GROUP"
                " (ORDER BY o_totalprice) * 100 + 0.5) AS BIGINT)"
            ).alias("p75_c"),
        )
    )


@query(
    "ratio_metric_terms",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS arm,
             SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                 ELSE 0 END) AS x,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(x) AS BIGINT) AS s_x,
           {dec_double("SUM(CAST(x AS DECIMAL(38,0)) * x)")} AS s_xx,
           CAST(SUM(y) AS BIGINT) AS s_y,
           {dec_double("SUM(CAST(y AS DECIMAL(38,0)) * y)")} AS s_yy,
           {dec_double("SUM(CAST(x AS DECIMAL(38,0)) * y)")} AS s_xy
    FROM per_user GROUP BY arm
    """,
)
def ratio_metric_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method input sheet for a RATIO metric (revenue per
    event): per experiment arm (user_id parity — the
    experiment_assignment_srm convention), the exact per-user
    numerator/denominator moments n, Σx, Σx², Σy, Σy², Σxy — the
    variance of x̄/ȳ by the delta method is one exact formula over
    these six numbers, which is how A/B readouts on ratio metrics get
    correct confidence intervals (naive per-event variance is wrong
    because users, not events, are the randomization unit).

    Scale shape: one user-keyed aggregate (the corpus exchange), one
    2-row arm rollup — all map-side combinable; squares accumulate in
    DECIMAL(38,0) and leave as the nearest DOUBLE (the _util
    output-type rule)."""
    per_user = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.expr(
                "SUM(CASE WHEN event_type = 'purchase'"
                " THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
                " ELSE 0 END)"
            ).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
    )
    return per_user.groupBy(F.col("arm").cast("bigint").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("s_x"),
        F.expr(dec_double("SUM(CAST(x AS DECIMAL(38,0)) * x)")).alias("s_xx"),
        F.sum("y").cast("bigint").alias("s_y"),
        F.expr(dec_double("SUM(CAST(y AS DECIMAL(38,0)) * y)")).alias("s_yy"),
        F.expr(dec_double("SUM(CAST(x AS DECIMAL(38,0)) * y)")).alias("s_xy"),
    )


@query(
    "feature_target_corr_terms",
    oracle=f"""
    WITH base AS (
      SELECT CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT) AS f_qty,
             CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS f_disc,
             CAST(FLOOR(l_tax * 10000 + 0.5) AS BIGINT) AS f_tax,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    long AS (
      SELECT 'quantity' AS feature, f_qty AS x, y FROM base
      UNION ALL SELECT 'discount', f_disc, y FROM base
      UNION ALL SELECT 'tax', f_tax, y FROM base
    )
    SELECT feature,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS s_x,
           CAST(SUM(y) AS BIGINT) AS s_y,
           {dec_double("SUM(CAST(x AS DECIMAL(38,0)) * x)")} AS s_xx,
           {dec_double("SUM(CAST(y AS DECIMAL(38,0)) * y)")} AS s_yy,
           {dec_double("SUM(CAST(x AS DECIMAL(38,0)) * y)")} AS s_xy
    FROM long GROUP BY feature
    """,
)
def feature_target_corr_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-vs-target correlation screen: exact Pearson sufficient
    statistics of every candidate feature (quantity, discount, tax —
    1e4 fixed point) against the revenue target (cents), via ONE
    unpivot and one rollup — r assembles per feature downstream, and
    features whose |r| is suspiciously high get the leakage
    interrogation before any model sees them.  The stack-then-
    aggregate shape is the standard way to screen N features in one
    pass instead of N jobs.

    Scale shape: per-row stack (3 rows out per input row, no
    shuffle), one 3-key map-side-combinable rollup; squares accumulate
    in DECIMAL(38,0) and leave as the nearest DOUBLE (the _util
    output-type rule)."""
    base = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)").alias(
            "f_qty"
        ),
        F.expr("CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT)").alias(
            "f_disc"
        ),
        F.expr("CAST(FLOOR(l_tax * 10000 + 0.5) AS BIGINT)").alias("f_tax"),
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "y"
        ),
    )
    long = base.selectExpr(
        "stack(3, 'quantity', f_qty, 'discount', f_disc, 'tax', f_tax)"
        " AS (feature, x)",
        "y",
    )
    return long.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s_x"),
        F.sum("y").cast("bigint").alias("s_y"),
        F.expr(dec_double("SUM(CAST(x AS DECIMAL(38,0)) * x)")).alias("s_xx"),
        F.expr(dec_double("SUM(CAST(y AS DECIMAL(38,0)) * y)")).alias("s_yy"),
        F.expr(dec_double("SUM(CAST(x AS DECIMAL(38,0)) * y)")).alias("s_xy"),
    )


@query(
    "monthly_median_daily_rev",
    oracle=f"""
    WITH daily AS (
      SELECT date_part('year', o_orderdate) * 12
               + date_part('month', o_orderdate) AS month_idx,
             {duck_epoch('o_orderdate', 'day')} AS d,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(month_idx AS BIGINT) AS month_idx,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(quantile_disc(rev, 0.5) AS BIGINT) AS median_daily_rev_c
    FROM daily GROUP BY 1
    """,
)
def monthly_median_daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal subseries summary: the exact (DISC) median DAILY
    revenue within each calendar month — the robust month-strength
    readout a mean-of-days version would let one spike distort, and
    the input to seasonal-subseries plots.  Two-level construction:
    days first (exact cents), then a per-month median of ~30 values.

    Scale shape: the day grid is the corpus exchange; the per-month
    exact median sorts <= 31 values per group — bounded by the
    calendar, trivially parallel."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"
            ).alias("month_idx"),
            F.expr(spark_epoch("o_orderdate", "day")).alias("d"),
        )
        .agg(
            F.expr(
                "SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))"
            ).alias("rev")
        )
    )
    return daily.groupBy("month_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY rev)"
            " AS BIGINT)"
        ).alias("median_daily_rev_c"),
    )


# ================================================================ round 9


def _boot_sql(engine: str) -> str:
    """Shared bootstrap-weight fragment: replicate b resamples order r
    with weight h(r, b) % 3 in {0,1,2} (mean 1 — a deterministic
    multinomial proxy), from the portable 60-bit md5 digest both
    engines compute byte-identically."""
    h = (spark_hash if engine == "spark" else duck_hash)(
        "CAST(o_orderkey AS STRING) || ':' || CAST(b AS STRING)"
        if engine == "spark"
        else "CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)",
        7,
        hex_digits=15,
    )
    return f"({h}) % 3"


@query(
    "bootstrap_mean_ci_terms",
    oracle=f"""
    WITH reps AS (SELECT UNNEST(range(0, 16)) AS b),
    w AS (
      SELECT b,
             ({_boot_sql('duck')}) AS wt,
             CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
               AS cents
      FROM orders, reps
    )
    SELECT CAST(b AS BIGINT) AS replicate,
           CAST(SUM(wt) AS BIGINT) AS n_eff,
           CAST(SUM(wt * cents) AS BIGINT) AS sum_cents,
           CAST(SUM(wt * cents) // SUM(wt) AS BIGINT) AS mean_cents
    FROM w GROUP BY b ORDER BY b
    """,
)
def bootstrap_mean_ci_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bootstrap of the mean order value: 16 resampling
    replicates where row r enters replicate b with weight
    md5(r:b) % 3 (mean-1 multinomial proxy — no RNG state, so both
    engines and every retry draw the SAME resamples), each emitting
    its effective n, exact cent sum, and truncated mean.  The reader
    forms the CI from the 16 replicate means (the house *_terms
    convention keeps square roots/quantiles out of the hash).

    Scale shape: the 16x replication is a flatMap off the scan (no
    shuffle added); ONE aggregate keyed by the 16-value replicate id.
    At 100 TB the per-replicate partials merge map-side; weights cost
    one md5 per (row, replicate)."""
    reps = spark.range(0, 16).select(F.col("id").cast("int").alias("b"))
    w = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .crossJoin(F.broadcast(reps))
        .selectExpr(
            "b",
            f"({_boot_sql('spark')}) AS wt",
            "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)"
            " AS cents",
        )
    )
    return (
        w.groupBy("b")
        .agg(
            F.sum("wt").cast("bigint").alias("n_eff"),
            F.sum(F.col("wt") * F.col("cents")).cast("bigint").alias("sum_cents"),
            F.expr("CAST(SUM(wt * cents) DIV SUM(wt) AS BIGINT)").alias("mean_cents"),
        )
        .selectExpr(
            "CAST(b AS BIGINT) AS replicate", "n_eff", "sum_cents", "mean_cents"
        )
        .orderBy("replicate")
    )


@query(
    "kanon_generalization_ladder",
    oracle="""
    WITH lv AS (SELECT UNNEST([0, 1, 2]) AS level),
    g AS (
      SELECT level, c_nationkey,
             CASE WHEN level = 0 THEN CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2))) AS BIGINT)
                  WHEN level = 1 THEN CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 100) AS BIGINT)
                  ELSE CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)
             END AS bal_band
      FROM customer, lv
    ),
    cells AS (
      SELECT level, c_nationkey, bal_band, COUNT(*) AS k
      FROM g GROUP BY 1, 2, 3
    )
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS cells_below_5,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS rows_below_5
    FROM cells GROUP BY level ORDER BY level
    """,
)
def kanon_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder: the (nation, balance)
    quasi-identifier coarsened through three bands (dollars -> $100
    bands -> $1000 bands), reporting per level the cell count, the
    worst-case k, and how many cells/rows still sit below k=5 — the
    table you read to pick the CHEAPEST generalization level that
    clears the re-identification bar (k_anonymity_audit checks one
    fixed level; this is the dial).

    Scale shape: a 3x level replication off the scan, one
    (level, nation, band) aggregate (map-side combinable), and a
    3-row readout."""
    lv = spark.range(0, 3).select(F.col("id").cast("int").alias("level"))
    g = (
        t(spark, sf_dir, "customer")
        .select("c_nationkey", "c_acctbal")
        .crossJoin(F.broadcast(lv))
        .selectExpr(
            "level",
            "c_nationkey",
            "CASE WHEN level = 0 THEN CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2))) AS BIGINT)"
            " WHEN level = 1 THEN CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 100) AS BIGINT)"
            " ELSE CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)"
            " END AS bal_band",
        )
    )
    cells = g.groupBy("level", "c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        cells.groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.min("k").cast("bigint").alias("min_k"),
            F.sum(F.when(F.col("k") < 5, 1).otherwise(0)).cast("bigint").alias("cells_below_5"),
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)).cast("bigint").alias("rows_below_5"),
        )
        .selectExpr(
            "CAST(level AS BIGINT) AS level",
            "n_cells", "min_k", "cells_below_5", "rows_below_5",
        )
        .orderBy("level")
    )


@query(
    "sentinel_value_audit",
    oracle=f"""
    WITH checks AS (
      SELECT 'events.value' AS col,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN value = 0 THEN 1 ELSE 0 END) AS zeroish,
             SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS negative,
             0 AS epoch_zero, 0 AS empty_str
      FROM events
      UNION ALL
      SELECT 'events.ts', COUNT(*),
             0, 0,
             SUM(CASE WHEN {duck_epoch('ts')} = 0 THEN 1 ELSE 0 END),
             0
      FROM events
      UNION ALL
      SELECT 'documents.text', COUNT(*),
             0, 0, 0,
             SUM(CASE WHEN text = '' OR text IS NULL THEN 1 ELSE 0 END)
      FROM documents
      UNION ALL
      SELECT 'customer.c_acctbal', COUNT(*),
             SUM(CASE WHEN c_acctbal = 0 THEN 1 ELSE 0 END),
             SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END),
             0, 0
      FROM customer
    )
    SELECT col, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(zeroish AS BIGINT) AS zeroish,
           CAST(negative AS BIGINT) AS negative,
           CAST(epoch_zero AS BIGINT) AS epoch_zero,
           CAST(empty_str AS BIGINT) AS empty_str
    FROM checks ORDER BY col
    """,
)
def sentinel_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel/default-value audit: counts of the suspicious defaults
    (exact zero, negative, epoch-0 timestamp, empty string) per
    audited column across four relations — the classic
    'null-disguised-as-value' screen (0 prices, 1970 timestamps,
    empty documents) run BEFORE any aggregate trusts the column.

    Scale shape: one conditional aggregate per relation, each a
    single-pass map-side-combinable scan; the union is 4 rows."""
    e = t(spark, sf_dir, "events")
    d = t(spark, sf_dir, "documents")
    c = t(spark, sf_dir, "customer")
    r1 = e.agg(
        F.lit("events.value").alias("col"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("value") == 0, 1).otherwise(0)).cast("bigint").alias("zeroish"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).cast("bigint").alias("negative"),
        F.lit(0).cast("bigint").alias("epoch_zero"),
        F.lit(0).cast("bigint").alias("empty_str"),
    )
    r2 = e.agg(
        F.lit("events.ts").alias("col"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(0).cast("bigint").alias("zeroish"),
        F.lit(0).cast("bigint").alias("negative"),
        F.sum(
            F.when(F.expr(spark_epoch("ts")) == 0, 1).otherwise(0)
        ).cast("bigint").alias("epoch_zero"),
        F.lit(0).cast("bigint").alias("empty_str"),
    )
    r3 = d.agg(
        F.lit("documents.text").alias("col"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(0).cast("bigint").alias("zeroish"),
        F.lit(0).cast("bigint").alias("negative"),
        F.lit(0).cast("bigint").alias("epoch_zero"),
        F.sum(
            F.when((F.col("text") == "") | F.col("text").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("empty_str"),
    )
    r4 = c.agg(
        F.lit("customer.c_acctbal").alias("col"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("c_acctbal") == 0, 1).otherwise(0)).cast("bigint").alias("zeroish"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).cast("bigint").alias("negative"),
        F.lit(0).cast("bigint").alias("epoch_zero"),
        F.lit(0).cast("bigint").alias("empty_str"),
    )
    return r1.unionByName(r2).unionByName(r3).unionByName(r4).orderBy("col")


@query(
    "ivf_cell_imbalance",
    oracle=f"""
    WITH b AS (
      SELECT {duck_sign_bucket('embedding', 8)} AS cell
      FROM embeddings
    ),
    occ AS (SELECT cell, COUNT(*) AS sz FROM b GROUP BY cell),
    tot AS (SELECT COUNT(*) AS n_cells, SUM(sz) AS n_vecs, MAX(sz) AS max_sz
            FROM occ)
    SELECT CAST(n_cells AS BIGINT) AS n_cells,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(max_sz AS BIGINT) AS max_cell,
           CAST(max_sz * n_cells * 1000000 // n_vecs AS BIGINT)
             AS imbalance_e6,
           CAST((SELECT SUM(sz * sz) FROM occ) AS BIGINT) AS pair_cost_x2
    FROM tot
    """,
)
def ivf_cell_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH cell-occupancy imbalance report for the 8-bit sign
    index (the dedup_embedding_cosine base band): cell count, max
    occupancy, the max/mean imbalance factor (e6 — 1e6 = perfectly
    uniform), and sum(sz^2) — the exact candidate-join cost the
    blocking would pay.  This is the pre-flight check for the
    adaptive-width dial: when imbalance or pair cost drifts up, grow
    the bits BEFORE the dedup run quadratics (lsh_bucket_stats is the
    MinHash twin; this covers the embedding index).

    Scale shape: one projection + a 256-key aggregate + a 1-row
    readout — no joins, no pair materialization."""
    e = t(spark, sf_dir, "embeddings")
    occ = e.select(sign_bucket("embedding", 8).alias("cell")).groupBy("cell").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("sz").cast("bigint").alias("n_vecs"),
        F.max("sz").cast("bigint").alias("max_cell"),
        F.expr(
            "CAST(MAX(sz) * COUNT(*) * 1000000 DIV SUM(sz) AS BIGINT)"
        ).alias("imbalance_e6"),
        F.sum(F.col("sz") * F.col("sz")).cast("bigint").alias("pair_cost_x2"),
    )


@query(
    "near_zero_variance_audit",
    oracle="""
    WITH vals AS (
      SELECT 'lineitem.l_tax' AS col,
             CAST(FLOOR(l_tax * 1000000 + 0.5) AS BIGINT) AS v FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_discount',
             CAST(FLOOR(l_discount * 1000000 + 0.5) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'part.p_size', CAST(p_size AS BIGINT) * 1000000 FROM part
      UNION ALL
      SELECT 'events.value',
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) FROM events
    ),
    counted AS (
      SELECT col, v, COUNT(*) AS c FROM vals GROUP BY 1, 2
    ),
    tops AS (
      SELECT col, SUM(c) AS n, COUNT(*) AS n_distinct, MAX(c) AS t1
      FROM counted GROUP BY col
    ),
    seconds AS (
      SELECT c.col,
             CASE WHEN SUM(CASE WHEN c.c = t.t1 THEN 1 ELSE 0 END) >= 2
                  THEN MAX(t.t1)
                  ELSE COALESCE(MAX(CASE WHEN c.c < t.t1 THEN c.c END), 0)
             END AS t2
      FROM counted c JOIN tops t USING (col) GROUP BY c.col
    )
    SELECT t.col,
           CAST(t.n AS BIGINT) AS n,
           CAST(t.n_distinct AS BIGINT) AS n_distinct,
           CAST(t.t1 * 1000000 // t.n AS BIGINT) AS top_share_e6,
           CAST(CASE WHEN s.t2 = 0 THEN -1
                     ELSE t.t1 * 1000000 // s.t2 END AS BIGINT)
             AS freq_ratio_e6,
           (t.t1 * 1000000 // t.n > 900000 OR t.n_distinct < 5) AS nzv_flag
    FROM tops t JOIN seconds s USING (col)
    ORDER BY t.col
    """,
)
def near_zero_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-zero-variance feature screen (the caret nearZeroVar
    recipe): per audited numeric column (e6-quantized so both engines
    key identically), the distinct count, the top-value share, and
    the top/second frequency ratio — a feature that is one value 90%+
    of the time (or has almost no distinct values) carries no signal
    and destabilizes normalization; this is the drop-list generator.
    Tie rule: if the top count occurs for >= 2 distinct values, the
    ratio is exactly 1e6 (t2 = t1); a column with a single distinct
    value reports ratio -1.

    Scale shape: one (column, value) aggregate over the unioned
    projections (map-side combinable), then two tiny per-column
    rollups — no joins against facts, no sorting."""
    def vals(df, colname, expr):
        return df.selectExpr(f"'{colname}' AS col", f"{expr} AS v")

    li = t(spark, sf_dir, "lineitem")
    stacked = (
        vals(li, "lineitem.l_tax", "CAST(FLOOR(l_tax * 1000000 + 0.5) AS BIGINT)")
        .unionByName(vals(li, "lineitem.l_discount",
                          "CAST(FLOOR(l_discount * 1000000 + 0.5) AS BIGINT)"))
        .unionByName(vals(t(spark, sf_dir, "part"), "part.p_size",
                          "CAST(p_size AS BIGINT) * 1000000"))
        .unionByName(vals(t(spark, sf_dir, "events"), "events.value",
                          "CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)"))
    )
    counted = stacked.groupBy("col", "v").agg(F.count(F.lit(1)).alias("c"))
    tops = counted.groupBy("col").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("t1"),
    )
    seconds = (
        counted.join(tops.select("col", "t1"), "col")
        .groupBy("col")
        .agg(
            F.expr(
                "CASE WHEN SUM(CASE WHEN c = t1 THEN 1 ELSE 0 END) >= 2"
                " THEN MAX(t1)"
                " ELSE COALESCE(MAX(CASE WHEN c < t1 THEN c END), 0) END"
            ).alias("t2")
        )
    )
    return (
        tops.join(seconds, "col")
        .selectExpr(
            "col",
            "CAST(n AS BIGINT) AS n",
            "CAST(n_distinct AS BIGINT) AS n_distinct",
            "CAST(t1 * 1000000 DIV n AS BIGINT) AS top_share_e6",
            "CAST(CASE WHEN t2 = 0 THEN -1 ELSE t1 * 1000000 DIV t2 END"
            " AS BIGINT) AS freq_ratio_e6",
            "(t1 * 1000000 DIV n > 900000 OR n_distinct < 5) AS nzv_flag",
        )
        .orderBy("col")
    )


@query(
    "embedding_clip_calibration",
    oracle="""
    WITH dims AS (
      SELECT g.dim,
             CAST(FLOOR(CAST(embedding[g.dim] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v,
             vec_id
      FROM embeddings,
           LATERAL (SELECT UNNEST(range(1, len(embedding) + 1)) AS dim) g
    ),
    ranked AS (
      SELECT dim, v,
             ROW_NUMBER() OVER (PARTITION BY dim ORDER BY v, vec_id) AS rn,
             COUNT(*) OVER (PARTITION BY dim) AS n
      FROM dims
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(MAX(CASE WHEN rn = CEIL(0.01 * n) THEN v END) AS BIGINT)
             AS p01_e6,
           CAST(MAX(CASE WHEN rn = CEIL(0.99 * n) THEN v END) AS BIGINT)
             AS p99_e6,
           CAST(MAX(n) AS BIGINT) AS n
    FROM ranked GROUP BY dim ORDER BY dim
    """,
)
def embedding_clip_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension clip thresholds for embedding normalization: the
    exact rank-ceil(q*n) order statistics at q = 0.01 / 0.99 over
    each dimension's e6-quantized values (ties broken by vec_id, so
    both engines elect the same row) — the calibration table an
    embedding-clipping / int8-quantization step reads before touching
    100 TB of vectors (outlier dims blow up scale factors;
    embedding_quantize_int8 is the consumer).

    Scale shape: posexplode is linear (d rows per vector); the rank
    runs under a DIMENSION-keyed window (64-way parallel, never
    partitionless); the readout is one row per dimension."""
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "x")
    ).selectExpr(
        "vec_id",
        "pos0 + 1 AS dim",
        "CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v",
    )
    w = Window.partitionBy("dim").orderBy("v", "vec_id")
    ranked = dims.select(
        "dim",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("dim").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    return (
        ranked.groupBy("dim")
        .agg(
            F.expr("CAST(MAX(CASE WHEN rn = CEIL(0.01 * n) THEN v END) AS BIGINT)").alias("p01_e6"),
            F.expr("CAST(MAX(CASE WHEN rn = CEIL(0.99 * n) THEN v END) AS BIGINT)").alias("p99_e6"),
            F.max("n").cast("bigint").alias("n"),
        )
        .selectExpr("CAST(dim AS BIGINT) AS dim", "p01_e6", "p99_e6", "n")
        .orderBy("dim")
    )


@query(
    "quantile_norm_map",
    oracle="""
    WITH pooled AS (
      SELECT n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM documents
    ),
    pq AS (
      SELECT q, MAX(CASE WHEN rn = CEIL(q * n / 10.0) THEN n_chars END)
               AS pooled_val
      FROM pooled, (SELECT UNNEST(range(1, 10)) AS q) qs
      GROUP BY q
    ),
    per_src AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS ns
      FROM documents
    ),
    sq AS (
      SELECT source, q,
             MAX(CASE WHEN rn = CEIL(q * ns / 10.0) THEN n_chars END)
               AS source_val
      FROM per_src, (SELECT UNNEST(range(1, 10)) AS q) qs
      GROUP BY source, q
    )
    SELECT s.source, CAST(s.q AS BIGINT) AS decile,
           CAST(s.source_val AS BIGINT) AS source_val,
           CAST(p.pooled_val AS BIGINT) AS pooled_val,
           CAST(s.source_val - p.pooled_val AS BIGINT) AS shift
    FROM sq s JOIN pq p ON p.q = s.q
    ORDER BY s.source, decile
    """,
)
def quantile_norm_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization map: each source's decile order
    statistics of document length against the pooled corpus deciles
    (exact rank-ceil(q*n/10) elections, ties by doc_id) — the lookup
    table that maps a source's distribution onto the corpus
    distribution (the bioinformatics quantile-normalization recipe
    applied to corpus mixing), and the per-decile SHIFT column is the
    skew diagnosis: a source whose q9 sits far above pooled q9 is the
    long-document outlier that dominates token budgets.

    Scale shape: the per-source ranks run under source-keyed windows;
    the pooled rank avoids the global sort via the two-phase bucketed
    prefix sum (two_phase_rank on the n_chars value-domain bucket).
    Both sides collapse to 9 rows (pooled) / 9*|sources| rows before
    the join."""
    from instructions_mr_spark.queries._util import two_phase_rank

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    qs = spark.range(1, 10).select(F.col("id").cast("int").alias("q"))
    pooled = two_phase_rank(
        d,
        bucket=(F.col("n_chars") / F.lit(64)).cast("bigint"),
        order_cols=[F.col("n_chars"), F.col("doc_id")],
        rn_name="rn",
        n_name="n",
    )
    pq = (
        pooled.crossJoin(F.broadcast(qs))
        .filter(F.expr("rn = CEIL(q * n / 10.0)"))
        .groupBy("q")
        .agg(F.max("n_chars").alias("pooled_val"))
    )
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    per_src = d.select(
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(
            wn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("ns"),
    )
    sq = (
        per_src.crossJoin(F.broadcast(qs))
        .filter(F.expr("rn = CEIL(q * ns / 10.0)"))
        .groupBy("source", "q")
        .agg(F.max("n_chars").alias("source_val"))
    )
    return (
        sq.join(F.broadcast(pq), "q")
        .selectExpr(
            "source",
            "CAST(q AS BIGINT) AS decile",
            "CAST(source_val AS BIGINT) AS source_val",
            "CAST(pooled_val AS BIGINT) AS pooled_val",
            "CAST(source_val - pooled_val AS BIGINT) AS shift",
        )
        .orderBy("source", "decile")
    )


# Welch t: both engines derive the float t/df from the SAME BIGINT
# sufficient statistics with the SAME expression text, so the double
# arithmetic is bit-identical (the house *_terms float rule).
_WELCH_MA = "CAST(sum_a AS DOUBLE) / n_a"
_WELCH_MB = "CAST(sum_b AS DOUBLE) / n_b"
_WELCH_VA = "(CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * sum_a / n_a) / (n_a - 1)"
_WELCH_VB = "(CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * sum_b / n_b) / (n_b - 1)"
_WELCH_SE2 = f"({_WELCH_VA} / n_a + {_WELCH_VB} / n_b)"
_WELCH_T = round_half(f'({_WELCH_MA} - {_WELCH_MB}) / SQRT({_WELCH_SE2})', 6)
_WELCH_DF = round_half(f"{_WELCH_SE2} * {_WELCH_SE2} / "
                       f"(({_WELCH_VA} / n_a) * ({_WELCH_VA} / n_a) / (n_a - 1) + "
                       f"({_WELCH_VB} / n_b) * ({_WELCH_VB} / n_b) / (n_b - 1))", 6)


@query(
    "welch_ttest_terms",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             CASE WHEN ({duck_epoch('ts', 'day')} + 4)
                       % 7 IN (6, 0) THEN 1 ELSE 0 END AS sat_sun,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(SUM(sat_sun) AS BIGINT) AS n_a,
             CAST(SUM(1 - sat_sun) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN sat_sun = 1 THEN cents ELSE 0 END) AS BIGINT) AS sum_a,
             CAST(SUM(CASE WHEN sat_sun = 0 THEN cents ELSE 0 END) AS BIGINT) AS sum_b,
             CAST(SUM(CASE WHEN sat_sun = 1 THEN cents * cents ELSE 0 END) AS BIGINT) AS ss_a,
             CAST(SUM(CASE WHEN sat_sun = 0 THEN cents * cents ELSE 0 END) AS BIGINT) AS ss_b
      FROM d GROUP BY event_type
    )
    SELECT event_type, n_a, n_b, sum_a, sum_b, ss_a, ss_b,
           {_WELCH_T} AS t_welch, {_WELCH_DF} AS df_welch
    FROM g WHERE n_a > 1 AND n_b > 1
    ORDER BY event_type
    """,
)
def welch_ttest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event type: Saturday+Sunday
    event values (cents-exact) against weekday values — the A/B
    readout that does NOT assume the two arms share a variance (unlike
    the pooled-s Cohen's d sibling).  BIGINT sufficient statistics
    cross the engines; t and the Welch–Satterthwaite df are derived
    from them by one shared expression, so the doubles are
    bit-identical.  Envelope: cents <= ~6e4 so cents^2 <= ~3.2e9 and
    BIGINT ss holds past 2e9 rows per (type, arm).

    Weekend here is the calendar Saturday/Sunday ((epoch_day+4)%7 in
    {{6,0}}, 1970-01-01 being a Thursday) — deliberately NOT Spark's
    locale-flavored dayofweek(), which disagrees with DuckDB's.

    Scale shape: one map-side-combinable conditional aggregate keyed
    by event_type (5 groups); the t/df arithmetic runs on the 5-row
    result.  No window, no join."""
    dow = (F.expr(spark_epoch("ts", "day")) + 4) % 7
    d = t(spark, sf_dir, "events").select(
        "event_type",
        F.when(dow.isin(6, 0), 1).otherwise(0).alias("sat_sun"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    g = (
        d.groupBy("event_type")
        .agg(
            F.sum("sat_sun").cast("bigint").alias("n_a"),
            F.sum(F.lit(1) - F.col("sat_sun")).cast("bigint").alias("n_b"),
            F.sum(F.when(F.col("sat_sun") == 1, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("sum_a"),
            F.sum(F.when(F.col("sat_sun") == 0, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("sum_b"),
            F.sum(
                F.when(F.col("sat_sun") == 1, F.col("cents") * F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("ss_a"),
            F.sum(
                F.when(F.col("sat_sun") == 0, F.col("cents") * F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("ss_b"),
        )
        .filter("n_a > 1 AND n_b > 1")
    )
    return g.selectExpr(
        "event_type",
        "n_a",
        "n_b",
        "sum_a",
        "sum_b",
        "ss_a",
        "ss_b",
        f"{_WELCH_T} AS t_welch",
        f"{_WELCH_DF} AS df_welch",
    ).orderBy("event_type")


# Exact-integer chi-square cell contribution (the chi2_lang_source
# idiom): (O*N - R*C)^2 * 1e6 // (N*R*C), numerator widened to
# 128-bit (HUGEINT / DECIMAL(38,0)).  Integer, so the per-group SUM
# is order-independent — no float ever crosses the engines.
def _duck_contrib_e6(o: str, r: str, c: str, n: str) -> str:
    return (
        f"(({o}) * ({n}) - ({r}) * ({c}))"
        f" * CAST(({o}) * ({n}) - ({r}) * ({c}) AS HUGEINT)"
        f" * 1000000 // (CAST(({n}) AS HUGEINT) * ({r}) * ({c}))"
    )


def _spark_contrib_e6(o: str, r: str, c: str, n: str) -> str:
    return (
        f"CAST(({o}) * ({n}) - ({r}) * ({c}) AS DECIMAL(38,0))"
        f" * (({o}) * ({n}) - ({r}) * ({c}))"
        f" * 1000000 DIV (CAST(({n}) AS DECIMAL(38,0)) * ({r}) * ({c}))"
    )


# df=4 chi-square survival is CLOSED FORM: P(X > x) = e^(-x/2)(1+x/2)
# — an exact p-value, derived from the exact integer chi2_e6 by one
# shared expression (bit-identical doubles on both engines).
_BH_P = "EXP(-chi2_e6 / 2e6) * (1 + chi2_e6 / 2e6)"


@query(
    "benjamini_hochberg_fdr",
    oracle=f"""
    WITH tok AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    n AS (SELECT COUNT(*) AS nn FROM tok),
    lm AS (SELECT lang, COUNT(*) AS ln FROM tok GROUP BY 1),
    tc AS (SELECT w, lang, COUNT(*) AS o FROM tok GROUP BY 1, 2),
    tn AS (SELECT w, SUM(o) AS nt FROM tc GROUP BY 1 HAVING SUM(o) >= 100),
    grid AS (
      SELECT tn.w, tn.nt, lm.lang, lm.ln, COALESCE(tc.o, 0) AS o, n.nn
      FROM tn CROSS JOIN lm
      LEFT JOIN tc ON tc.w = tn.w AND tc.lang = lm.lang, n
    ),
    chi AS (
      SELECT w, MAX(nt) AS n_t,
             CAST(SUM({_duck_contrib_e6("o", "nt", "ln", "nn")}
                    + {_duck_contrib_e6("ln - o", "nn - nt", "ln", "nn")})
                  AS BIGINT) AS chi2_e6
      FROM grid GROUP BY w
    ),
    ranked AS (
      SELECT w, n_t, chi2_e6, {_BH_P} AS p,
             ROW_NUMBER() OVER (ORDER BY chi2_e6 DESC, w) AS rn,
             COUNT(*) OVER () AS m
      FROM chi
    )
    SELECT w AS term, CAST(n_t AS BIGINT) AS n_t, chi2_e6,
           {round_half('p', 9)} AS p_value, CAST(rn AS BIGINT) AS rn,
           CASE WHEN rn <= COALESCE(
                  MAX(CASE WHEN p <= 0.05 * rn / m THEN rn END) OVER (), 0)
                THEN 1 ELSE 0 END AS kept
    FROM ranked
    ORDER BY rn
    """,
)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR selection over per-term language-skew
    tests: each vocabulary term with >= 100 occurrences is tested for
    independence from language (the 2 x |langs| contingency table of
    'this term vs the rest of the corpus' against the 5 language
    marginals, df = 4), its EXACT p-value comes from the closed-form
    even-df survival e^(-x/2)(1+x/2), and the BH(0.05) step-up rule
    keeps every term ranked at or below the largest rank k with
    p_(k) <= 0.05*k/m — the multiple-testing-correct version of 'which
    words are language markers', the difference between one spurious
    hit per 20 tests and a controlled false-discovery rate.

    Cross-engine exactness: cell contributions use the widened
    integer (O*N-R*C)^2*1e6//(N*R*C) idiom (chi2_lang_source_terms),
    so chi2_e6 is an order-free BIGINT sum and p is one shared
    expression over it — the BH comparisons are bit-identical.  Exact
    through ~1e8 docs (the documented DECIMAL(38) numerator bound).

    Scale shape: the corpus-sized work is one (term, lang) count
    aggregate (map-side combinable); everything after runs on the
    vocabulary-sized (Zipf-bounded) term table, where the ranking
    window is allowlisted as bounded."""
    tok = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    )
    tc = tok.groupBy("w", "lang").agg(F.count(F.lit(1)).alias("o"))
    tc = supersede_checkpoint("bh_term_lang", tc)
    lm = tc.groupBy("lang").agg(F.sum("o").alias("ln"))
    n = tc.agg(F.sum("o").alias("nn"))
    tn = tc.groupBy("w").agg(F.sum("o").alias("nt")).filter("nt >= 100")
    grid = (
        tn.crossJoin(F.broadcast(lm))
        .join(tc, ["w", "lang"], "left")
        .crossJoin(F.broadcast(n))
        .selectExpr("w", "nt", "ln", "COALESCE(o, 0) AS o", "nn")
    )
    chi = grid.groupBy("w").agg(
        F.max("nt").alias("n_t"),
        F.expr(
            f"CAST(SUM({_spark_contrib_e6('o', 'nt', 'ln', 'nn')}"
            f" + {_spark_contrib_e6('ln - o', 'nn - nt', 'ln', 'nn')})"
            " AS BIGINT)"
        ).alias("chi2_e6"),
    )
    w_rank = Window.orderBy(F.col("chi2_e6").desc(), "w")
    w_all = Window.partitionBy()
    ranked = chi.select(
        "w",
        "n_t",
        "chi2_e6",
        F.expr(_BH_P).alias("p"),
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1))
        .over(w_all.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("m"),
    )
    thr = F.max(
        F.when(F.col("p") <= 0.05 * F.col("rn") / F.col("m"), F.col("rn"))
    ).over(w_all.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (
        ranked.select(
            F.col("w").alias("term"),
            F.col("n_t").cast("bigint").alias("n_t"),
            "chi2_e6",
            round_half(F.col("p"), 9).alias("p_value"),
            F.col("rn").cast("bigint").alias("rn"),
            F.when(F.col("rn") <= F.coalesce(thr, F.lit(0)), 1)
            .otherwise(0)
            .alias("kept"),
        )
        .orderBy("rn")
    )


# NULL (not an error) when a pair is degenerate: min(r,c)=1 has no
# association to normalize (and Spark's ANSI mode would throw on /0)
_CRAMERS_V = round_half("SQRT(CAST(chi2_e6 AS DOUBLE) / 1e6"
                        " / (n * NULLIF(LEAST(r_levels, c_levels) - 1, 0)))", 6)


def _duck_cramers_pair(pair: str, table: str, a: str, b: str) -> str:
    # the FULL r x c grid (margin cross join, zero-fill unobserved
    # cells): chi-square gets its expected-count contribution from
    # EVERY cell, or a perfect bijection would read as V<1
    return f"""
    SELECT '{pair}' AS pair, n_rows AS n, r_levels, c_levels, chi2_e6,
           {_CRAMERS_V} AS cramers_v
    FROM (
      SELECT MAX(nn) AS n_rows,
             COUNT(DISTINCT ra) AS r_levels,
             COUNT(DISTINCT cb) AS c_levels,
             CAST(SUM({_duck_contrib_e6("o", "rn", "cn", "nn")}) AS BIGINT)
               AS chi2_e6
      FROM (
        SELECT r.ra, c.cb, COALESCE(o.o, 0) AS o, r.rn, c.cn, n.nn
        FROM (SELECT {a} AS ra, COUNT(*) AS rn FROM {table} GROUP BY 1) r
        CROSS JOIN (SELECT {b} AS cb, COUNT(*) AS cn FROM {table} GROUP BY 1) c
        LEFT JOIN (SELECT {a} AS ra, {b} AS cb, COUNT(*) AS o
                   FROM {table} GROUP BY 1, 2) o
          ON o.ra = r.ra AND o.cb = c.cb,
        (SELECT COUNT(*) AS nn FROM {table}) n
      )
    )
    """


@query(
    "cramers_v_matrix",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             ({duck_epoch('ts', 'day')} + 4) % 7 AS dow
      FROM events
    )
    {_duck_cramers_pair("doc_lang_x_source", "documents", "lang", "source")}
    UNION ALL
    {_duck_cramers_pair("event_type_x_dow", "ev", "event_type", "dow")}
    UNION ALL
    {_duck_cramers_pair(
        "order_priority_x_status", "orders", "o_orderpriority", "o_orderstatus"
    )}
    ORDER BY pair
    """,
)
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix across three categorical pairs —
    (lang x source) on documents, (event_type x day-of-week) on
    events, (priority x status) on orders: the normalized-to-[0,1]
    effect size that lets an analyst compare association STRENGTH
    across tables where raw chi-square only scales with n.  Cell
    contributions use the widened exact-integer idiom
    (chi2_lang_source_terms), so chi2_e6 is an order-free BIGINT sum
    and V is one shared expression over exact terms.

    Scale shape: per pair, one map-side-combinable cell count over
    bounded category domains (5x20 / 5x7 / 5x3 cells); margins derive
    from the cell table (never a re-scan) and broadcast back.  Three
    one-row results union — no window, no corpus join."""

    def pair(pair_name: str, df: DataFrame, a: str, b: str) -> DataFrame:
        o = (
            df.selectExpr(f"{a} AS ra", f"{b} AS cb")
            .groupBy("ra", "cb")
            .agg(F.count(F.lit(1)).alias("o"))
            
        )
        o = supersede_checkpoint(f"cramers_{pair_name}", o)
        r = o.groupBy("ra").agg(F.sum("o").alias("rn"))
        c = o.groupBy("cb").agg(F.sum("o").alias("cn"))
        n = o.agg(F.sum("o").alias("nn"))
        # full r x c grid with zero-filled unobserved cells (see the
        # oracle note): every cell contributes its expectation term
        return (
            r.crossJoin(F.broadcast(c))
            .join(o, ["ra", "cb"], "left")
            .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
            .crossJoin(F.broadcast(n))
            .agg(
                F.max("nn").alias("n_rows"),
                F.countDistinct("ra").alias("r_levels"),
                F.countDistinct("cb").alias("c_levels"),
                F.expr(
                    f"CAST(SUM({_spark_contrib_e6('o', 'rn', 'cn', 'nn')})"
                    " AS BIGINT)"
                ).alias("chi2_e6"),
            )
            .selectExpr(
                f"'{pair_name}' AS pair",
                "n_rows AS n",
                "r_levels",
                "c_levels",
                "chi2_e6",
                f"{_CRAMERS_V} AS cramers_v",
            )
        )

    ev = t(spark, sf_dir, "events").select(
        "event_type", ((F.expr(spark_epoch("ts", "day")) + 4) % 7).alias("dow"),
    )
    out = (
        pair("doc_lang_x_source", t(spark, sf_dir, "documents"), "lang", "source")
        .unionAll(pair("event_type_x_dow", ev, "event_type", "dow"))
        .unionAll(
            pair(
                "order_priority_x_status",
                t(spark, sf_dir, "orders"),
                "o_orderpriority",
                "o_orderstatus",
            )
        )
    )
    return out.orderBy("pair")


# Embedding floats cross the engines ONLY as e8-quantized BIGINTs
# (the embedding_dim_stats idiom); every sum below is integer-exact
# and the final ratios are one shared expression over exact terms.
_ISO_MEAN_NORM2 = "CAST(ss_all AS DOUBLE) / 1e16 / n"
_ISO_NORM2_OF_MEAN = "CAST(s2 AS DOUBLE) / 1e16 / n / n"
_ISO_RATIO = round_half(f'({_ISO_NORM2_OF_MEAN}) / ({_ISO_MEAN_NORM2})', 9)


@query(
    "embedding_isotropy_terms",
    oracle=f"""
    WITH dims AS (
      SELECT label, u.i - 1 AS dim,
             CAST({round_half('CAST(embedding[u.i] AS DOUBLE) * 100000000', 0)} AS BIGINT)
               AS xi
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
    ),
    per_dim AS (
      SELECT label, dim, SUM(xi) AS s,
             SUM(CAST(xi AS HUGEINT) * xi) AS ss
      FROM dims GROUP BY label, dim
    ),
    per_label AS (
      SELECT label,
             SUM(CAST(s AS HUGEINT) * s) AS s2,
             SUM(ss) AS ss_all
      FROM per_dim GROUP BY label
    ),
    n_tab AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)
    SELECT l.label, CAST(n.n AS BIGINT) AS n,
           {round_half(_ISO_MEAN_NORM2, 9)} AS mean_norm2,
           {round_half(_ISO_NORM2_OF_MEAN, 9)} AS norm2_of_mean,
           {_ISO_RATIO} AS isotropy_defect
    FROM (SELECT label, {dec_double('s2')} AS s2,
                 {dec_double('ss_all')} AS ss_all FROM per_label) l
    JOIN n_tab n USING (label)
    ORDER BY l.label
    """,
)
def embedding_isotropy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding isotropy diagnosis: mean squared norm
    E||v||^2, squared norm of the mean ||E v||^2, and their ratio —
    the 'common-direction defect' that predicts when cosine
    similarity degenerates (an isotropic cloud has ratio ~1/n; a
    cloud riding a shared bias direction has ratio near 1, and
    SemDeDup-style cosine blocking starts bucketing everything
    together).  The standard fix this measures the need for is
    mean-centering before ANN (all-but-the-top).

    Cross-engine exactness: e8-quantized BIGINT coordinates, 128-bit
    widened integer sums (per-dim s, ss), floats derived at the end
    by one shared expression.

    Scale shape: one (label, dim) aggregate over the exploded
    coordinates (map-side combinable, |labels| x 64 cells), collapsed
    to |labels| rows — no window, no join-back to the corpus."""
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.expr(f"CAST({round_half('CAST(x AS DOUBLE) * 100000000', 0)} AS BIGINT)").alias("xi"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum("xi").alias("s"),
        F.sum(F.expr("CAST(xi AS DECIMAL(38,0)) * xi")).alias("ss"),
    )
    per_label = per_dim.groupBy("label").agg(
        F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * s")).alias("s2"),
        F.sum("ss").alias("ss_all"),
    )
    n_tab = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_label.selectExpr(
            "label",
            f"{dec_double('s2')} AS s2",
            f"{dec_double('ss_all')} AS ss_all",
        )
        .join(F.broadcast(n_tab), "label")
        .selectExpr(
            "label",
            "CAST(n AS BIGINT) AS n",
            f"{round_half(_ISO_MEAN_NORM2, 9)} AS mean_norm2",
            f"{round_half(_ISO_NORM2_OF_MEAN, 9)} AS norm2_of_mean",
            f"{_ISO_RATIO} AS isotropy_defect",
        )
        .orderBy("label")
    )


@query(
    "embedding_mahalanobis_outliers",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, label, u.i - 1 AS dim,
             CAST({round_half('CAST(embedding[u.i] AS DOUBLE) * 100000000', 0)} AS BIGINT)
               AS xi
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
    ),
    g AS (
      SELECT dim, COUNT(*) AS n, SUM(xi) AS s,
             SUM(CAST(xi AS HUGEINT) * xi) AS ss
      FROM dims GROUP BY dim
    ),
    cells AS (
      SELECT d.vec_id, d.label,
             (d.xi * g.n - g.s) * CAST(d.xi * g.n - g.s AS HUGEINT) * 1000000
               // NULLIF(g.n * g.ss - CAST(g.s AS HUGEINT) * g.s, 0) AS z2_e6
      FROM dims d JOIN g USING (dim)
    )
    SELECT vec_id, label, CAST(SUM(z2_e6) AS BIGINT) AS maha2_e6
    FROM cells GROUP BY vec_id, label
    ORDER BY maha2_e6 DESC, vec_id
    LIMIT 20
    """,
)
def embedding_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by diagonal Mahalanobis distance:
    each coordinate standardized against its global dim mean/variance
    and the squared z summed over dims — the cheap whitened-distance
    screen that catches corrupted vectors (NaN-fills, scale bugs,
    wrong-model rows) BEFORE they poison ANN centroids or dedup
    thresholds.  Diagonal covariance by design: the full-matrix
    Mahalanobis needs an inverse no SQL engine should do.

    Cross-engine exactness: per-cell z^2 uses the widened
    exact-integer form (xi*N - S)^2 * 1e6 // (N*SS - S^2) — the
    chi2-contrib idiom against moment terms — so the per-vector sum
    is an order-free BIGINT; constant dims (variance 0) contribute
    NULL and drop out rather than dividing by zero.

    Scale shape: one 64-row dim-moments aggregate broadcast back
    onto the exploded coordinates, one vec-keyed sum, then a global
    top-20 (TakeOrdered — never a full sort)."""
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.expr(f"CAST({round_half('CAST(x AS DOUBLE) * 100000000', 0)} AS BIGINT)").alias("xi"),
    )
    g = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("s"),
        F.sum(F.expr("CAST(xi AS DECIMAL(38,0)) * xi")).alias("ss"),
    )
    cells = dims.join(F.broadcast(g), "dim").selectExpr(
        "vec_id",
        "label",
        "CAST(xi * n - s AS DECIMAL(38,0)) * (xi * n - s) * 1000000"
        " DIV NULLIF(n * ss - CAST(s AS DECIMAL(38,0)) * s, 0) AS z2_e6",
    )
    return (
        cells.groupBy("vec_id", "label")
        .agg(F.sum("z2_e6").cast("bigint").alias("maha2_e6"))
        .orderBy(F.col("maha2_e6").desc(), "vec_id")
        .limit(20)
    )


# Variance ratio from exact terms: block-level integer sums; the
# float VR derives from (n, s, ss) of the k-blocks against the k=1
# row by one shared expression.
_VR = round_half("(ss_b / n_b - (CAST(s_b AS DOUBLE) / n_b) * (CAST(s_b AS DOUBLE) / n_b))"
                 " / (k * (ss1 / n1 - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1)))", 6)


@query(
    "variance_ratio_terms",
    oracle=f"""
    WITH daily AS (
      SELECT {duck_epoch('l_shipdate', 'day')} AS day,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(8,4)))) * 100)
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) - MIN(day) + 1 AS nd FROM daily),
    idx AS (SELECT UNNEST(range(0, 20000)) AS i),
    spine AS (
      SELECT b.d0 + i.i AS day, b.d0, b.nd
      FROM bounds b JOIN idx i ON i.i < b.nd
    ),
    filled AS (
      SELECT s.day, s.d0, s.nd, COALESCE(d.cents, 0) AS cents
      FROM spine s LEFT JOIN daily d ON d.day = s.day
    ),
    ks AS (SELECT UNNEST([1, 2, 4, 8]) AS k),
    blocks AS (
      SELECT ks.k, (f.day - f.d0) // ks.k AS blk, f.cents
      FROM filled f CROSS JOIN ks
      WHERE (f.day - f.d0) // ks.k < f.nd // ks.k
    ),
    bsums AS (SELECT k, blk, SUM(cents) AS bc FROM blocks GROUP BY 1, 2),
    terms AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(bc) AS BIGINT) AS s_b,
             {dec_double('SUM(CAST(bc AS HUGEINT) * bc)')} AS ss_b
      FROM bsums GROUP BY k
    ),
    base AS (SELECT n_b AS n1, s_b AS s1, ss_b AS ss1 FROM terms WHERE k = 1)
    SELECT k, n_b AS n_blocks, s_b AS sum_cents, ss_b AS ss,
           {_VR} AS vr
    FROM terms, base
    ORDER BY k
    """,
)
def variance_ratio_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio terms on the daily revenue series:
    Var(k-day block sums) / (k * Var(daily)) at k = 1, 2, 4, 8 over
    the zero-filled calendar spine (complete blocks only) — VR ~ 1
    for a random walk, < 1 mean-reverting, > 1 trending; the standard
    'is this series momentum or noise' screen, here over exact cents.

    Cross-engine exactness: block sums are integer cents; ss is
    128-bit-widened and exposed as DOUBLE; VR derives from (n, s, ss)
    by one shared expression against the k=1 row.  The spine index is
    capped at 20,000 days (~54 years — any order-date span fits; a
    longer span truncates loudly to an empty spine tail, never
    silently wrong blocks).

    Scale shape: one day-keyed aggregate (calendar-bounded) is the
    only corpus exchange; the spine, block roll-ups and the 4-row
    ratio all run on day-grid-sized tables.  No window."""
    daily = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.expr(spark_epoch("l_shipdate", "day")).alias("day"),
            F.expr(
                "CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))"
            ).alias("r"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(FLOOR(SUM(r) * 100) AS BIGINT)").alias("cents"))
    )
    daily = supersede_checkpoint("vr_daily", daily)
    bounds = daily.agg(
        F.min("day").alias("d0"), (F.max("day") - F.min("day") + 1).alias("nd")
    )
    spine = (
        bounds.select(
            F.explode(F.expr("sequence(0, LEAST(nd, 20000) - 1)")).alias("i"),
            "d0",
            "nd",
        )
        .select((F.col("d0") + F.col("i")).alias("day"), "d0", "nd")
        .join(daily, "day", "left")
        .select(
            "day", "d0", "nd", F.coalesce(F.col("cents"), F.lit(0)).alias("cents")
        )
    )
    ks = literal_df(spark, [(1,), (2,), (4,), (8,)], "k int")
    blocks = (
        spine.crossJoin(F.broadcast(ks))
        .filter(
            F.floor((F.col("day") - F.col("d0")) / F.col("k"))
            < F.floor(F.col("nd") / F.col("k"))
        )
        .select(
            "k",
            F.floor((F.col("day") - F.col("d0")) / F.col("k")).alias("blk"),
            "cents",
        )
    )
    terms = (
        blocks.groupBy("k", "blk")
        .agg(F.sum("cents").alias("bc"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("bc").cast("bigint").alias("s_b"),
            F.expr(dec_double("SUM(CAST(bc AS DECIMAL(38,0)) * bc)")).alias("ss_b"),
        )
    )
    base = terms.filter("k = 1").selectExpr(
        "n_b AS n1", "s_b AS s1", "ss_b AS ss1"
    )
    return (
        terms.crossJoin(F.broadcast(base))
        .selectExpr(
            "k",
            "n_b AS n_blocks",
            "s_b AS sum_cents",
            "ss_b AS ss",
            f"{_VR} AS vr",
        )
        .orderBy("k")
    )


_BURST_MEAN = "CAST(sum_gap AS DOUBLE) / n_gaps"
_BURST_VAR = (
    "(ss_gap / n_gaps - (CAST(sum_gap AS DOUBLE) / n_gaps)"
    " * (CAST(sum_gap AS DOUBLE) / n_gaps))"
)
_BURST_CV = f"SQRT({_BURST_VAR}) / ({_BURST_MEAN})"


@query(
    "interarrival_burstiness_terms",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type,
             {duck_epoch('ts', 's')} AS sec,
             event_id
      FROM events
    ),
    gaps AS (
      SELECT event_type,
             sec - LAG(sec) OVER (PARTITION BY user_id, event_type
                                  ORDER BY sec, event_id) AS gap
      FROM e
    ),
    terms AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS sum_gap,
             {dec_double('SUM(CAST(gap AS HUGEINT) * gap)')} AS ss_gap
      FROM gaps WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n_gaps, sum_gap, ss_gap,
           {round_half(_BURST_CV, 6)} AS cv,
           {round_half(f'({_BURST_CV} - 1) / ({_BURST_CV} + 1)', 6)} AS burstiness
    FROM terms
    ORDER BY event_type
    """,
)
def interarrival_burstiness_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness per event type from per-user
    interarrival gaps: B = (cv - 1)/(cv + 1) over the coefficient of
    variation of same-user consecutive-event gaps — B ~ -1 for a
    metronome, 0 for Poisson, -> 1 for heavy-tailed bursts.  The
    capacity-planning readout that tells a streaming-ingest sizing
    exercise whether mean rates lie (bursty types need peak-sized
    state stores, not mean-sized).

    Gaps are computed PER USER (user-keyed window — thousands of
    parallel partitions), never per type (5 corpus-sized partitions
    would serialize the sort at scale); the type roll-up is a
    map-side-combinable sum of BIGINT gap terms (ss 128-bit-widened,
    exposed as DOUBLE by dec_double); cv and B derive by one shared expression."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(spark_epoch("ts", "s")).alias("sec"), "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    gaps = e.select(
        "event_type", (F.col("sec") - F.lag("sec").over(w)).alias("gap")
    ).filter("gap IS NOT NULL")
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("gap").cast("bigint").alias("sum_gap"),
            F.expr(dec_double("SUM(CAST(gap AS DECIMAL(38,0)) * gap)")).alias("ss_gap"),
        )
        .selectExpr(
            "event_type",
            "n_gaps",
            "sum_gap",
            "ss_gap",
            f"{round_half(_BURST_CV, 6)} AS cv",
            f"{round_half(f'({_BURST_CV} - 1) / ({_BURST_CV} + 1)', 6)} AS burstiness",
        )
        .orderBy("event_type")
    )


@query(
    "approx_quantile_drift_audit",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM v
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN 100 * cum_c >= 50 * n THEN cents END) AS BIGINT)
             AS p50_cents,
           CAST(MIN(CASE WHEN 100 * cum_c >= 95 * n THEN cents END) AS BIGINT)
             AS p95_cents,
           CAST(1 AS BIGINT) AS p50_within_2pct,
           CAST(1 AS BIGINT) AS p95_within_2pct
    FROM cum GROUP BY event_type
    ORDER BY event_type
    """,
)
def approx_quantile_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit behind every 'switch to approx_percentile at 100 TB'
    note in this package, made mechanical: per event type, the EXACT
    discrete p50/p95 (value-domain two-phase — no per-group sort) next
    to Spark's t-digest ``approx_percentile`` at accuracy 10000, and a
    within-2%-relative flag per quantile.  The oracle re-computes the
    exact side and asserts the flags are 1 — so if the sketch ever
    drifts past the advertised envelope on this data shape, the
    DuckDB gate goes red rather than a production migration finding
    out.  (The approx values themselves stay out of the compared
    columns: a t-digest is not reproducible in another engine.)

    Scale shape: the exact side shuffles (group, value, count); the
    approx side is a map-side-mergeable sketch per group — the two
    costs this audit lets you trade."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    v = (
        e.selectExpr(
            "event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents"
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy("event_type")
    cum = v.select(
        "event_type",
        "cents",
        F.sum("c").over(wc).alias("cum_c"),
        F.sum("c")
        .over(wn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n"),
    )
    exact = cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(MIN(CASE WHEN 100 * cum_c >= 50 * n THEN cents END) AS BIGINT)"
        ).alias("p50_cents"),
        F.expr(
            "CAST(MIN(CASE WHEN 100 * cum_c >= 95 * n THEN cents END) AS BIGINT)"
        ).alias("p95_cents"),
    )
    approx = (
        e.selectExpr(
            "event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents"
        )
        .groupBy("event_type")
        .agg(
            F.expr("approx_percentile(cents, 0.50, 10000)").alias("a50"),
            F.expr("approx_percentile(cents, 0.95, 10000)").alias("a95"),
        )
    )
    return (
        exact.join(approx, "event_type")
        .selectExpr(
            "event_type",
            "n",
            "p50_cents",
            "p95_cents",
            "CAST(CASE WHEN ABS(a50 - p50_cents) * 50 <= p50_cents"
            " THEN 1 ELSE 0 END AS BIGINT) AS p50_within_2pct",
            "CAST(CASE WHEN ABS(a95 - p95_cents) * 50 <= p95_cents"
            " THEN 1 ELSE 0 END AS BIGINT) AS p95_within_2pct",
        )
        .orderBy("event_type")
    )


@query(
    "hll_intersection_audit",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM (SELECT DISTINCT source FROM tok) a
      JOIN (SELECT DISTINCT source FROM tok) b ON a.source < b.source
    ),
    inter AS (
      SELECT p.src_a, p.src_b, COUNT(*) AS exact_inter
      FROM pairs p
      JOIN tok ta ON ta.source = p.src_a
      JOIN tok tb ON tb.source = p.src_b AND tb.w = ta.w
      GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b,
           CAST(COALESCE(i.exact_inter, 0) AS BIGINT) AS exact_inter,
           CAST(1 AS BIGINT) AS hll_within_15pct
    FROM pairs p LEFT JOIN inter i
      ON i.src_a = p.src_a AND i.src_b = p.src_b
    ORDER BY p.src_a, p.src_b
    """,
)
def hll_intersection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog intersection by inclusion-exclusion, audited
    against the exact answer: |A ∩ B| ~ hll(A) + hll(B) - hll(A ∪ B)
    over per-source vocabularies — the sketch-only estimate every
    overlap dashboard wants (three mergeable sketches instead of a
    pairwise join), next to the exact intersection and a
    within-15%-relative flag the oracle asserts.  I-E error compounds
    (three estimates, each ±2% standard error at this precision), so
    the audited envelope is deliberately wider than a single HLL's —
    when the flag goes red, the estimate is no longer usable for that
    pair and the exact join is the fallback.  The approx values stay
    out of the compared columns (sketches aren't cross-engine
    reproducible).

    Scale shape: the exact side is one (source, term) distinct + a
    vocab-keyed pair join; the sketch side is three
    map-side-mergeable approx_count_distinct aggregates per pair —
    the trade this audit prices."""
    tok = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    tok = supersede_checkpoint("hll_ie_tok", tok)
    srcs = tok.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .crossJoin(srcs.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    ta = tok.select(F.col("source").alias("src_a"), "w")
    tb = tok.select(F.col("source").alias("src_b"), "w")
    inter = (
        pairs.join(ta, "src_a")
        .join(tb, ["src_b", "w"])
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    per_src = tok.groupBy("source").agg(
        F.expr("approx_count_distinct(w, 0.02)").alias("h")
    )
    uni = (
        pairs.join(ta, "src_a")
        .select("src_a", "src_b", "w")
        .unionAll(pairs.join(tb, "src_b").select("src_a", "src_b", "w"))
        .groupBy("src_a", "src_b")
        .agg(F.expr("approx_count_distinct(w, 0.02)").alias("h_union"))
    )
    ha = per_src.select(F.col("source").alias("src_a"), F.col("h").alias("h_a"))
    hb = per_src.select(F.col("source").alias("src_b"), F.col("h").alias("h_b"))
    return (
        pairs.join(inter, ["src_a", "src_b"], "left")
        .join(F.broadcast(ha), "src_a")
        .join(F.broadcast(hb), "src_b")
        .join(uni, ["src_a", "src_b"])
        .selectExpr(
            "src_a",
            "src_b",
            "CAST(COALESCE(exact_inter, 0) AS BIGINT) AS exact_inter",
            "CAST(CASE WHEN ABS((h_a + h_b - h_union)"
            " - COALESCE(exact_inter, 0)) * 100"
            " <= 15 * GREATEST(COALESCE(exact_inter, 0), 1)"
            " THEN 1 ELSE 0 END AS BIGINT) AS hll_within_15pct",
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "median_ci_orderstat",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    ranks AS (
      SELECT event_type, cents, cum_c, n,
             CAST(FLOOR(n / 2.0 - 0.98 * SQRT(n)) AS BIGINT) AS r_lo,
             CAST(CEIL(1 + n / 2.0 + 0.98 * SQRT(n)) AS BIGINT) AS r_hi,
             CAST(CEIL(n / 2.0) AS BIGINT) AS r_med
      FROM cum
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum_c >= r_med THEN cents END) AS BIGINT)
             AS median_cents,
           CAST(MIN(CASE WHEN cum_c >= GREATEST(r_lo, 1) THEN cents END)
                AS BIGINT) AS ci_lo_cents,
           CAST(MIN(CASE WHEN cum_c >= LEAST(r_hi, n) THEN cents END)
                AS BIGINT) AS ci_hi_cents
    FROM ranks GROUP BY event_type
    ORDER BY event_type
    """,
)
def median_ci_orderstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median via
    binomial order statistics: the interval [x_(n/2 - z/2*sqrt(n)),
    x_(n/2 + z/2*sqrt(n))] (z = 1.96, so 0.98*sqrt(n) on each side)
    covers the true median with ~95% probability for ANY value
    distribution — no normality assumption, no bootstrap resampling;
    the robust uncertainty bar a metrics dashboard should draw around
    a median.  Rank arithmetic is exact integers; rank election runs
    on the value domain (the percentile_group_twophase shape — no
    per-group row sort).

    Scale shape: one (type, value) count exchange; cumulative reads
    over distinct values; 5 result rows."""
    from pyspark.sql import Window

    v = (
        t(spark, sf_dir, "events")
        .selectExpr(
            "event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents"
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy("event_type")
    cum = v.select(
        "event_type",
        "cents",
        F.sum("c").over(wc).alias("cum_c"),
        F.sum("c")
        .over(wn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n"),
    )
    ranks = cum.selectExpr(
        "event_type",
        "cents",
        "cum_c",
        "n",
        "CAST(FLOOR(n / 2.0 - 0.98 * SQRT(n)) AS BIGINT) AS r_lo",
        "CAST(CEIL(1 + n / 2.0 + 0.98 * SQRT(n)) AS BIGINT) AS r_hi",
        "CAST(CEIL(n / 2.0) AS BIGINT) AS r_med",
    )
    return (
        ranks.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.expr(
                "CAST(MIN(CASE WHEN cum_c >= r_med THEN cents END) AS BIGINT)"
            ).alias("median_cents"),
            F.expr(
                "CAST(MIN(CASE WHEN cum_c >= GREATEST(r_lo, 1) THEN cents END)"
                " AS BIGINT)"
            ).alias("ci_lo_cents"),
            F.expr(
                "CAST(MIN(CASE WHEN cum_c >= LEAST(r_hi, n) THEN cents END)"
                " AS BIGINT)"
            ).alias("ci_hi_cents"),
        )
        .orderBy("event_type")
    )


_HILL_K = 100


@query(
    "hill_tail_index_terms",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
             o_orderkey
      FROM orders
    ),
    topk AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, o_orderkey) AS rn
      FROM cents QUALIFY rn <= {_HILL_K + 1}
    ),
    xk AS (SELECT c AS c_k FROM topk WHERE rn = {_HILL_K + 1}),
    lnsum AS (
      SELECT CAST(SUM(CAST({round_half('LN(CAST(t.c AS DOUBLE) / xk.c_k)', 10)}
                           AS DECIMAL(38,10))) AS DOUBLE) AS s,
             COUNT(*) AS k
      FROM topk t, xk WHERE t.rn <= {_HILL_K}
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST((SELECT c_k FROM xk) AS BIGINT) AS threshold_cents,
           {round_half('s / k', 9)} AS mean_log_excess,
           {round_half('k / s', 6)} AS hill_alpha
    FROM lnsum
    """,
)
def hill_tail_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index: alpha =
    k / sum(ln(x_(i) / x_(k+1))) over the top-k order statistics —
    alpha < 2 means infinite variance (means and A/B tests on this
    metric are unstable; use medians), alpha > 3 means a tame tail.
    The one-number answer to 'can I trust the mean of this revenue
    column'.  Log cells cross the engines as 10-digit round_half DECIMALs
    (the entropy-cell idiom) so the k-term sum is order-free; the
    top-(k+1) election is a TakeOrdered, never a full sort.

    Scale shape: one global top-101 (map-side partial top-k), then
    constant-size arithmetic."""
    from pyspark.sql import Window

    cents = t(spark, sf_dir, "orders").selectExpr(
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c", "o_orderkey"
    )
    topk = (
        cents.orderBy(F.col("c").desc(), "o_orderkey")
        .limit(_HILL_K + 1)
        .select("c", F.row_number().over(
            Window.orderBy(F.col("c").desc(), "o_orderkey")
        ).alias("rn"))
    )
    topk = supersede_checkpoint("hill_topk", topk)
    xk = topk.filter(f"rn = {_HILL_K + 1}").select(F.col("c").alias("c_k"))
    lnsum = (
        topk.filter(f"rn <= {_HILL_K}")
        .crossJoin(F.broadcast(xk))
        .agg(
            F.expr(
                f"CAST(SUM(CAST({round_half('LN(CAST(c AS DOUBLE) / c_k)', 10)}"
                " AS DECIMAL(38,10))) AS DOUBLE)"
            ).alias("s"),
            F.count(F.lit(1)).alias("k"),
            F.max("c_k").alias("c_k"),
        )
    )
    return lnsum.selectExpr(
        "CAST(k AS BIGINT) AS k",
        "CAST(c_k AS BIGINT) AS threshold_cents",
        f"{round_half('s / k', 9)} AS mean_log_excess",
        f"{round_half('k / s', 6)} AS hill_alpha",
    )


# PSI cells cross as 8-digit round_half DECIMALs (entropy-cell idiom); p and
# q are Laplace-smoothed (+1 per bucket) so empty cells never divide
# or log zero.
# explicit DOUBLE casts: a bare 1.0 literal is DECIMAL to Spark's
# parser, and LONG/DECIMAL division truncates scale (measured 7e-7
# cell error) — CAST first so both engines run pure double arithmetic
_PSI_P = "((CAST(cs AS DOUBLE) + 1) / (ns + 10))"
_PSI_Q = "((CAST(cc AS DOUBLE) + 1) / (nc + 10))"
_PSI_CELL = (
    f"CAST({round_half(f'({_PSI_P} - {_PSI_Q}) * LN({_PSI_P} / {_PSI_Q})', 8)}"
    " AS DECIMAL(38,8))"
)


@query(
    "drift_psi_by_source",
    oracle=f"""
    WITH b AS (
      SELECT source, LEAST(n_chars // 120, 9) AS bucket FROM documents
    ),
    corpus AS (SELECT bucket, COUNT(*) AS cc FROM b GROUP BY 1),
    nc_t AS (SELECT COUNT(*) AS nc FROM b),
    src AS (SELECT source, bucket, COUNT(*) AS cs FROM b GROUP BY 1, 2),
    ns_t AS (SELECT source, COUNT(*) AS ns FROM b GROUP BY 1),
    grid AS (
      SELECT n.source, c.bucket, COALESCE(s.cs, 0) AS cs, n.ns,
             c.cc, t.nc
      FROM ns_t n CROSS JOIN corpus c
      LEFT JOIN src s ON s.source = n.source AND s.bucket = c.bucket,
      nc_t t
    )
    SELECT source,
           {round_half(f'CAST(SUM({_PSI_CELL}) AS DOUBLE)', 6)} AS psi,
           CAST(SUM(cs) AS BIGINT) AS n_docs,
           CAST(CASE WHEN {round_half(f'CAST(SUM({_PSI_CELL}) AS DOUBLE)', 6)} >= 0.2
                THEN 1 ELSE 0 END AS BIGINT) AS drift_alert
    FROM grid GROUP BY source
    ORDER BY source
    """,
)
def drift_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    profile against the pooled corpus: PSI = sum over buckets of
    (p_src - p_corpus) * ln(p_src / p_corpus), the industry-standard
    drift score (PSI < 0.1 stable, 0.1-0.2 watch, >= 0.2 act — the
    alert flag encodes the 0.2 rule) — where dataset_drift_kl is
    asymmetric KL, PSI is the symmetric-by-construction variant risk
    teams actually threshold on.  Laplace-smoothed (+1) so a source
    missing a bucket contributes a finite penalty instead of a log of
    zero; cells cross as 8-digit DECIMALs.  A 1-ulp libm LN difference
    still flips a cell within an ulp of a rounding boundary; 8 digits
    make that rarer than the 10 of a first cut, which flipped one.

    Scale shape: one (source, bucket) count over the scan (10 fixed
    length buckets); the grid and the PSI roll-up are
    |sources| x 10."""
    b = t(spark, sf_dir, "documents").select(
        "source", F.least(F.floor(F.col("n_chars") / 120), F.lit(9)).alias("bucket")
    )
    src = b.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("cs"))
    src = supersede_checkpoint("psi_src_cells", src)
    corpus = src.groupBy("bucket").agg(F.sum("cs").alias("cc"))
    ns_t = src.groupBy("source").agg(F.sum("cs").alias("ns"))
    nc_t = src.agg(F.sum("cs").alias("nc"))
    grid = (
        ns_t.crossJoin(F.broadcast(corpus))
        .join(src, ["source", "bucket"], "left")
        .withColumn("cs", F.coalesce("cs", F.lit(0)))
        .crossJoin(F.broadcast(nc_t))
    )
    return (
        grid.groupBy("source")
        .agg(
            round_half(F.sum(F.expr(_PSI_CELL)).cast("double"), 6).alias("psi"),
            F.sum("cs").cast("bigint").alias("n_docs"),
        )
        .selectExpr(
            "source",
            "psi",
            "n_docs",
            "CAST(CASE WHEN psi >= 0.2 THEN 1 ELSE 0 END AS BIGINT)"
            " AS drift_alert",
        )
        .orderBy("source")
    )


# Quantize the BASIS, not the product: COS(theta) rounded to 4 digits
# as an exact DECIMAL(6,4) (a 1-ulp libm cos() difference still flips a
# value within an ulp of a rounding boundary), and BIGINT cents
# times an exact decimal is exact, so the regression sums are
# order-free.  (Rounding the PRODUCT instead leaves ~1e-7 ulp noise
# against a 5e-5 boundary — a measurable flip risk at 2,500 cells.)
_FOURIER_C = f"CAST({round_half('COS(2 * PI() * doy / 365)', 4)} AS DECIMAL(6,4))"
_FOURIER_S = f"CAST({round_half('SIN(2 * PI() * doy / 365)', 4)} AS DECIMAL(6,4))"


@query(
    "fourier_seasonality_terms",
    oracle=f"""
    WITH daily AS (
      SELECT {duck_epoch('l_shipdate', 'day')} AS day,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(8,4)))) * 100)
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    basis AS (
      SELECT cents, day % 365 AS doy FROM daily
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sy,
             {dec_double(f'SUM(cents * {_FOURIER_C})')} AS syc,
             {dec_double(f'SUM(cents * {_FOURIER_S})')} AS sys
      FROM basis
    )
    SELECT n, sy,
           {round_half('2 * syc / n', 4)} AS a1_cents,
           {round_half('2 * sys / n', 4)} AS b1_cents,
           {round_half('SQRT((2 * syc / n) * (2 * syc / n)'
                      ' + (2 * sys / n) * (2 * sys / n))', 4)} AS amplitude_cents,
           {round_half('ATAN2(2 * sys / n, 2 * syc / n)', 6)} AS phase_rad
    FROM sums
    """,
)
def fourier_seasonality_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-harmonic Fourier fit of annual revenue seasonality:
    a1 = 2/n * sum(y * cos(2*pi*doy/365)), b1 likewise with sin, and
    the derived amplitude/phase — the 'does this business breathe
    yearly, and when does it peak' decomposition that a day-of-week
    profile (seasonality_profile) can't see.  doy is epoch-day mod
    365 (the documented leap-drift proxy: < 1 day of phase error per
    4 years of data — fine for a first harmonic).

    Scale shape: one day-keyed aggregate (calendar-bounded) is the
    corpus exchange; the regression sums run over the day grid and
    collapse to one row."""
    daily = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.expr(spark_epoch("l_shipdate", "day")).alias("day"),
            F.expr(
                "CAST(l_extendedprice AS DECIMAL(12,2))"
                " * (1 - CAST(l_discount AS DECIMAL(8,4)))"
            ).alias("r"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(FLOOR(SUM(r) * 100) AS BIGINT)").alias("cents"))
    )
    basis = daily.selectExpr("cents", "day % 365 AS doy")
    sums = basis.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sy"),
        F.expr(dec_double(f"SUM(cents * {_FOURIER_C})")).alias("syc"),
        F.expr(dec_double(f"SUM(cents * {_FOURIER_S})")).alias("sys"),
    )
    return sums.selectExpr(
        "n",
        "sy",
        f"{round_half('2 * syc / n', 4)} AS a1_cents",
        f"{round_half('2 * sys / n', 4)} AS b1_cents",
        round_half("SQRT((2 * syc / n) * (2 * syc / n) + (2 * sys / n) * (2 * sys / n))", 4)
        + " AS amplitude_cents",
        f"{round_half('ATAN2(2 * sys / n, 2 * syc / n)', 6)} AS phase_rad",
    )


# -------------------------------------- 1-D Wasserstein drift


# Exact 1-D earth-mover distance between each source's doc-length
# distribution and the corpus-wide one: W1 = integral |CDF_s - CDF_g|
# over the value axis, evaluated on a FIXED 256-cell grid (n_chars
# DIV _W1_CELL, capped) so the integral is a bounded sum of exact
# rationals — no sort, no quantile approximation.  PSI/KL (drift_psi,
# dataset_drift_kl) blow up on empty cells and ignore distances
# between cells; W1 is the metric that knows 'all mass moved one cell
# right' is small drift and 'all mass moved 200 cells right' is big.
_W1_CELL = 16
_W1_CELLS = 256


@query(
    "wasserstein1d_by_source",
    oracle=f"""
    WITH cells AS (
      SELECT source, LEAST(n_chars // {_W1_CELL}, {_W1_CELLS - 1}) AS v,
             COUNT(*) AS cnt
      FROM documents GROUP BY 1, 2
    ),
    grid AS (SELECT UNNEST(range(0, {_W1_CELLS})) AS v),
    srcs AS (SELECT source, SUM(cnt) AS n_s FROM cells GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n_g FROM cells),
    cdf_s AS (
      SELECT s.source, g.v,
             COALESCE(SUM(c.cnt), 0) AS cum_s
      FROM srcs s CROSS JOIN grid g
      LEFT JOIN cells c ON c.source = s.source AND c.v <= g.v
      GROUP BY 1, 2
    ),
    cdf_g AS (
      SELECT g.v, COALESCE(SUM(c.cnt), 0) AS cum_g
      FROM grid g LEFT JOIN cells c ON c.v <= g.v
      GROUP BY 1
    )
    SELECT s.source,
           CAST(srcs.n_s AS BIGINT) AS n_docs,
           CAST(SUM(ABS(CAST(s.cum_s AS DECIMAL(38,0)) * tot.n_g
                        - CAST(g.cum_g AS DECIMAL(38,0)) * srcs.n_s))
                * {_W1_CELL} * 1000000
                // (CAST(srcs.n_s AS DECIMAL(38,0)) * tot.n_g)
                AS BIGINT) AS w1_chars_e6
    FROM cdf_s s
    JOIN cdf_g g USING (v)
    JOIN srcs ON srcs.source = s.source
    CROSS JOIN tot
    GROUP BY 1, 2, srcs.n_s, tot.n_g
    ORDER BY 1
    """,
)
def wasserstein1d_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between each
    source's document-length distribution and the corpus-wide one —
    the drift metric that respects the METRIC on the value axis
    (unlike PSI/KL, which treat cells as unordered categories): W1 =
    integral of |CDF_source - CDF_global| dx, evaluated exactly on a
    fixed 256-cell grid of n_chars.  All arithmetic is integer /
    DECIMAL(38) rationals over a common denominator (n_s * n_g), so
    the e6 result is bit-identical across engines; reported in
    CHARACTER units (cells x {_W1_CELL}).

    Scale shape: ONE map-side-combinable (source, cell) count over
    the scan; everything after runs on |sources| x 256 bounded rows —
    the CDFs come from a banded self-join against the LITERAL grid
    (spark.range), deliberately not a partitionless window.  At 100x
    the only growing cost is the first aggregate."""
    d = t(spark, sf_dir, "documents")
    cells = (
        d.groupBy(
            "source",
            F.expr(
                f"LEAST(n_chars DIV {_W1_CELL}, {_W1_CELLS - 1})"
            ).alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cells = supersede_checkpoint("w1_cells", cells)
    grid = spark.range(0, _W1_CELLS).select(F.col("id").alias("v"))
    srcs = cells.groupBy("source").agg(F.sum("cnt").alias("n_s"))
    tot = cells.agg(F.sum("cnt").alias("n_g"))
    cdf_s = (
        srcs.crossJoin(F.broadcast(grid))
        .alias("sg")
        .join(
            cells.alias("c"),
            (F.col("c.source") == F.col("sg.source"))
            & (F.col("c.v") <= F.col("sg.v")),
            "left",
        )
        .groupBy(F.col("sg.source").alias("source"), F.col("sg.v").alias("v"))
        .agg(F.coalesce(F.sum("c.cnt"), F.lit(0)).alias("cum_s"))
    )
    cdf_g = (
        grid.alias("g")
        .join(cells.alias("c"), F.col("c.v") <= F.col("g.v"), "left")
        .groupBy(F.col("g.v").alias("v"))
        .agg(F.coalesce(F.sum("c.cnt"), F.lit(0)).alias("cum_g"))
    )
    return (
        cdf_s.join(cdf_g, "v")
        .join(srcs, "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "n_s", "n_g")
        .agg(
            F.expr(
                "SUM(ABS(CAST(cum_s AS DECIMAL(38,0)) * n_g"
                " - CAST(cum_g AS DECIMAL(38,0)) * n_s))"
            ).alias("num")
        )
        .selectExpr(
            "source",
            "CAST(n_s AS BIGINT) AS n_docs",
            f"CAST(num * {_W1_CELL} * 1000000"
            " DIV (CAST(n_s AS DECIMAL(38,0)) * n_g) AS BIGINT)"
            " AS w1_chars_e6",
        )
        .orderBy("source")
    )


# -------------------------------------- KMV distinct-count sketch


# K-minimum-values cardinality sketch: keep the K smallest values of a
# uniform 60-bit hash of each distinct key; the (K-1) / kth_min
# estimator (Bar-Yossef et al. 2002) needs only K BIGINTs per scope —
# the mergeable, bounded-memory way to count distincts at 100 TB
# (union of sketches = K smallest of the concatenation).  The hash is
# the repo's portable md5-based h60, so both engines compute the SAME
# sketch and the estimate is deterministic, not merely close.
_KMV_K = 64
_KMV_DOMAIN = 1 << 60


@query(
    "kmv_distinct_estimate",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT source, w FROM (
        SELECT source,
               UNNEST(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS w
        FROM (SELECT source, string_split(text, ' ') AS ws FROM documents)
        WHERE len(ws) >= 2
      )
    ),
    hashed AS (
      SELECT source, {duck_hash("w", 71, hex_digits=15)} AS h
      FROM toks
    ),
    ranked AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rnk,
             COUNT(*) OVER (PARTITION BY source) AS n_true
      FROM hashed
    )
    SELECT source,
           CAST(n_true AS BIGINT) AS true_distinct,
           CAST(h AS BIGINT) AS kth_min_hash,
           CAST(({_KMV_K} - 1) * CAST({_KMV_DOMAIN} AS HUGEINT) // h
                AS BIGINT) AS kmv_estimate,
           CAST(ABS(({_KMV_K} - 1) * CAST({_KMV_DOMAIN} AS HUGEINT) // h
                    - n_true) * 1000000 // n_true AS BIGINT) AS abs_err_e6
    FROM ranked WHERE rnk = {_KMV_K}
    ORDER BY source
    """,
)
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per source (Bar-Yossef
    et al., 2002): hash every distinct token with the portable 60-bit
    md5 digest (keys are word BIGRAMS — the high-cardinality unit the
    synthetic corpus offers), keep the K={_KMV_K} smallest per
    source, estimate
    |distinct| as (K-1) * 2^60 / kth_min.  Unlike
    approx_count_distinct (HLL, engine-private registers) the KMV
    sketch is REPRODUCIBLE across engines — DuckDB computes the
    byte-identical kth hash and estimate, so the oracle checks the
    sketch itself, not a tolerance.  The true distinct count and the
    e6 relative error ride along (the estimator's ~1/sqrt(K) noise is
    data-independent; the row pins what it measures).

    Scale shape: distinct (source, token) is one exchange; the
    per-source K-smallest ranking is a vocab-sized window keyed by
    source (never partitionless); output is |sources| rows of 4
    integers.  At 100 TB the sketch merges across partitions by
    construction — K BIGINTs per scope is the whole state."""
    d = t(spark, sf_dir, "documents")
    toks = (
        d.select("source", F.split("text", " ").alias("ws"))
        .filter(F.expr("size(ws) >= 2"))
        .select(
            "source",
            F.expr(
                "explode(transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ',"
                " element_at(ws, i + 1))))"
            ).alias("w"),
        )
        .distinct()
        .select("source", F.expr(spark_hash("w", 71, hex_digits=15)).alias("h"))
    )
    w_src = Window.partitionBy("source").orderBy("h")
    ranked = toks.select(
        "source",
        "h",
        F.row_number().over(w_src).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_true"),
    )
    return (
        ranked.filter(F.col("rnk") == _KMV_K)
        .selectExpr(
            "source",
            "CAST(n_true AS BIGINT) AS true_distinct",
            "CAST(h AS BIGINT) AS kth_min_hash",
            f"CAST(({_KMV_K} - 1) * CAST({_KMV_DOMAIN} AS DECIMAL(38,0))"
            " DIV h AS BIGINT) AS kmv_estimate",
            f"CAST(ABS(({_KMV_K} - 1) * CAST({_KMV_DOMAIN} AS DECIMAL(38,0))"
            " DIV h - n_true) * 1000000 DIV n_true AS BIGINT) AS abs_err_e6",
        )
        .orderBy("source")
    )


kmv_distinct_estimate.__doc__ = (kmv_distinct_estimate.__doc__ or "").replace(
    "{_KMV_K}", str(_KMV_K)
)


@query(
    "kmv_union_merge",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT source, w FROM (
        SELECT source,
               UNNEST(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS w
        FROM (SELECT source, string_split(text, ' ') AS ws FROM documents)
        WHERE len(ws) >= 2
      )
    ),
    hashed AS (
      SELECT source, {duck_hash('w', 71, hex_digits=15)} AS h FROM toks
    ),
    per_source AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rnk
      FROM hashed
    ),
    sketches AS (SELECT source, h FROM per_source WHERE rnk <= {_KMV_K}),
    merged AS (
      SELECT DISTINCT h FROM sketches
    ),
    kth AS (
      SELECT h FROM merged ORDER BY h LIMIT 1 OFFSET {_KMV_K - 1}
    ),
    truth AS (SELECT COUNT(DISTINCT w) AS n_true FROM toks)
    SELECT CAST((SELECT COUNT(*) FROM sketches) AS BIGINT)
             AS merged_input_rows,
           CAST((SELECT h FROM kth) AS BIGINT) AS kth_min_hash,
           CAST(({_KMV_K} - 1) * CAST({_KMV_DOMAIN} AS HUGEINT)
                // (SELECT h FROM kth) AS BIGINT) AS union_estimate,
           CAST((SELECT n_true FROM truth) AS BIGINT) AS true_union_distinct
    """,
)
def kmv_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGEABILITY — the property that makes the sketch a
    100 TB tool: the union's K smallest hashes are a subset of the
    concatenation of each source's K smallest, so per-source sketches
    (K BIGINTs each) merge into an exact union sketch WITHOUT
    re-reading any data.  The query builds the 20 per-source sketches
    (same hash/K as kmv_distinct_estimate), merges them (distinct +
    K-th smallest), and estimates the corpus-wide distinct bigram
    count — against the true union count.  Per-partition sketch ->
    driver merge is exactly how a 1000-executor job counts distincts
    with constant memory; the oracle recomputes the identical merge.

    Scale shape: the sketch build is the kmv_distinct_estimate plan;
    the merge runs on |sources| x K = bounded rows (a TakeOrdered of
    K); truth is the one corpus-keyed distinct count (the thing the
    sketch exists to avoid — here it is the certification)."""
    d = t(spark, sf_dir, "documents")
    toks = (
        d.select("source", F.split("text", " ").alias("ws"))
        .filter(F.expr("size(ws) >= 2"))
        .select(
            "source",
            F.expr(
                "explode(transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ',"
                " element_at(ws, i + 1))))"
            ).alias("w"),
        )
        .distinct()
    )
    toks = supersede_checkpoint(
        "kmv_union_toks", toks.select("source", "w")
    )
    hashed = toks.select("source", F.expr(spark_hash("w", 71, hex_digits=15)).alias("h"))
    w_src = Window.partitionBy("source").orderBy("h")
    sketches = hashed.select(
        "source", "h", F.row_number().over(w_src).alias("rnk")
    ).filter(F.col("rnk") <= _KMV_K)
    # Degenerate-corpus guard (ADVICE r10): the oracle's LIMIT 1
    # OFFSET K-1 yields NULL when the merged sketch holds fewer than
    # K distinct hashes; max() over the available rows would not.
    # Emit NULL identically so both sides agree that a sketch with
    # fewer than K entries has no K-th minimum (and therefore no
    # estimate — NULL propagates through the DIV below).
    kth = (
        sketches.select("h")
        .distinct()
        .orderBy("h")
        .limit(_KMV_K)
        .agg(F.when(F.count(F.lit(1)) == _KMV_K, F.max("h")).alias("kth"))
    )
    truth = toks.agg(F.countDistinct("w").alias("n_true"))
    merged_n = sketches.agg(F.count(F.lit(1)).alias("m"))
    return (
        merged_n.crossJoin(F.broadcast(kth))
        .crossJoin(F.broadcast(truth))
        .selectExpr(
            "CAST(m AS BIGINT) AS merged_input_rows",
            "CAST(kth AS BIGINT) AS kth_min_hash",
            f"CAST(({_KMV_K} - 1) * CAST({_KMV_DOMAIN} AS DECIMAL(38,0))"
            " DIV kth AS BIGINT) AS union_estimate",
            "CAST(n_true AS BIGINT) AS true_union_distinct",
        )
    )

"""Deterministic sampling / dataset-splitting operators (EXT mandate:
training-data pipeline surface).

``df.sample()`` is seeded per-partition and NOT reproducible across
cluster layouts, engines, or reruns with different partition counts —
useless for a 100 TB pipeline that must produce the same train set
twice.  The portable answer is content-hash bucketing: a row belongs
to a sample/split iff ``hash(key) % N < k``.  That's a scan-local
filter — no shuffle, no state, pushdown-friendly — and it gives the
same answer on Spark, DuckDB, or a laptop, which also makes these
operators oracle-checkable (the reference has no sampling at all;
absence verified in SURVEY.md §2.6).

The hash is the repo-wide portable md5-derived 32-bit hash
(``functions.spark_hash`` / ``functions.duck_hash``): identical
fragments on both engines.
"""

from __future__ import annotations
from instructions_mr_spark.plans.guard import literal_df

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_epoch, duck_hash, round_half, spark_epoch, spark_hash
from instructions_mr_spark.queries._util import DEC_TOTAL, sum_d, t
from instructions_mr_spark.registry import query


@query(
    "sample_hash_mod",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE {duck_hash('o_orderkey', 7)} % 10 = 0
    ORDER BY o_orderkey
    """,
)
def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample of orders by key-hash bucket.  Rerun
    it on any engine, any partitioning, any day: same rows.  The
    predicate is a pure per-row expression, so at 100 TB it rides the
    scan (no shuffle, combines with column pruning)."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.expr(f"{spark_hash('o_orderkey', 7)} % 10 = 0"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "split_train_test",
    oracle=f"""
    SELECT CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT n_chars, {duck_hash('doc_id', 13)} % 100 AS b
          FROM documents)
    GROUP BY 1 ORDER BY 1
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split of the corpus by doc-id hash
    bucket — stable under re-partitioning and incremental ingestion
    (a new doc never moves an old doc between splits, unlike
    randomSplit).  Returned as per-split stats; the split column
    itself is the reusable primitive."""
    b = F.expr(f"{spark_hash('doc_id', 13)} % 100")
    return (
        t(spark, sf_dir, "documents")
        .select(
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "sample_stratified",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE {duck_hash('event_id', 21)} % 5 = 0)
             AS n_sample
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~20% per-stratum deterministic sample (strata = event_type),
    reported as total-vs-sample counts per stratum.  Because the
    bucket predicate is per-row, stratification needs NO extra pass
    over the data — the conditional count shares the one aggregate
    scan (contrast sampleBy, which is per-partition-seeded and not
    reproducible)."""
    in_sample = F.expr(f"{spark_hash('event_id', 21)} % 5 = 0")
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(in_sample, 1)).alias("n_sample"),
        )
        .orderBy("event_type")
    )


@query(
    "sample_reservoir_topup",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_kept, {sum_d(DEC_TOTAL, 'kept_value')}
    FROM (
      SELECT o_custkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY {duck_hash('o_orderkey', 31)}, o_orderkey)
               AS rk
      FROM orders)
    WHERE rk <= 3
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def sample_reservoir_topup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'reservoir': keep at most 3 orders per customer,
    chosen by hash-rank (a stable stand-in for random rank — same
    sample every run).  Per-group top-k by hash order is how you cap
    per-entity contributions in a training set (anti-spam / dedup by
    source).  Plan: one shuffle on the group key, WindowGroupLimit
    prunes to k per group before the full sort."""
    w = F.expr(f"{spark_hash('o_orderkey', 31)}")
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("o_custkey").orderBy(w.asc(), F.col("o_orderkey").asc())
    )
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.expr(sum_d(DEC_TOTAL, "kept_value")),
        )
        .orderBy("o_custkey")
    )


@query(
    "shuffle_epoch_order",
    oracle=f"""
    SELECT doc_id, epoch, shuffle_rank FROM (
      SELECT doc_id, e.epoch,
             ROW_NUMBER() OVER (
               PARTITION BY e.epoch
               ORDER BY {duck_hash("CAST(doc_id AS VARCHAR) || '@' || CAST(e.epoch AS VARCHAR)", 11)}, doc_id
             ) AS shuffle_rank
      FROM documents, (SELECT 0 AS epoch UNION ALL SELECT 1) e
    )
    """,
)
def shuffle_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order: rank docs by the
    portable hash of (doc_id, epoch) — a reshuffle every epoch that is
    reproducible across engines, reruns, and cluster layouts (what
    ``ORDER BY rand()`` can never give a resumable training job).
    The rank is a global sort per epoch — Spark executes it as a
    range-partitioned sort, the honest distributed shape; at 100 TB
    you materialize this once per epoch and read sequentially."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    epochs = d.sparkSession.range(2).select(F.col("id").cast("int").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs))
    h = spark_hash("CAST(doc_id AS STRING) || '@' || CAST(epoch AS STRING)", 11)
    from pyspark.sql import Window as W

    w = W.partitionBy("epoch").orderBy(F.expr(h), "doc_id")
    return keyed.select(
        "doc_id", "epoch", F.row_number().over(w).alias("shuffle_rank")
    )


@query(
    "mixture_resample",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {duck_hash('doc_id', 43)}, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n_before
      FROM documents
    ), nmin AS (SELECT MIN(n) AS n_min FROM (
      SELECT COUNT(*) AS n FROM documents GROUP BY source))
    SELECT source,
           MAX(n_before) AS n_before,
           COUNT(*) FILTER (WHERE rk <= n_min) AS n_kept,
           CAST(SUM(doc_id) FILTER (WHERE rk <= n_min) AS BIGINT) AS kept_id_sum
    FROM ranked, nmin
    GROUP BY source ORDER BY source
    """,
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling — the executable half of
    mixture_weights: downsample every source to the size of the
    smallest source (uniform target mixture) by keeping each source's
    n_min lowest content-hash ranks.  Hash-rank, not df.sample():
    rerun on any engine or partitioning selects the SAME documents,
    and adding a new source never changes which old docs survive.
    Output pins membership via an order-independent kept-id checksum.

    Scale: the exact-k rank is one window exchange keyed by source
    (salt the giant sources if skewed); when an ~exact share is
    acceptable, the scan-local form ``h32(doc_id) % N < p*N`` drops
    the shuffle entirely — same determinism, zero exchange — which is
    the 100 TB default; the rank form is for hard token budgets."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    n_min = (
        d.groupBy("source").count().agg(F.min("count").alias("n_min"))
    )
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.expr(spark_hash("doc_id", 43)), "doc_id")
    )
    ranked = d.select("source", "doc_id").withColumn("rk", rk).crossJoin(
        F.broadcast(n_min)
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.count(F.when(F.col("rk") <= F.col("n_min"), 1)).alias("n_kept"),
            F.sum(F.when(F.col("rk") <= F.col("n_min"), F.col("doc_id"))).alias(
                "kept_id_sum"
            ),
        )
        .orderBy("source")
    )


_BUDGET_TOKENS = 20_000


@query(
    "token_budget_select",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), src AS (
      SELECT source, SUM(n_tokens) AS src_tokens FROM toked GROUP BY source
    ), tot AS (SELECT SUM(n_tokens) AS total FROM toked),
    quota AS (
      SELECT source, {_BUDGET_TOKENS} * src_tokens // tot.total AS src_quota
      FROM src, tot
    ), ranked AS (
      SELECT t.doc_id, t.source, t.n_tokens, q.src_quota,
             SUM(t.n_tokens) OVER (PARTITION BY t.source
                                   ORDER BY t.n_tokens DESC, t.doc_id) AS cum
      FROM toked t JOIN quota q USING (source)
    )
    SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum <= src_quota
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained dataset assembly: given a total token budget,
    allocate each source a quota proportional to its corpus share, then
    greedily admit that source's documents in quality order (longest
    first, ties by id) until the running token sum hits the quota —
    the final trim step that turns 'weights' into an actual dataset.

    Scale shape: per-source token totals are a tiny aggregate whose
    quota table BROADCASTS back; the selection itself is ONE window
    running sum per source (same single-exchange shape as
    pack_quantized); all arithmetic is exact integers, so the oracle
    is hash-exact."""
    toked = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    src = toked.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    tot = toked.agg(F.sum("n_tokens").alias("total"))
    # exact integer division on BOTH sides (Spark DIV == DuckDB //):
    # a double-division quota would truncate on one engine and round on
    # the other when the ratio lands on a representation boundary
    quota = src.crossJoin(F.broadcast(tot)).selectExpr(
        "source", f"{_BUDGET_TOKENS} * src_tokens DIV total AS src_quota"
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("source")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = toked.join(F.broadcast(quota), "source").withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    return ranked.filter(F.col("cum") <= F.col("src_quota")).select(
        "doc_id", "source", "n_tokens", F.col("cum").alias("cum_tokens")
    )


@query(
    "mixture_temperature_shares",
    oracle="""
    WITH per_source AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), scaled AS (
      SELECT source, n_docs,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000000) AS BIGINT)
               AS sqrt_units
      FROM per_source
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
             CAST(SUM(sqrt_units) AS BIGINT) AS sqrt_total
      FROM scaled
    )
    SELECT source, n_docs, sqrt_units,
           CAST(n_docs AS DOUBLE) / n_total AS actual_share,
           CAST(sqrt_units AS DOUBLE) / sqrt_total AS temp_share,
           (CAST(sqrt_units AS DOUBLE) / sqrt_total)
             / (CAST(n_docs AS DOUBLE) / n_total) AS boost
    FROM scaled, tot
    """,
)
def mixture_temperature_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixture shares (the multilingual-LLM
    mixing dial, mT5/XLM-R style): source i samples with probability
    proportional to f_i^alpha, flattening the head and boosting the
    tail; alpha = 0.5 here because SQRT is IEEE-correctly-rounded on
    every engine (a generic POWER(f, alpha) can differ in the last ulp
    between libm implementations — the one cross-engine hazard this
    table must not have).  Per the repo convention the scaled values
    are FLOOR-quantized to integer units (1e-9) and summed exactly as
    BIGINTs; shares are emitted as UNROUNDED divisions of those exact
    integers, and ``boost`` = temp_share / actual_share is what a
    sampler multiplies each source's keep-probability by.

    Scale shape: one aggregate pass over (source) plus one broadcast
    scalar pair — identical to mixture_weights; the sampler that
    consumes ``boost`` stays scan-local (h32 keep-rule), so the whole
    mixing decision costs one tiny rollup at 100 TB."""
    d = t(spark, sf_dir, "documents")
    scaled = (
        d.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .withColumn(
            "sqrt_units",
            F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000000).cast(
                "bigint"
            ),
        )
    )
    tot = scaled.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum("sqrt_units").cast("bigint").alias("sqrt_total"),
    )
    actual = F.col("n_docs").cast("double") / F.col("n_total")
    temp = F.col("sqrt_units").cast("double") / F.col("sqrt_total")
    return scaled.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "sqrt_units",
        actual.alias("actual_share"),
        temp.alias("temp_share"),
        (temp / actual).alias("boost"),
    )


# ------------------------------- weighted reservoir sampling (A-Res)

_ARES_DUCK = f"""
    WITH keyed AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS weight_cents,
             CAST(CAST({round_half(
                   f"-LN(CAST(({duck_hash('o_orderkey', 71, hex_digits=15)} + 1) AS DOUBLE)"
                   " / 1152921504606846976.0)", 10)} AS DECIMAL(12,10)) * 10000000000000000 AS BIGINT)
               // CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS ares_key
      FROM orders
    )
    SELECT o_orderkey, weight_cents, ares_key
    FROM keyed
    ORDER BY ares_key, o_orderkey
    LIMIT 20
"""


@query("sample_weighted_ares", oracle=_ARES_DUCK)
def sample_weighted_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-Res): each order draws u = hash-uniform(0,1], scores
    -ln(u) / weight, and the 20 SMALLEST scores are the sample —
    equivalent to sequential weighted draws, but embarrassingly
    parallel and fully deterministic (the 'random' u is the portable
    60-bit key digest, so any engine, any partitioning, any day picks
    the same 20 orders).  The score is integerized as
    round_half(-ln u, 10) * 1e16 DIV cents — one truncating division, no
    float comparisons at the selection boundary.

    Scale shape: per-row expressions ride the scan (no shuffle), and
    the global smallest-20 is TakeOrderedAndProject (per-partition
    top-k, then a 20-row driver merge) — the same plan shape as
    topk_global, good at any corpus size."""
    o = t(spark, sf_dir, "orders")
    h60 = spark_hash("o_orderkey", 71, hex_digits=15)
    keyed = o.select(
        "o_orderkey",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("weight_cents"),
        F.expr(
            "CAST(CAST("
            + round_half(f"-LN(CAST(({h60} + 1) AS DOUBLE) / 1152921504606846976.0)", 10)
            + " AS DECIMAL(12,10))"
            " * 10000000000000000 AS BIGINT)"
            " DIV CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("ares_key"),
    )
    return keyed.orderBy("ares_key", "o_orderkey").limit(20)


# ================================================================ round 9


@query(
    "curriculum_interleave_order",
    oracle="""
    WITH deciled AS (
      SELECT doc_id, n_chars,
             NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_chars, decile,
             ROW_NUMBER() OVER (PARTITION BY decile
                                ORDER BY n_chars DESC, doc_id) AS rw
      FROM deciled
    )
    SELECT CAST((rw - 1) * 10 + decile AS BIGINT) AS position,
           CAST(decile AS BIGINT) AS decile,
           doc_id, n_chars
    FROM ranked ORDER BY position LIMIT 20
    """,
)
def curriculum_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum interleave: documents deciled by a quality proxy
    (n_chars, longest first) and dealt round-robin across deciles —
    position = (rank_within_decile - 1) * 10 + decile — so every
    consecutive window of 10 training examples spans the full quality
    spectrum (the anti-sort that keeps a quality-ordered corpus from
    front-loading one difficulty band).  The interleave position is
    CLOSED-FORM from the global rank, so no second shuffle orders the
    output.

    Scale shape: the global rank is the two-phase bucketed prefix sum
    (two_phase_rank — no partitionless window); decile and position
    are in-row arithmetic from (rank, n); the readout is a
    TakeOrdered top-20."""
    from instructions_mr_spark.queries._util import exact_ntile_sql, two_phase_rank

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = two_phase_rank(
        d,
        bucket=-(F.col("n_chars") / F.lit(64)).cast("bigint"),
        order_cols=[F.col("n_chars").desc(), F.col("doc_id")],
        rn_name="rn",
        n_name="n",
    )
    tile = exact_ntile_sql("rn", "n", 10)
    return (
        ranked.selectExpr(
            "doc_id",
            "n_chars",
            "rn",
            "n",
            f"{tile} AS decile",
        )
        .selectExpr(
            "CAST((rn - ((decile - 1) * (n DIV 10)"
            " + LEAST(decile - 1, n % 10)) - 1) * 10 + decile AS BIGINT)"
            " AS position",
            "CAST(decile AS BIGINT) AS decile",
            "doc_id",
            "n_chars",
        )
        .orderBy("position")
        .limit(20)
    )


@query(
    "top_p_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT source, len(string_split(text, ' ')) AS score
      FROM documents
    ),
    classes AS (
      SELECT source, score, COUNT(*) AS n_docs,
             CAST(SUM(score) AS BIGINT) AS tokens
      FROM scored GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, score, n_docs, tokens,
             SUM(tokens) OVER (PARTITION BY source ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) - tokens AS cum_before,
             SUM(tokens) OVER (PARTITION BY source) AS total
      FROM classes
    )
    SELECT source,
           CAST(MIN(score) AS BIGINT) AS threshold_score,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs_kept,
           CAST(SUM(tokens) AS BIGINT) AS tokens_kept,
           {round_half('CAST(SUM(tokens) AS DOUBLE) / MAX(total)', 6)} AS share_kept
    FROM cum
    WHERE 10 * cum_before < 9 * total
    GROUP BY source
    ORDER BY source
    """,
)
def top_p_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus-style (top-p) corpus selection: per source, keep the
    highest-scoring documents until 90% of the source's token mass is
    covered — the 'take the best, cap the budget' gate that beats a
    fixed score threshold when sources have different score scales.
    Selection is CLASS-granular on the score's value domain (a class
    is kept iff the mass before it is strictly inside the budget), so
    the cumulative window runs over (source x distinct scores) — the
    value-domain trick that keeps exact selection scale-safe (the
    percentile_group_twophase shape), never a per-document sort.
    Score = token count here; swap in any integer quality score with
    the same plan.

    Integer exactness: the budget test is 10*cum_before < 9*total —
    no float division decides membership; share_kept is a derived
    readout."""
    from pyspark.sql import Window

    scored = t(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("score")
    )
    classes = scored.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").cast("bigint").alias("tokens"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    cum = classes.select(
        "source",
        "score",
        "n_docs",
        "tokens",
        (F.sum("tokens").over(w_cum) - F.col("tokens")).alias("cum_before"),
        F.sum("tokens")
        .over(w_all.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("total"),
    )
    return (
        cum.filter(10 * F.col("cum_before") < 9 * F.col("total"))
        .groupBy("source")
        .agg(
            F.min("score").cast("bigint").alias("threshold_score"),
            F.sum("n_docs").cast("bigint").alias("n_docs_kept"),
            F.sum("tokens").cast("bigint").alias("tokens_kept"),
            round_half(F.sum("tokens").cast("double") / F.max("total"), 6).alias("share_kept"),
        )
        .orderBy("source")
    )


@query(
    "contribution_bounding_curve",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY {duck_epoch('ts')},
                                         event_id) AS rn
      FROM events
    ),
    caps AS (SELECT UNNEST([1, 2, 4, 8]) AS cap)
    SELECT caps.cap AS cap, ranked.event_type,
           CAST(SUM(CASE WHEN ranked.rn <= caps.cap THEN 1 ELSE 0 END)
                AS BIGINT) AS kept,
           CAST(COUNT(*) AS BIGINT) AS total,
           {round_half('CAST(SUM(CASE WHEN ranked.rn <= caps.cap THEN 1 ELSE 0 END)'
                      ' AS DOUBLE) / COUNT(*)', 6)} AS kept_share
    FROM ranked CROSS JOIN caps
    GROUP BY caps.cap, ranked.event_type
    ORDER BY cap, event_type
    """,
)
def contribution_bounding_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user contribution bounding (the deterministic half of
    DP-style aggregation): keep each user's first C events per type
    (earliest-first, event_id tiebreak) and report the retained share
    at C = 1, 2, 4, 8 — the curve an analyst reads to pick the cap
    that bounds any single user's influence on a count while losing
    the least data (the same preprocessing a DP release or a
    heavy-user-robust metric needs, no noise involved).

    Scale shape: one (user, type)-keyed window ranks contributions
    (thousands of parallel partitions); the 4-row cap table broadcast
    crosses the ranked rows into a map-side-combinable conditional
    sum — 4 x |types| result rows."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id", "event_type").orderBy(F.expr(spark_epoch("ts")), "event_id")
    ranked = t(spark, sf_dir, "events").select(
        "event_type", F.row_number().over(w).alias("rn")
    )
    caps = literal_df(spark, [(1,), (2,), (4,), (8,)], "cap int")
    return (
        ranked.crossJoin(F.broadcast(caps))
        .groupBy("cap", "event_type")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("cap"), 1).otherwise(0))
            .cast("bigint")
            .alias("kept"),
            F.count(F.lit(1)).cast("bigint").alias("total"),
        )
        .selectExpr(
            "CAST(cap AS INT) AS cap",
            "event_type",
            "kept",
            "total",
            f"{round_half('CAST(kept AS DOUBLE) / total', 6)} AS kept_share",
        )
        .orderBy("cap", "event_type")
    )


@query(
    "group_kfold_assign",
    oracle=f"""
    WITH folds AS (
      SELECT user_id, event_id,
             {duck_hash('user_id', 41, hex_digits=15)} % 5 AS fold
      FROM events
    ),
    integrity AS (
      SELECT user_id, COUNT(DISTINCT fold) AS nf FROM folds GROUP BY 1
    )
    SELECT fold,
           CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {round_half('CAST(COUNT(*) AS DOUBLE)'
                 ' / (SELECT COUNT(*) FROM folds)', 6)} AS event_share,
           CAST((SELECT SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END)
                 FROM integrity) AS BIGINT) AS split_users
    FROM folds f
    GROUP BY fold
    ORDER BY fold
    """,
)
def group_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-integrity k-fold assignment: every event lands in the
    fold of its USER (portable h60 of user_id mod 5), so no user's
    behavior leaks across train/validation folds — the grouped-CV
    prep that doc-level hash splits (split_train_test) get wrong for
    behavioral models.  Emits per-fold user/event counts, the event
    share (balance check ~0.2), and split_users — the count of users
    appearing in more than one fold, which is ZERO BY CONSTRUCTION
    and pinned so any refactor that keys the hash on something else
    goes red.

    Scale shape: the fold is in-row hash arithmetic on the scan; one
    fold-keyed count plus a user-keyed distinct — both map-side
    combinable; 5 result rows."""
    from instructions_mr_spark.queries._util import supersede_checkpoint

    folds = t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_id",
        f"({spark_hash('user_id', 41, hex_digits=15)}) % 5 AS fold",
    )
    folds = supersede_checkpoint("kfold_folds", folds)
    total = folds.agg(F.count(F.lit(1)).alias("tot"))
    split = (
        folds.groupBy("user_id")
        .agg(F.countDistinct("fold").alias("nf"))
        .agg(
            F.sum(F.when(F.col("nf") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("split_users")
        )
    )
    return (
        folds.groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(split))
        .selectExpr(
            "fold",
            "n_users",
            "n_events",
            f"{round_half('CAST(n_events AS DOUBLE) / tot', 6)} AS event_share",
            "split_users",
        )
        .orderBy("fold")
    )

"""Sequence packing — assigning documents to fixed-token-capacity
training bins, the step between curation and batching in an LLM data
pipeline.  Reference status: no batching/packing surface (SURVEY.md
§2.6) — EXT mandate.

Two packers over the documents table, both per-source (the unit a
real pipeline packs within so mixtures stay controllable):

* ``pack_quantized`` — boundary-splitting packing: bins are CAPACITY-
  token stripes of the per-source running token count.  Pure window
  algebra (one exchange on source), exact SQL twin, and the shape
  used when documents may be split across context windows.
* ``pack_greedy`` — next-fit packing: a document that would overflow
  the current bin opens a new one (documents never split).  The
  capped-reset running state is not expressible in window algebra, so
  it runs as an Arrow-batched ``applyInPandas`` fold per source; the
  oracle is a DuckDB recursive CTE walking rows in the same order.

Scale: both shuffle once on the group key.  At 100 TB a single
source's documents exceed one task — pre-shard the group key to
(source, hash(doc_id) % K) and pack within shards; bin ids then get a
shard prefix.  The fold itself is O(rows) per shard with O(1) state.
Every hash here is the portable md5 digest of ``functions.spark_hash``
/ ``functions.duck_hash``, so both engines pick the same shards,
orders and masks.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_hash, round_half, spark_hash
from instructions_mr_spark.queries._util import t
from instructions_mr_spark.registry import query

CAPACITY = 512  # tokens per bin


@query(
    "pack_quantized",
    oracle=f"""
    SELECT source, doc_id, n_tokens,
           CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / {CAPACITY}) AS BIGINT)
             AS bin_id
    FROM (
      SELECT source, doc_id,
             len(string_split(COALESCE(text, ''), ' ')) AS n_tokens,
             SUM(len(string_split(COALESCE(text, ''), ' '))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    """,
)
def pack_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-splitting packing: bin = which CAPACITY-token stripe
    the document STARTS in (split-allowed semantics).  One window
    running sum per source — single exchange, whole-stage codegen."""
    # COALESCE(text, ''): a NULL text must still count as one (empty)
    # token on BOTH sides — a NULL n_tokens would NaN-poison the
    # pandas fold while the SQL walk's CASE takes the ELSE branch,
    # silently diverging for every later document in that source.
    d = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return d.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")).cast("double") / CAPACITY)
        .cast("bigint")
        .alias("bin_id"),
    )


@query(
    "pack_greedy",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT source, doc_id, len(string_split(COALESCE(text, ''), ' ')) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    walk(source, rn, doc_id, n_tokens, bin_id, fill) AS (
      SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN w.fill + d.n_tokens <= {CAPACITY}
                  THEN w.bin_id ELSE w.bin_id + 1 END,
             CASE WHEN w.fill + d.n_tokens <= {CAPACITY}
                  THEN w.fill + d.n_tokens ELSE d.n_tokens END
      FROM walk w JOIN d ON d.source = w.source AND d.rn = w.rn + 1
    )
    SELECT source, doc_id, n_tokens, bin_id FROM walk
    """,
)
def pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit packing (documents never split): sequential capped-
    reset fold per source, run as one Arrow-batched applyInPandas per
    group — the honest Python-boundary case (window algebra cannot
    express a running sum that resets on overflow).  Oracle: DuckDB
    recursive CTE replaying the identical walk."""
    # COALESCE(text, ''): a NULL text must still count as one (empty)
    # token on BOTH sides — a NULL n_tokens would NaN-poison the
    # pandas fold while the SQL walk's CASE takes the ELSE branch,
    # silently diverging for every later document in that source.
    d = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_id, fill = 0, 0
        # `fill and ...`: only distinguishes the FIRST row (fill==0) —
        # afterwards fill >= 1 always (n_tokens >= 1, and a reset sets
        # fill = toks).  It pins the oracle's base case: row 1 stays in
        # bin 0 even when n_tokens alone exceeds CAPACITY.
        for toks in pdf["n_tokens"]:
            if fill and fill + toks > CAPACITY:
                bin_id += 1
                fill = 0
            fill += toks
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    return d.groupBy("source").applyInPandas(
        fold, "source string, doc_id bigint, n_tokens bigint, bin_id bigint"
    )


PACK_SHARDS = 8  # K in the (source, h32(doc_id) % K) pre-shard

# Shard ids use the portable 32-bit hash so Spark and DuckDB agree on
# the shard every doc lands in.  h32 is non-negative, so % K == pmod.
_DUCK_SHARD = duck_hash("CAST(doc_id AS VARCHAR) || '#shard'") + f" % {PACK_SHARDS}"


@query(
    "pack_greedy_sharded",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT source, {_DUCK_SHARD} AS shard, doc_id,
             len(string_split(COALESCE(text, ''), ' ')) AS n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY source, {_DUCK_SHARD} ORDER BY doc_id) AS rn
      FROM documents
    ),
    walk(source, shard, rn, doc_id, n_tokens, bin_id, fill) AS (
      SELECT source, shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.shard, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN w.fill + d.n_tokens <= {CAPACITY}
                  THEN w.bin_id ELSE w.bin_id + 1 END,
             CASE WHEN w.fill + d.n_tokens <= {CAPACITY}
                  THEN w.fill + d.n_tokens ELSE d.n_tokens END
      FROM walk w
      JOIN d ON d.source = w.source AND d.shard = w.shard AND d.rn = w.rn + 1
    )
    SELECT source, shard, doc_id, n_tokens,
           shard * 1000000000 + bin_id AS bin_id
    FROM walk
    """,
)
def pack_greedy_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit packing with the 100 TB task-parallelism fix: the fold
    group key is (source, h32(doc_id) % K) instead of bare source, so a
    single giant source fans out to K parallel Arrow tasks instead of
    serializing into one straggler.  Bin ids get the shard as a prefix
    (shard * 1e9 + local bin) so they stay globally unique per source
    without any cross-shard coordination.  Oracle: the same recursive-
    CTE walk per (source, shard)."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.expr(spark_hash("CAST(doc_id AS STRING) || '#shard'") + f" % {PACK_SHARDS}")
        .cast("bigint")
        .alias("shard"),
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_id, fill = 0, 0
        for toks in pdf["n_tokens"]:
            if fill and fill + toks > CAPACITY:
                bin_id += 1
                fill = 0
            fill += toks
            bins.append(bin_id)
        shard_base = int(pdf["shard"].iloc[0]) * 1_000_000_000 if len(pdf) else 0
        pdf["bin_id"] = pd.Series(bins, dtype="int64") + shard_base
        return pdf

    return d.groupBy("source", "shard").applyInPandas(
        fold,
        "source string, shard bigint, doc_id bigint, n_tokens bigint, bin_id bigint",
    )


@query(
    "pack_concat_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {duck_hash('CAST(doc_id AS VARCHAR)', 77)} AS h
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
      FROM d
    )
    SELECT doc_id, n_tokens,
           CAST(cum_end - n_tokens AS BIGINT) AS cum_start,
           CAST((cum_end - n_tokens) // {CAPACITY} AS BIGINT) AS first_chunk,
           CAST((cum_end - 1) // {CAPACITY} AS BIGINT) AS last_chunk
    FROM c
    """,
)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing (the GPT-pretraining layout): all
    documents are concatenated in a deterministic shuffled order
    (portable hash, like shuffle_epoch_order) and the token stream is
    cut into fixed CAPACITY-token context windows; each document
    reports its global token offset and the chunk range it spans —
    boundary-splitting across documents, the third packing policy
    next to pack_quantized (per-source stripes) and pack_greedy
    (never-split bins).

    Scale shape — the part that matters: the global prefix sum is NOT
    a single global-order window (which collapses to ONE task).  It
    runs as the two-phase scan: bucket = top 6 bits of the order hash
    (order-preserving ranges), per-bucket running sums under a
    bucket-keyed window (64-way parallel), per-bucket totals rolled
    into cumulative offsets on a 64-row table (trivial), offsets
    broadcast back and added.  Exact BIGINT arithmetic end-to-end;
    the oracle computes the same stream with one plain window.
    tests/test_plans.py asserts the doc-level window exchange is
    bucket-keyed."""
    d = t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
        f"{spark_hash('doc_id', 77)} AS h",
    )
    d = d.withColumn("bucket", F.shiftright("h", 26))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_bucket = d.withColumn("in_end", F.sum("n_tokens").over(w_in))
    totals = d.groupBy("bucket").agg(F.sum("n_tokens").alias("tot"))
    w_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("tot").over(w_b), F.lit(0)).alias("offset")
    )
    out = in_bucket.join(F.broadcast(offsets), "bucket")
    cum_end = F.col("offset") + F.col("in_end")
    cum_start = cum_end - F.col("n_tokens")
    return out.select(
        "doc_id",
        "n_tokens",
        cum_start.cast("bigint").alias("cum_start"),
        F.floor(cum_start / CAPACITY).cast("bigint").alias("first_chunk"),
        F.floor((cum_end - 1) / CAPACITY).cast("bigint").alias("last_chunk"),
    )


# ------------------------------------------ dynamic-batching padding

_PAD_BUCKET_W = 8
_PAD_BATCH = 32


@query(
    "batch_padding_waste",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR((n_tokens - 1) / {_PAD_BUCKET_W}.0) AS BIGINT) AS bucket,
             CAST(FLOOR((ROW_NUMBER() OVER (
               PARTITION BY CAST(FLOOR((n_tokens - 1) / {_PAD_BUCKET_W}.0) AS BIGINT)
               ORDER BY doc_id) - 1) / {_PAD_BATCH}.0) AS BIGINT) AS batch_idx
      FROM lens
    ),
    per_batch AS (
      SELECT bucket, batch_idx, COUNT(*) AS n_docs,
             MAX(n_tokens) AS max_len, SUM(n_tokens) AS sum_len
      FROM bucketed GROUP BY bucket, batch_idx
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_docs * max_len) AS BIGINT) AS padded_tokens,
           CAST(SUM(sum_len) AS BIGINT) AS real_tokens,
           CAST(SUM(n_docs * max_len) - SUM(sum_len) AS BIGINT) AS waste_tokens
    FROM per_batch GROUP BY bucket
    """,
)
def batch_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching padding report (the inference-serving twin of
    the training packers): documents are length-bucketed (width
    {_PAD_BUCKET_W} tokens), batched {_PAD_BATCH} at a time within
    each bucket in deterministic doc order, and every batch pads to
    its own max length.  Output per bucket: batches, docs, padded vs
    real tokens and the waste — the number that justifies (or kills)
    a bucketing strategy for vLLM/TGI-style serving.  Narrower
    buckets cut waste but shrink batches; this table is the
    trade-off, in exact integers.

    Scale shape: one window partitioned by BUCKET (the ~dozens of
    length classes — balanced, bounded cardinality), then two narrow
    aggregates.  No global sort: rank is within-bucket only, exactly
    the crawl_frontier_politeness shape with bucket as the
    partitioning domain."""
    from pyspark.sql import Window

    lens = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    bucket = F.floor((F.col("n_tokens") - 1) / _PAD_BUCKET_W).cast("bigint")
    w = Window.partitionBy("bucket").orderBy("doc_id")
    bucketed = lens.withColumn("bucket", bucket).withColumn(
        "batch_idx",
        F.floor((F.row_number().over(w) - 1) / _PAD_BATCH).cast("bigint"),
    )
    per_batch = bucketed.groupBy("bucket", "batch_idx").agg(
        F.count("*").alias("n_docs"),
        F.max("n_tokens").alias("max_len"),
        F.sum("n_tokens").alias("sum_len"),
    )
    return per_batch.groupBy("bucket").agg(
        F.count("*").alias("n_batches"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.col("n_docs") * F.col("max_len")).alias("padded_tokens"),
        F.sum("sum_len").alias("real_tokens"),
        (
            F.sum(F.col("n_docs") * F.col("max_len")) - F.sum("sum_len")
        ).alias("waste_tokens"),
    )


batch_padding_waste.__doc__ = (
    (batch_padding_waste.__doc__ or "")
    .replace("{_PAD_BUCKET_W}", str(_PAD_BUCKET_W))
    .replace("{_PAD_BATCH}", str(_PAD_BATCH))
)


# Deterministic MLM mask plan: a token at (doc_id, pos) is masked iff
# h60(doc_id:pos) % 5 == 0 (~20%), and a masked token STARTS a span
# iff pos == 0 or the previous position hashes unmasked — pure in-row
# recomputation of the neighbor's coin, no window, no shuffle.
_MLM_SEED = 9041
_MLM_POS = "doc_id || ':' || pos"
_MLM_POS_PREV = "doc_id || ':' || (pos - 1)"
_MLM_DUCK_MASK = "(" + duck_hash(_MLM_POS, _MLM_SEED, hex_digits=15) + ") % 5 = 0"
_MLM_DUCK_PREV = "(" + duck_hash(_MLM_POS_PREV, _MLM_SEED, hex_digits=15) + ") % 5 = 0"
_MLM_SPARK_MASK = "(" + spark_hash(_MLM_POS, _MLM_SEED, hex_digits=15) + ") % 5 = 0"
_MLM_SPARK_PREV = "(" + spark_hash(_MLM_POS_PREV, _MLM_SEED, hex_digits=15) + ") % 5 = 0"


@query(
    "mlm_mask_plan_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, CAST(p AS BIGINT) AS pos
      FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
            FROM documents),
           UNNEST(range(0, 100000)) AS u(p)
      WHERE p < len(ws)
    ),
    flags AS (
      SELECT doc_id, source,
             CASE WHEN {_MLM_DUCK_MASK} THEN 1 ELSE 0 END AS m,
             CASE WHEN ({_MLM_DUCK_MASK})
                   AND (pos = 0 OR NOT ({_MLM_DUCK_PREV}))
                  THEN 1 ELSE 0 END AS starts
      FROM tok
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(m) AS BIGINT) AS n_masked,
           CAST(SUM(starts) AS BIGINT) AS n_spans,
           {round_half('CAST(SUM(m) AS DOUBLE) / COUNT(*)', 6)} AS mask_rate,
           {round_half('CAST(SUM(m) AS DOUBLE) / NULLIF(SUM(starts), 0)', 6)}
             AS avg_span_len
    FROM flags GROUP BY source
    ORDER BY source
    """,
)
def mlm_mask_plan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BERT/T5-style mask-plan audit: every token draws
    its mask coin from the portable 60-bit digest of (doc_id, pos) —
    reproducible across engines, runs and partitionings, which is the
    property a training pipeline needs to resume mid-epoch or audit a
    loss spike back to the exact masked positions.  Per source:
    token/mask counts, the number of contiguous mask SPANS, the
    realized mask rate (~0.2 by construction) and mean span length
    (~1.25 for independent 20% coins — a measured deviation means the
    hash is biased, which this audit would catch).

    Span starts need NO window: the neighbor's coin is recomputed
    in-row from (doc_id, pos-1) — the plan is scan + two md5s per
    token + one source-keyed aggregate.  The position explode is
    bounded at 100k tokens/doc (any real doc chunker caps far lower;
    documented)."""
    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "w"))
        .select("doc_id", "source", F.col("pos").cast("bigint").alias("pos"))
    )
    flags = tok.selectExpr(
        "doc_id",
        "source",
        f"CASE WHEN {_MLM_SPARK_MASK} THEN 1 ELSE 0 END AS m",
        f"CASE WHEN ({_MLM_SPARK_MASK})"
        f" AND (pos = 0 OR NOT ({_MLM_SPARK_PREV})) THEN 1 ELSE 0 END AS starts",
    )
    return (
        flags.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("m").cast("bigint").alias("n_masked"),
            F.sum("starts").cast("bigint").alias("n_spans"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_tokens",
            "n_masked",
            "n_spans",
            f"{round_half('CAST(n_masked AS DOUBLE) / n_tokens', 6)} AS mask_rate",
            f"{round_half('CAST(n_masked AS DOUBLE) / NULLIF(n_spans, 0)', 6)}"
            " AS avg_span_len",
        )
        .orderBy("source")
    )

"""Advanced surface: multi-join TPC-H-style queries, pivot/unpivot,
SQL-API correlated subqueries, percentiles, the UDF/UDAF/UDTF surface
(SURVEY.md §2.7 udf_scalar / udaf_pandas / udtf), the self-verified
chain (§2.5) in echo mode, multimodal metadata, and the banded range
join (the scale path for theta joins).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from instructions_mr_spark.config import Instruction, LlmConfig, Stage
from instructions_mr_spark.functions import duck_epoch, duck_hash, round_half, spark_epoch
from instructions_mr_spark.queries._util import REVENUE, sum_d, t
from instructions_mr_spark.registry import query

# ------------------------------------------------------- TPC-H shapes


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority, {sum_d(REVENUE, 'revenue')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.expr(sum_d(REVENUE, "revenue")))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier",
    oracle=f"""
    SELECT n_name, {sum_d(REVENUE, 'revenue')}
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue: the 6-table TPC-H Q5 shape.  Dims
    broadcast (nation⋈region is bounded); supplier joins hint-free;
    the orders⋈lineitem fact join shuffles on orderkey."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    return (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == c.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == s.s_suppkey)
            & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.expr(sum_d(REVENUE, "revenue")))
    )


# ------------------------------------------------------- pivot / unpivot

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "pivot_segments",
    oracle=f"""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           {', '.join(f"COUNT(*) FILTER (WHERE c_mktsegment = '{s}') AS {s}" for s in _SEGMENTS)}
    FROM customer GROUP BY c_nationkey
    """,
)
def pivot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").cast("bigint").alias("nationkey"), "c_mktsegment")
        .groupBy("nationkey")
        .pivot("c_mktsegment", _SEGMENTS)
        .count()
        .na.fill(0, _SEGMENTS)
    )


@query(
    "unpivot_part",
    oracle="""
    SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
    UNION ALL
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    """,
)
def unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "stack(2, 'retail', p_retailprice, 'size', CAST(p_size AS DOUBLE)) AS (metric, val)",
    )


# ------------------------------------------------------- SQL API


@query(
    "sql_exists_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000)
      AND c_acctbal > 0
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API path: same Catalyst plans as the DataFrame API
    (correlated EXISTS rewrites to a semi join)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer_sq")
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM v_customer_sq c
        WHERE EXISTS (SELECT 1 FROM v_orders_sq o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000)
          AND c_acctbal > 0
        """
    )


@query(
    "agg_percentile",
    oracle=f"""
    SELECT l_returnflag,
           {round_half('quantile_cont(l_quantity, 0.5)', 4)} AS p50,
           {round_half('quantile_cont(l_quantity, 0.9)', 4)} AS p90,
           {round_half('quantile_cont(l_extendedprice, 0.5)', 4)} AS price_p50
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont).  The 100 TB path is percentile_approx — see
    agg_percentile_approx (rows-only, sketches differ by engine)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            round_half(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
            round_half(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
            round_half(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("price_p50"),
        )
    )


@query(
    "agg_percentile_approx",
    oracle=f"""
    SELECT l_returnflag,
           {round_half('quantile_cont(l_extendedprice, 0.5)', 4)} AS exact_p50,
           TRUE AS approx_in_band
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (KLL-style sketch, the 100 TB path — bounded
    memory vs exact percentile's full sort).  Sketch outputs differ by
    engine, so the checkable contract is the RANK-ERROR BOUND: with
    accuracy=1000 the estimate's rank error is ~n/1000, far inside the
    [p45, p55] exact band emitted as a pinned-TRUE boolean; the exact
    interpolated median rides along for the value hash."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("__approx"),
            round_half(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("exact_p50"),
            F.expr("percentile(l_extendedprice, 0.45)").alias("__lo"),
            F.expr("percentile(l_extendedprice, 0.55)").alias("__hi"),
        )
        .select(
            "l_returnflag",
            "exact_p50",
            F.col("__approx").between(F.col("__lo"), F.col("__hi")).alias("approx_in_band"),
        )
    )


# ------------------------------------------------------- UDF surface


@query(
    "udf_pandas_scalar",
    oracle=f"""
    SELECT o_orderkey, {round_half('1 / (1 + exp(-(o_totalprice / 500000)))', 6)} AS saturation
    FROM orders WHERE o_orderkey < 2000
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) pandas UDF — the sanctioned slow path when an
    expression genuinely needs Python.  (This one is expressible as
    F.tanh too; the point is the UDF machinery with an oracle.)"""
    import numpy as np

    @F.pandas_udf(T.DoubleType())
    def saturation(total: pd.Series) -> pd.Series:
        return np.round(1.0 / (1.0 + np.exp(-(total / 500000.0))), 6)

    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", saturation("o_totalprice").alias("saturation"))
    )


@query(
    "udaf_grouped_pandas",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS top10_sum,
           CAST(10 AS BIGINT) AS n_top
    FROM (
      SELECT c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) x
    WHERE rn <= 10 GROUP BY c_mktsegment
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via applyInPandas (one-row-per-group output): sum of
    each segment's top-10 balances.  Shuffles once on the group key;
    per-group logic is arbitrary pandas."""
    out_schema = "c_mktsegment string, top10_sum double, n_top long"

    def top10(pdf: pd.DataFrame) -> pd.DataFrame:
        top = pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).head(10)
        # float64 sum of 10 two-decimal values: exact after round(2)
        return pd.DataFrame(
            {
                "c_mktsegment": [pdf["c_mktsegment"].iloc[0]],
                "top10_sum": [round(float(top["c_acctbal"].sum()), 2)],
                "n_top": [len(top)],
            }
        )

    return (
        t(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(top10, schema=out_schema)
    )


@query(
    "udtf_tokenize",
    oracle="""
    SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 20
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one row per token with position.
    The lateral-join shape; posexplode is the built-in fast twin."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield i + 1, tok

    spark.udtf.register("imr_tokenize", Tokenize)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).createOrReplaceTempView(
        "v_docs_udtf"
    )
    return spark.sql(
        "SELECT doc_id, t.pos, t.token FROM v_docs_udtf, LATERAL imr_tokenize(text) t"
    )


# ------------------------------------------------------- self-verified chain

_SV_STAGE = Stage(
    [Instruction(name="elements", content="Extract key facts.", scope=["text", "lang"])]
)


@query(
    "sv_pipeline_echo",
    oracle="""
    SELECT doc_id,
           to_json(struct_pack(text := text, lang := lang))::VARCHAR AS p1_extract,
           'For each extracted item, find the span of the input text that '
             || 'supports it. Output a JSON array of {content, evidence} objects.'
             AS elements,
           CAST(7 AS INT) AS n_turns
    FROM documents
    """,
)
def sv_pipeline_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verified 4-phase chain (SURVEY.md §2.5) in echo mode: the
    transcript is fully deterministic — phase-1 response echoes the
    serialized scoped input, the final response echoes the evidence
    prompt, and the transcript has 7 turns (sys + user + 3x(assistant[,user]))."""
    from instructions_mr_spark.operators.selfverify import self_verified_map

    d = t(spark, sf_dir, "documents")
    out = self_verified_map(
        d, _SV_STAGE, LlmConfig(), keep_cols=["doc_id"], with_transcript=True
    )
    return out.select(
        "doc_id",
        F.col("elements__transcript")[2]["content"].alias("p1_extract"),
        "elements",
        F.size("elements__transcript").alias("n_turns"),
    )


# ------------------------------------------------------- multimodal


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS digest,
           'unknown' AS format
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata WITHOUT decode (magic sniff + digest +
    size, all JVM-side).  Payloads here are text bytes (no real media
    in the testdata); the jpeg/png sniff paths are unit-tested with
    synthetic magic bytes (tests/test_multimodal.py)."""
    from instructions_mr_spark.operators.multimodal import binary_metadata

    d = t(spark, sf_dir, "documents").withColumn("payload", F.col("text").cast("binary"))
    m = binary_metadata(d, "payload", out="meta")
    return m.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("digest"),
        F.col("meta.format").alias("format"),
    )


@query(
    "multimodal_decode_fake",
    oracle=f"""
    SELECT doc_id,
           (({duck_hash('text')} // 65536)::INT % 1920) + 1 AS width,
           (({duck_hash('text')} % 65536)::INT % 1080) + 1 AS height
    FROM documents
    """,
)
def multimodal_decode_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode stage end-to-end through its real Arrow/mapInArrow
    plumbing (operators/multimodal.decode_images), with the
    deterministic fake decoder — so the oracle verifies the batch
    schema, column threading, and the exact per-payload function, not
    just 'some rows came back'.  The real decoder swaps _decode_one's
    body for PIL; the plan is identical."""
    from instructions_mr_spark.operators.multimodal import decode_images

    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
    )
    return decode_images(d, "payload", fake=True).select(
        "doc_id", "width", "height"
    )




# ---- shared synthesized-payload builders (one byte layout per
# container, consumed by BOTH the _real decode contracts and the
# round-10 preprocessing-plan queries — a layout fix lands once)

def _be32(c):  # big-endian u32 (PNG IHDR dims, ISO-BMFF box sizes)
    return F.unhex(F.lpad(F.hex(c), 8, "0"))


def _be16(c):  # big-endian u16 (JPEG SOF dims)
    return F.unhex(F.lpad(F.hex(c), 4, "0"))


def _le16(c):  # little-endian u16 (GIF dims, RIFF shorts)
    hx = F.lpad(F.hex(c), 4, "0")
    return F.unhex(F.concat(F.substring(hx, 3, 2), F.substring(hx, 1, 2)))


def _le32(c):  # little-endian u32 (RIFF sizes)
    hx = F.lpad(F.hex(c), 8, "0")
    return F.unhex(
        F.concat(
            F.substring(hx, 7, 2),
            F.substring(hx, 5, 2),
            F.substring(hx, 3, 2),
            F.substring(hx, 1, 2),
        )
    )


def _synth_image_payload():
    """(payload Column) — doc_id-derived PNG/JPEG/GIF header bytes.
    Dim formulas: width = doc_id*37 % 4000 + 1, height = doc_id*91
    % 3000 + 1, format = doc_id % 3 (png/jpeg/gif)."""
    w = (F.col("doc_id") * 37 % 4000 + 1).cast("int")
    h = (F.col("doc_id") * 91 % 3000 + 1).cast("int")
    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),
        F.lit(b"\x00\x00\x00\x0dIHDR"),
        _be32(w),
        _be32(h),
        F.lit(b"\x08\x06\x00\x00\x00"),
    )
    jpeg = F.concat(
        F.lit(b"\xff\xd8"),
        F.lit(b"\xff\xc0\x00\x11\x08"),
        _be16(h),
        _be16(w),
        F.lit(b"\x03"),
    )
    gif = F.concat(F.lit(b"GIF89a"), _le16(w), _le16(h), F.lit(b"\x00"))
    mod3 = (F.col("doc_id") % 3).cast("int")
    return F.when(mod3 == 0, png).when(mod3 == 1, jpeg).otherwise(gif)


def _synth_wav_payload():
    """(payload Column) — doc_id-derived RIFF/WAVE header bytes.
    Param formulas: channels = doc_id % 2 + 1, sample_rate from a
    4-entry table on doc_id % 4, n_samples = doc_id % 1000 + 1."""
    ch = (F.col("doc_id") % 2 + 1).cast("int")
    sr = F.element_at(
        F.array(F.lit(8000), F.lit(16000), F.lit(22050), F.lit(44100)),
        (F.col("doc_id") % 4).cast("int") + 1,
    )
    n = (F.col("doc_id") % 1000 + 1).cast("int")
    data_size = n * ch * 2
    byte_rate = sr * ch * 2
    block = ch * 2
    return F.concat(
        F.lit(b"RIFF"),
        _le32(data_size + 36),
        F.lit(b"WAVE"),
        F.lit(b"fmt "),
        F.lit(b"\x10\x00\x00\x00"),  # fmt chunk size 16
        F.lit(b"\x01\x00"),  # PCM
        _le16(ch),
        _le32(sr),
        _le32(byte_rate),
        _le16(block),
        F.lit(b"\x10\x00"),  # 16 bits/sample
        F.lit(b"data"),
        _le32(data_size),
    )


def _synth_mp4_payload():
    """(payload Column) — doc_id-derived ISO-BMFF box tree (ftyp +
    moov[mvhd + N traks]).  Param formulas: timescale from a 4-entry
    table on doc_id % 4, duration = doc_id*1001 % 100000 + 1,
    n_tracks = doc_id % 3 + 1."""
    ts = F.element_at(
        F.array(F.lit(600), F.lit(1000), F.lit(90000), F.lit(24000)),
        (F.col("doc_id") % 4).cast("int") + 1,
    )
    dur = (F.col("doc_id") * 1001 % 100000 + 1).cast("int")
    ntrak = (F.col("doc_id") % 3 + 1).cast("int")
    ftyp = F.concat(_be32(F.lit(16)), F.lit(b"ftyp"), F.lit(b"isomiso2"))
    mvhd = F.concat(
        _be32(F.lit(28)),
        F.lit(b"mvhd"),
        F.lit(b"\x00\x00\x00\x00"),  # version 0 + flags
        F.lit(b"\x00" * 8),  # creation/modification time
        _be32(ts),
        _be32(dur),
    )
    trak = F.concat(_be32(F.lit(8)), F.lit(b"trak"))
    traks = F.aggregate(
        F.sequence(F.lit(1), ntrak),
        F.lit(b""),
        lambda acc, _i: F.concat(acc, trak),
    )
    moov = F.concat(_be32(F.lit(36) + ntrak * 8), F.lit(b"moov"), mvhd, traks)
    return F.concat(ftyp, moov)


@query(
    "multimodal_decode_real",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
           CAST((doc_id * 37) % 4000 + 1 AS INT) AS width,
           CAST((doc_id * 91) % 3000 + 1 AS INT) AS height
    FROM documents
    """,
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL header decode, no fake and no PIL: JVM-side expressions
    synthesize valid PNG IHDR / JPEG SOF0 / GIF screen-descriptor bytes
    with dims derived from doc_id, and parse_image_dims (stdlib struct
    parsing in the mapInArrow kernel) must recover exactly those dims
    from the binary layout.  The oracle recomputes the dims from the
    same doc_id formulas — a hash mismatch means the byte layout or the
    parser is wrong.  Reference: no media surface at all (SURVEY §2.6);
    this is the EXT multimodal-metadata contract."""
    from instructions_mr_spark.operators.multimodal import decode_image_headers

    d = t(spark, sf_dir, "documents").select(
        "doc_id", _synth_image_payload().alias("payload")
    )
    return decode_image_headers(d, "payload").select(
        "doc_id", "format", "width", "height"
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           unnest(range(0, (strlen(text) % 50) + 10, 10))::INT AS frame_idx,
           20 AS frame_bytes
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (one row per sampled frame) with
    the deterministic fake.  The sha1 frame payloads aren't
    reproducible in DuckDB (no sha1 function), so the oracle pins the
    full FAN-OUT CONTRACT instead: exact frame indices per document
    (one per every_n up to the payload-derived frame count) and the
    20-byte sha1 digest length — schema, explode shape, and batch
    threading all hash-checked."""
    from instructions_mr_spark.operators.multimodal import sample_frames

    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
    )
    frames = sample_frames(d, "payload", id_col="doc_id", every_n=10, fake=True)
    return frames.select(
        "doc_id", "frame_idx", F.length("frame").alias("frame_bytes")
    )


# ------------------------------------------------------- banded range join


@query(
    "join_range_banded",
    oracle="""
    SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
           CAST(CAST(a.s_acctbal AS DECIMAL(12,2)) - CAST(b.s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal_gap
    FROM supplier a JOIN supplier b
      ON a.s_suppkey < b.s_suppkey
     AND a.s_acctbal BETWEEN b.s_acctbal - 500 AND b.s_acctbal + 500
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as join_theta_range, but the scale path: band the
    range key into width-500 buckets, explode one side to its 3
    adjacent buckets, equi-join on bucket, then refine with the exact
    predicate (the bucketed-theta-join family of Okcan & Riedewald,
    "Processing theta-joins using MapReduce", SIGMOD 2011).  Catalyst gets a hash-joinable key instead of a
    nested-loop theta join — at 100 TB this is the difference between
    a shuffle join and a broadcast-nested-loop explosion."""
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    a = s.select(
        F.col("s_suppkey").alias("a_key"),
        F.col("s_acctbal").alias("a_bal"),
        F.floor(F.col("s_acctbal") / 500).alias("bucket"),
    )
    b = s.select(
        F.col("s_suppkey").alias("b_key"),
        F.col("s_acctbal").alias("b_bal"),
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / 500) - 1,
                F.floor(F.col("s_acctbal") / 500),
                F.floor(F.col("s_acctbal") / 500) + 1,
            )
        ).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("a_key") < F.col("b_key"))
            & (F.col("a_bal") >= F.col("b_bal") - 500)
            & (F.col("a_bal") <= F.col("b_bal") + 500)
        )
        .select(
            F.col("a_key").alias("supp_a"),
            F.col("b_key").alias("supp_b"),
            F.expr(
                "CAST(CAST(a_bal AS DECIMAL(12,2)) - CAST(b_bal AS DECIMAL(12,2)) AS DOUBLE)"
            ).alias("bal_gap"),
        )
    )


@query(
    "udaf_grouped_arrow",
    oracle="""
    SELECT c_mktsegment,
           CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS min_bal,
           CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal,
           COUNT(*) AS n
    FROM customer GROUP BY c_mktsegment
    """,
)
def udaf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregation via applyInArrow — the zero-copy
    sibling of applyInPandas: per-group logic runs directly on
    pyarrow Tables (no pandas conversion), the right boundary when the
    group fits in one Arrow batch and the kernel is expressible with
    pyarrow.compute.  Shuffles once on the group key."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from instructions_mr_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    out_schema = "c_mktsegment string, min_bal double, max_bal double, n long"

    def minmax(tbl: pa.Table) -> pa.Table:
        bal = tbl["c_acctbal"]
        return pa.table(
            {
                "c_mktsegment": [tbl["c_mktsegment"][0].as_py()],
                "min_bal": [round(pc.min(bal).as_py(), 2)],
                "max_bal": [round(pc.max(bal).as_py(), 2)],
                "n": [tbl.num_rows],
            }
        )

    return (
        t(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInArrow(minmax, schema=out_schema)
    )


@query(
    "udtf_dynamic_topn",
    oracle="""
    SELECT doc_id, w AS tok1, lead1 AS tok2 FROM (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             unnest(string_split(text, ' ')[2:]
                    || [CAST(NULL AS VARCHAR)]) AS lead1,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents WHERE doc_id < 10
    ) WHERE pos <= 3
    """,
)
def udtf_dynamic_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze`` static method):
    the output schema — how many leading token columns to emit — is
    computed at PLAN time from a constant argument, the dynamic-schema
    table function the fixed-returnType UDTF can't express.  Here
    n=2: first 3 positions emit (token, next-token) pairs."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
    from pyspark.sql import types as T

    class LeadTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            width = int(n.value)
            fields = [T.StructField(f"tok{i + 1}", T.StringType()) for i in range(width)]
            return AnalyzeResult(schema=T.StructType(fields))

        def eval(self, text: str, n: int):
            toks = text.split(" ")
            for i in range(min(3, len(toks))):
                yield tuple(
                    toks[i + j] if i + j < len(toks) else None for j in range(n)
                )

    spark.udtf.register("imr_lead_tokens", udtf(LeadTokens))
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10).createOrReplaceTempView(
        "v_docs_dyn_udtf"
    )
    return spark.sql(
        "SELECT doc_id, t.tok1, t.tok2 "
        "FROM v_docs_dyn_udtf, LATERAL imr_lead_tokens(text, 2) t"
    )


@query(
    "multimodal_audio_real",
    oracle="""
    SELECT doc_id,
           'wav' AS format,
           CAST(CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 8000 WHEN 1 THEN 16000
             WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
           CAST(doc_id % 2 + 1 AS INT) AS channels,
           CAST(doc_id % 1000 + 1 AS INT) AS n_samples
    FROM documents
    """,
)
def multimodal_audio_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE header decode, no fake and no audio lib: JVM-side
    expressions synthesize a valid WAV header (RIFF size, fmt chunk
    with channels/sample-rate/block-align, data chunk size) with
    parameters derived from doc_id, and parse_audio_meta (stdlib
    struct parsing in the mapInArrow kernel) must walk the chunk
    layout and recover exactly those parameters.  The oracle recomputes
    them from the same doc_id formulas — a hash mismatch means the
    byte layout or the chunk walker is wrong.  The audio twin of
    multimodal_decode_real."""
    from instructions_mr_spark.operators.multimodal import decode_audio_headers

    d = t(spark, sf_dir, "documents").select(
        "doc_id", _synth_wav_payload().alias("payload")
    )
    return decode_audio_headers(d, "payload").select(
        "doc_id", "format", "sample_rate", "channels", "n_samples"
    )


@query(
    "multimodal_video_real",
    oracle="""
    SELECT doc_id,
           'mp4' AS format,
           CAST(CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 600 WHEN 1 THEN 1000
             WHEN 2 THEN 90000 ELSE 24000 END AS INT) AS timescale,
           CAST(doc_id * 1001 % 100000 + 1 AS BIGINT) AS duration,
           CAST(doc_id % 3 + 1 AS INT) AS n_tracks
    FROM documents
    """,
)
def multimodal_video_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF (MP4) header decode, no fake and no ffmpeg:
    JVM-side expressions synthesize a valid box tree (ftyp, moov
    containing an mvhd movie header and N empty trak boxes, every box
    size correct) with parameters derived from doc_id, and
    parse_video_meta (stdlib box walker in the mapInArrow kernel)
    must recurse the tree and recover exactly those parameters.
    Completes the REAL-header-decode trio with multimodal_decode_real
    (image) and multimodal_audio_real (audio)."""
    from instructions_mr_spark.operators.multimodal import decode_video_headers

    d = t(spark, sf_dir, "documents").select(
        "doc_id", _synth_mp4_payload().alias("payload")
    )
    return decode_video_headers(d, "payload").select(
        "doc_id", "format", "timescale", "duration", "n_tracks"
    )


@query(
    "multimodal_tile_plan",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST((doc_id * 37) % 4000 + 1 AS BIGINT) AS width,
             CAST((doc_id * 91) % 3000 + 1 AS BIGINT) AS height
      FROM documents
    ),
    grids AS (
      SELECT doc_id, width, height,
             LEAST(4, GREATEST(1, width // 224)) AS nx,
             LEAST(4, GREATEST(1, height // 224)) AS ny
      FROM dims
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS tile_x, CAST(j AS BIGINT) AS tile_y,
           CAST(i * 224 AS BIGINT) AS x0, CAST(j * 224 AS BIGINT) AS y0,
           CAST(LEAST(224, width - i * 224) AS BIGINT) AS w,
           CAST(LEAST(224, height - j * 224) AS BIGINT) AS h
    FROM grids, generate_series(0, 3) AS gx(i), generate_series(0, 3) AS gy(j)
    WHERE i < nx AND j < ny
    ORDER BY doc_id, tile_x, tile_y
    """,
)
def multimodal_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style tile grid over REAL decoded image headers: from each
    image's (width, height) — recovered by the stdlib PNG/JPEG/GIF
    header parser, not from the synthesis formulas — plan a grid of
    224x224 patches (up to 4x4 per image; edge tiles clamped to the
    image), as exact integer origins and sizes.  The vision-encoder
    preprocessing seam: the patch EXTRACTION needs an image lib this
    container lacks; the schedule is the contract the extraction
    kernel plugs into.

    Scale shape: header synthesis + Arrow-batched parse per row; the
    grid is an in-row double sequence explode (<= 16 rows/image); no
    shuffle."""
    from instructions_mr_spark.operators.multimodal import decode_image_headers

    d = t(spark, sf_dir, "documents").select(
        "doc_id", _synth_image_payload().alias("payload")
    )
    dims = decode_image_headers(d, "payload").select(
        "doc_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
    )
    grids = dims.selectExpr(
        "doc_id",
        "width",
        "height",
        "LEAST(4, GREATEST(1, width DIV 224)) AS nx",
        "LEAST(4, GREATEST(1, height DIV 224)) AS ny",
    )
    return (
        grids.select(
            "*", F.explode(F.expr("sequence(0, CAST(nx - 1 AS INT))")).alias("i")
        )
        .select(
            "*", F.explode(F.expr("sequence(0, CAST(ny - 1 AS INT))")).alias("j")
        )
        .selectExpr(
            "doc_id",
            "CAST(i AS BIGINT) AS tile_x",
            "CAST(j AS BIGINT) AS tile_y",
            "CAST(i * 224 AS BIGINT) AS x0",
            "CAST(j * 224 AS BIGINT) AS y0",
            "CAST(LEAST(224, width - i * 224) AS BIGINT) AS w",
            "CAST(LEAST(224, height - j * 224) AS BIGINT) AS h",
        )
        .orderBy("doc_id", "tile_x", "tile_y")
    )


@query(
    "multimodal_audio_chunk_plan",
    oracle="""
    WITH meta AS (
      SELECT doc_id,
             CAST(CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 8000 WHEN 1 THEN 16000
               WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
             CAST(doc_id % 1000 + 1 AS BIGINT) AS n_samples
      FROM documents
    ),
    planned AS (
      SELECT doc_id, sample_rate, n_samples,
             sample_rate // 50 AS win,
             GREATEST(1, sample_rate // 100) AS hop
      FROM meta
    ),
    counted AS (
      SELECT *, LEAST(8, CASE WHEN n_samples >= win
                   THEN (n_samples - win) // hop + 1 ELSE 1 END) AS n_chunks
      FROM planned
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * hop AS BIGINT) AS start_sample,
           CAST(LEAST(i * hop + win, n_samples) AS BIGINT) AS end_sample
    FROM counted, generate_series(0, 7) AS g(i)
    WHERE i < n_chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def multimodal_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 ms / 50%-hop windowing schedule over REAL decoded WAV
    headers: from each file's (sample_rate, n_samples) — recovered by
    the stdlib RIFF chunk walker, not the synthesis formulas — plan
    up to 8 analysis windows (win = sr/50 samples, hop = win/2) as
    exact integer sample offsets.  The feature-extraction seam (MFCC
    / mel filterbank kernels plug in here); completes the
    image-tile / video-frame / audio-window preprocessing-plan trio.

    Scale shape: header synthesis + Arrow-batched chunk walk per row;
    in-row sequence explode (<= 8 rows per file); no shuffle."""
    from instructions_mr_spark.operators.multimodal import decode_audio_headers

    d = t(spark, sf_dir, "documents").select(
        "doc_id", _synth_wav_payload().alias("payload")
    )
    meta = decode_audio_headers(d, "payload").select(
        "doc_id",
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
    )
    counted = meta.selectExpr(
        "doc_id",
        "sample_rate",
        "n_samples",
        "sample_rate DIV 50 AS win",
        "GREATEST(1, sample_rate DIV 100) AS hop",
    ).selectExpr(
        "*",
        "LEAST(8, CASE WHEN n_samples >= win"
        " THEN (n_samples - win) DIV hop + 1 ELSE 1 END) AS n_chunks",
    )
    return (
        counted.select(
            "*",
            F.explode(F.expr("sequence(0, CAST(n_chunks - 1 AS INT))")).alias("i"),
        )
        .selectExpr(
            "doc_id",
            "CAST(i AS BIGINT) AS chunk_idx",
            "CAST(i * hop AS BIGINT) AS start_sample",
            "CAST(LEAST(i * hop + win, n_samples) AS BIGINT) AS end_sample",
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "multimodal_frame_sample_plan",
    oracle="""
    WITH meta AS (
      SELECT doc_id,
             CAST(CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 600 WHEN 1 THEN 1000
               WHEN 2 THEN 90000 ELSE 24000 END AS BIGINT) AS timescale,
             CAST(doc_id * 1001 % 100000 + 1 AS BIGINT) AS duration
      FROM documents
    ),
    planned AS (
      SELECT doc_id, timescale, duration,
             LEAST(8, GREATEST(1, (duration * 1000 // timescale) // 500))
               AS n_frames
      FROM meta
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS frame_idx,
           CAST(i * duration // n_frames AS BIGINT) AS t_units,
           CAST((i * duration // n_frames) * 1000 // timescale AS BIGINT)
             AS t_ms
    FROM planned, generate_series(0, 7) AS g(i)
    WHERE i < n_frames
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling schedule over REAL decoded video headers — the
    step a video-training pipeline runs between 'decode container
    metadata' and 'extract frames': from each MP4's (timescale,
    duration), recovered by the SAME stdlib ISO-BMFF box walker as
    multimodal_video_real (not from the synthesis formulas), plan up
    to 8 uniformly-spaced sample points, one per >= 500 ms of media,
    as exact integer media-units and milliseconds.  The oracle
    recomputes the schedule from the doc_id-derived header parameters
    — a mismatch means either the box walker or the schedule
    arithmetic drifted.  The frame DECODE itself needs codec
    libraries this container lacks; the schedule is the Spark-side
    contract a decode kernel plugs into (same mapInArrow shape as
    the header walkers).

    Scale shape: header synthesis + Arrow-batched header walk are
    per-row; the schedule is an in-row sequence explode (<= 8 rows
    per video); no shuffle anywhere until a consumer aggregates."""
    from instructions_mr_spark.operators.multimodal import decode_video_headers

    d = t(spark, sf_dir, "documents").select(
        "doc_id", _synth_mp4_payload().alias("payload")
    )
    decoded = decode_video_headers(d, "payload").select(
        "doc_id",
        F.col("timescale").cast("bigint").alias("timescale"),
        F.col("duration").cast("bigint").alias("duration"),
    )
    planned = decoded.selectExpr(
        "doc_id",
        "timescale",
        "duration",
        "LEAST(8, GREATEST(1, (duration * 1000 DIV timescale) DIV 500))"
        " AS n_frames",
    )
    return (
        planned.select(
            "doc_id",
            "timescale",
            "duration",
            "n_frames",
            F.explode(F.expr("sequence(0, CAST(n_frames - 1 AS INT))")).alias("i"),
        )
        .selectExpr(
            "doc_id",
            "CAST(i AS BIGINT) AS frame_idx",
            "CAST(i * duration DIV n_frames AS BIGINT) AS t_units",
            "CAST((i * duration DIV n_frames) * 1000 DIV timescale AS BIGINT)"
            " AS t_ms",
        )
        .orderBy("doc_id", "frame_idx")
    )


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT o_orderkey,
           upper(substr(o_orderpriority, 1, 1)) || CAST(o_orderkey % 10 AS VARCHAR)
             AS tag
    FROM orders WHERE o_orderkey < 2000
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (``useArrow=True``, SPARK-40307) —
    the third UDF execution surface next to the pandas UDF and plain
    pickled UDF: row-at-a-time Python semantics but Arrow-batched
    transfer, so it sits between them in cost.  Registered for API
    parity; the engine's own operators never use this path (the
    no-Python-stage plan guard pins that)."""

    @F.udf(T.StringType(), useArrow=True)
    def tag(priority: str, key: int) -> str:
        return priority[0].upper() + str(key % 10)

    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", tag("o_orderpriority", "o_orderkey").alias("tag"))
    )


@query(
    "cogrouped_pandas_event_order_merge",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id,
             {duck_epoch('ts', 's')} AS sec
      FROM events
    ),
    o AS (
      SELECT o_custkey AS user_id,
             {duck_epoch('o_orderdate', 's')} AS osec
      FROM orders
    ),
    matched AS (
      SELECT e.user_id, e.event_id, e.sec, MAX(o.osec) AS osec
      FROM e LEFT JOIN o ON o.user_id = e.user_id AND o.osec <= e.sec
      GROUP BY e.user_id, e.event_id, e.sec
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(osec) AS BIGINT) AS n_matched,
           CAST(COALESCE(SUM(sec - osec), 0) AS BIGINT) AS gap_sum_sec
    FROM matched GROUP BY user_id
    ORDER BY user_id
    """,
)
def cogrouped_pandas_event_order_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cogrouped-pandas API surface (``groupBy().cogroup(...)
    .applyInPandas``): events and orders shuffle ONCE each on the
    user key, and each user's two frames meet in a single pandas
    ``merge_asof`` — the per-entity two-stream merge shape (sensor +
    maintenance-log, click + purchase) that would otherwise need a
    range join.  Per user: events, events with a preceding order, and
    the summed event-to-latest-order gap.

    The oracle is the equivalent SQL as-of (LEFT JOIN on osec <= sec,
    MAX per event) — the cogroup path must reproduce it exactly,
    which pins both the API mechanics (keys present on either side,
    empty frames) and merge_asof's allow_exact_matches=True default.

    Scale shape: two BUCKET-keyed exchanges (user_id % 256 — one
    pandas call per bucket, not per user: per-user cogroups pay ~2 ms
    of Python per key and die by a thousand cuts on high-cardinality
    keys; measured 27.6 s -> ~1 s at sf0.1).  Inside a bucket the
    grouped as-of is ONE vectorized ``merge_asof(by='user_id')``,
    then a pandas groupby emits one row per user."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr(spark_epoch("ts", "s")).alias("sec")
    ).withColumn("bkt", F.pmod("user_id", F.lit(256)))
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.expr(spark_epoch("o_orderdate", "s")).alias("osec"),
    ).withColumn("bkt", F.pmod("user_id", F.lit(256)))
    out_schema = "user_id long, n_events long, n_matched long, gap_sum_sec long"

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:  # bucket has orders but no events: no output rows
            return pd.DataFrame(
                {"user_id": [], "n_events": [], "n_matched": [], "gap_sum_sec": []}
            ).astype("int64")
        ev = left.sort_values(["sec", "user_id", "event_id"]).reset_index(drop=True)
        od = right.sort_values(["osec", "user_id"]).reset_index(drop=True)
        if od.empty:
            m = ev.assign(osec=pd.NA)
        else:
            # allow_exact_matches=True: an order ON the event second matches
            m = pd.merge_asof(
                ev,
                od.rename(columns={"osec": "osec"})[["osec", "user_id"]],
                left_on="sec",
                right_on="osec",
                by="user_id",
            )
        m["matched"] = m["osec"].notna()
        m["gap"] = (m["sec"] - m["osec"]).where(m["matched"], 0)
        g = m.groupby("user_id", sort=True).agg(
            n_events=("sec", "size"),
            n_matched=("matched", "sum"),
            gap_sum_sec=("gap", "sum"),
        )
        return g.reset_index().astype("int64")

    return (
        e.groupBy("bkt")
        .cogroup(o.groupBy("bkt"))
        .applyInPandas(merge, schema=out_schema)
        .orderBy("user_id")
    )


@query(
    "pandas_grouped_agg_udf",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(cents) AS BIGINT) AS top3_cents,
           CAST(MAX(nseg) AS BIGINT) AS n_customers
    FROM (
      SELECT c_mktsegment,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS nseg
      FROM customer
    ) x
    WHERE rn <= 3
    GROUP BY c_mktsegment, nseg
    ORDER BY c_mktsegment
    """,
)
def pandas_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the third pandas-on-Spark aggregation
    surface (vs applyInPandas' full-frame callback and applyInArrow's
    batches): a ``@pandas_udf`` whose function takes Series and
    returns ONE scalar, usable directly inside ``.agg()`` (here: sum
    of each segment's top-3 balance cents, plus a pandas-side count).
    The API LIMITATION this op pins: Spark refuses to mix a
    GROUPED_AGG pandas UDF with JVM aggregates in the same .agg()
    (INVALID_PANDAS_UDF_PLACEMENT) — every aggregate in the call must
    cross the Arrow boundary together, so the count is a second
    pandas UDF, not F.count.

    Exactness: the UDF sorts (cents, custkey) descending and sums the
    top 3 INTEGER cents — no float path.

    Scale shape: one segment-keyed exchange; Arrow-batched Series in,
    scalars out."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def top3_cents(cents: pd.Series, custkey: pd.Series) -> int:
        df = pd.DataFrame({"c": cents, "k": custkey})
        top = df.sort_values(["c", "k"], ascending=[False, True]).head(3)
        return int(top["c"].sum())

    @pandas_udf("long")
    def n_rows(cents: pd.Series) -> int:
        return int(len(cents))

    return (
        t(spark, sf_dir, "customer")
        .selectExpr(
            "c_mktsegment",
            "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents",
            "c_custkey",
        )
        .groupBy("c_mktsegment")
        .agg(
            top3_cents(F.col("cents"), F.col("c_custkey")).alias("top3_cents"),
            n_rows(F.col("cents")).alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "pandas_udf_over_window",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS custkey,
           c_mktsegment,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                OVER (PARTITION BY c_mktsegment) AS BIGINT) AS seg_cents,
           CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS own_cents
    FROM customer
    WHERE c_custkey < 200
    ORDER BY custkey
    """,
)
def pandas_udf_over_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF in WINDOW position — the fourth and
    last pandas placement (scalar select / grouped agg / grouped
    window): the same Series-to-scalar function evaluates once per
    partition over an unbounded frame and broadcasts back onto every
    row, exactly like a built-in analytic.  Pinned against the native
    SUM OVER oracle so the Arrow path must agree to the cent.  (The
    placement matters operationally: a pandas window UDF ships the
    whole partition's column through Arrow — bounded partitions only;
    this demo slices the key range.)

    Scale shape: one segment-keyed window exchange on the bounded
    slice; Arrow ships one Series per partition."""
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def cents_sum(cents: pd.Series) -> int:
        return int(cents.sum())

    w = Window.partitionBy("c_mktsegment")
    return (
        t(spark, sf_dir, "customer")
        .filter("c_custkey < 200")
        .selectExpr(
            "CAST(c_custkey AS BIGINT) AS custkey",
            "c_mktsegment",
            "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS own_cents",
        )
        .select(
            "custkey",
            "c_mktsegment",
            cents_sum(F.col("own_cents")).over(w).alias("seg_cents"),
            "own_cents",
        )
        .orderBy("custkey")
    )

"""Scalar function families (SURVEY.md §2.7: scalar_string,
scalar_datetime, scalar_math, scalar_array_map, json_extract) plus the
reference's only scalar ops re-expressed relationally (json_clean,
any_to_str are covered in reference_core).

All JVM-side built-ins — these stay inside WholeStageCodegen; nothing
here crosses the Python boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_dot, round_half
from instructions_mr_spark.queries._util import t
from instructions_mr_spark.registry import query


@query(
    "scalar_string",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_uc,
           LOWER(p_brand) AS brand_lc,
           LENGTH(p_name) AS name_len,
           SUBSTRING(p_type, 1, 5) AS type5,
           REPLACE(p_type, ' ', '_') AS type_us,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS is_green,
           TRIM(p_name) AS name_trim,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_pad
    FROM part
    """,
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_uc"),
        F.lower("p_brand").alias("brand_lc"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("is_green"),
        F.trim("p_name").alias("name_trim"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
    )


@query(
    "scalar_regexp",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)', 1) AS first_word,
           LENGTH(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len,
           CASE WHEN regexp_matches(text, 'join|merge') THEN 1 ELSE 0 END AS mentions_join
    FROM documents
    """,
)
def scalar_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace("text", r"[aeiou]", "")).cast("bigint").alias("novowel_len"),
        F.when(F.col("text").rlike("join|merge"), 1).otherwise(0).alias("mentions_join"),
    )


@query(
    "scalar_datetime",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS yr,
           EXTRACT(month FROM o_orderdate) AS mo,
           EXTRACT(day FROM o_orderdate) AS dy,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           DATE_DIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch92,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_ts
    FROM orders
    """,
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dy"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_epoch92"),
        (F.col("o_orderdate").cast("date") + F.expr("INTERVAL 30 DAY"))
        .cast("timestamp")
        .alias("due_ts"),
    )


@query(
    "scalar_math",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ABS(l_quantity - 25) AS dev25,
           CAST(CEIL(l_quantity / 7) AS BIGINT) AS q7,
           CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k,
           {round_half('SQRT(l_quantity)', 6)} AS sqrt_q,
           {round_half('LN(l_extendedprice)', 6)} AS ln_price,
           CAST(l_quantity AS BIGINT) % 5 AS mod5,
           POWER(2, CAST(l_linenumber AS INT)) AS pow2
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("dev25"),
        F.ceil(F.col("l_quantity") / 7).alias("q7"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k"),
        round_half(F.sqrt("l_quantity"), 6).alias("sqrt_q"),
        round_half(F.log("l_extendedprice"), 6).alias("ln_price"),
        (F.col("l_quantity").cast("bigint") % 5).alias("mod5"),
        F.pow(F.lit(2), F.col("l_linenumber").cast("int")).alias("pow2"),
    )


@query(
    "scalar_array_map",
    oracle=f"""
    SELECT vec_id,
           len(embedding) AS dim,
           {round_half('CAST(embedding[1] AS DOUBLE)', 6)} AS first_val,
           {round_half(f"{duck_dot('embedding', 'embedding', 8)}", 6)} AS sumsq8,
           len(list_filter(embedding, x -> x > 0)) AS n_pos
    FROM embeddings
    """,
)
def scalar_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/aggregate) — the
    JVM-side way to compute over array<float> embedding columns without
    any UDF."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        round_half(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        round_half(
            F.aggregate(
                F.slice("embedding", 1, 8),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            6,
        ).alias("sumsq8"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_pos"),
    )


@query(
    "json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_num,
           CASE WHEN json_extract(props, '$.missing') IS NULL THEN 1 ELSE 0 END AS miss_flag
    FROM events
    """,
)
def json_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Querying the reference's JSON-string payload columns
    (SURVEY.md §2.7 json_extract; the reference stores whole records
    as JSON text — events.props models that)."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_num"),
        F.when(F.get_json_object("props", "$.missing").isNull(), 1).otherwise(0).alias("miss_flag"),
    )


@query(
    "scalar_conditional",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_masked,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_class,
           GREATEST(c_acctbal, 0.0) AS bal_floor,
           LEAST(CAST(c_nationkey AS BIGINT), 10) AS nk_cap
    FROM customer
    """,
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "seg_masked"
        ),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_class"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_nationkey").cast("bigint"), F.lit(10)).alias("nk_cap"),
    )


@query(
    "scalar_try_cast",
    oracle="""
    SELECT doc_id,
           TRY_CAST(raw_num AS BIGINT) AS as_int,
           TRY_CAST(raw_date AS DATE) AS as_date,
           CASE WHEN den = 0 THEN NULL ELSE CAST(10.0 / den AS DOUBLE) END AS safe_div
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR) ELSE 'not-a-number' END AS raw_num,
             CASE WHEN doc_id % 2 = 0 THEN '2024-01-15' ELSE 'bogus' END AS raw_date,
             doc_id % 4 AS den
      FROM documents
    )
    """,
)
def scalar_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe casting for dirty inputs — try_cast/try_to_date/try_divide
    return NULL instead of failing the job: the difference between one
    bad record poisoning a 100 TB batch and a quarantine column.  Bad
    values are injected deterministically so both engines see
    identical dirt."""
    d = t(spark, sf_dir, "documents")
    raw_num = F.when(
        F.col("doc_id") % 3 == 0, F.col("doc_id").cast("string")
    ).otherwise(F.lit("not-a-number"))
    raw_date = F.when(F.col("doc_id") % 2 == 0, F.lit("2024-01-15")).otherwise(
        F.lit("bogus")
    )
    den = F.col("doc_id") % 4
    return d.select(
        "doc_id",
        raw_num.try_cast("bigint").alias("as_int"),
        raw_date.try_cast("date").alias("as_date"),
        F.try_divide(F.lit(10.0), den).alias("safe_div"),
    )


@query(
    "variant_extract",
    oracle="""
    SELECT event_id,
           CAST(props->>'k' AS BIGINT) AS k,
           CASE WHEN json_valid(props) THEN 'OBJECT' ELSE NULL END AS vtype
    FROM events
    """,
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json -> binary variant -> typed path extraction
    (try_variant_get) + schema introspection (schema_of_variant).
    VARIANT is the modern lake answer to JSON-string columns — parsed
    once at ingest, fielded access without re-parsing per query; the
    oracle states the same extraction over the raw JSON text."""
    e = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.when(F.schema_of_variant(v).startswith("OBJECT"), "OBJECT").alias("vtype"),
    )


@query(
    "collation_ci_group",
    oracle="""
    SELECT lower(lang) AS lang_ci,
           COUNT(*) AS n,
           COUNT(DISTINCT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END)
             AS n_case_variants
    FROM documents GROUP BY lower(lang)
    """,
)
def collation_ci_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive semantics via Spark 4 COLLATION (UTF8_LCASE):
    a mixed-case column (every other row uppercased) groups under a
    collated key — the engine-level answer to case normalization that
    previously needed explicit lower() at every comparison site.  The
    stable output key is lower()ed (a collation group's representative
    is first-seen, not deterministic); the distinct count shows the
    collation really merged multiple raw spellings."""
    d = t(spark, sf_dir, "documents")
    mixed = F.when(F.col("doc_id") % 2 == 0, F.upper("lang")).otherwise(F.col("lang"))
    return (
        d.select(F.collate(mixed, "UTF8_LCASE").alias("lang_coll"), mixed.alias("raw"))
        .groupBy("lang_coll")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(F.collate(F.col("raw"), "UTF8_BINARY")).alias(
                "n_case_variants"
            ),
        )
        .select(F.lower(F.col("lang_coll")).alias("lang_ci"), "n", "n_case_variants")
    )


@query(
    "try_arithmetic_nulls",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity = 25 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_div_null,
           CAST(SUM(CASE WHEN l_quantity = 25 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_div_ok,
           CAST(COUNT(*) AS BIGINT) AS n_add_overflow_null
    FROM lineitem
    """,
)
def try_arithmetic_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* arithmetic contract: TRY_DIVIDE by an expression that
    hits zero (quantity - 25) returns NULL instead of raising, and
    TRY_ADD past BIGINT max returns NULL instead of overflowing —
    counted over the corpus so the NULL-on-error semantics are pinned
    as totals, not anecdotes.  The oracle states the CONTRACT
    directly (rows with quantity = 25 are exactly the divide-nulls;
    every row overflows max + GREATEST(partkey, 1) — the clamp matters
    because the synthetic corpus has a few partkey-0 rows where
    max + 0 would NOT overflow), which is the point: the
    engine's error-free arithmetic must land exactly on the
    predictable set.

    Scale shape: one map-side-combinable conditional aggregate over
    the scan — single row out, no shuffle beyond the final reduce."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr(
            "CAST(SUM(CASE WHEN try_divide(l_extendedprice,"
            " l_quantity - 25) IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_div_null"),
        F.expr(
            "CAST(SUM(CASE WHEN try_divide(l_extendedprice,"
            " l_quantity - 25) IS NULL THEN 0 ELSE 1 END) AS BIGINT)"
        ).alias("n_div_ok"),
        F.expr(
            "CAST(SUM(CASE WHEN try_add(9223372036854775807,"
            " GREATEST(l_partkey, 1)) IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_add_overflow_null"),
    )


@query(
    "greatest_least_null_contract",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN greatest(
             CASE WHEN l_quantity > 25 THEN CAST(FLOOR(l_quantity) AS BIGINT)
                  END,
             CAST(FLOOR(l_extendedprice / 1000) AS BIGINT))
           = CAST(FLOOR(l_extendedprice / 1000) AS BIGINT)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_price_wins,
      CAST(SUM(CASE WHEN greatest(
             CASE WHEN l_quantity > 100 THEN 1 END,
             CASE WHEN l_quantity > 200 THEN 2 END) IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS n_all_null
    FROM lineitem
    """,
)
def greatest_least_null_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREATEST/LEAST null semantics pinned: both engines SKIP NULL
    arguments (greatest(NULL, x) = x — NOT the SQL-standard NULL
    propagation some databases apply), and only an all-NULL argument
    list yields NULL.  Counted over real data: how often the price
    proxy beats a sometimes-NULL quantity band, and that the
    impossible double-band (quantities never exceed 100) is NULL on
    every row — port this to a standard-propagating engine and both
    columns change, which is the audit's point.

    Scale shape: one conditional aggregate over the scan."""
    return t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr(
            "CAST(SUM(CASE WHEN greatest("
            " CASE WHEN l_quantity > 25 THEN CAST(FLOOR(l_quantity) AS BIGINT)"
            " END,"
            " CAST(FLOOR(l_extendedprice / 1000) AS BIGINT))"
            " = CAST(FLOOR(l_extendedprice / 1000) AS BIGINT)"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_price_wins"),
        F.expr(
            "CAST(SUM(CASE WHEN greatest("
            " CASE WHEN l_quantity > 100 THEN 1 END,"
            " CASE WHEN l_quantity > 200 THEN 2 END) IS NULL"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_all_null"),
    )

"""Text analysis over the documents table (SURVEY.md §2.7
text_analysis; BASELINE mandate: language-ID, quality scoring, token
counting, fingerprinting).

Everything is JVM-side built-ins (split/regexp/higher-order array
functions) — no Python in the hot path; at 100 TB these are
scan-projection pipelines with full WholeStageCodegen.
"""

from __future__ import annotations
from instructions_mr_spark.plans.guard import literal_df

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from instructions_mr_spark.functions import duck_hash, round_half, spark_hash
from instructions_mr_spark.operators.arrow_map import map_columns
from instructions_mr_spark.queries._util import (
    kernel_floor,
    supersede_checkpoint,
    t,
)
from instructions_mr_spark.registry import query


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           LENGTH(text) AS n_char,
           len(string_split(text, ' ')) AS n_tokens,
           {round_half("CAST(LENGTH(text) AS DOUBLE) / len(string_split(text, ' '))", 6)} AS chars_per_token,
           LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
           LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("bigint")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_char"),
        toks.alias("n_tokens"),
        round_half(F.length("text").cast("double") / toks, 6).alias("chars_per_token"),
        F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).cast("bigint").alias("n_punct"),
        F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("bigint").alias("n_digit"),
    )


@query(
    "token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish,
           len(string_split(text, ' ')) AS n_ws
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish lexer regex
    (letter runs / digit runs / single symbols)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0))
        .cast("bigint")
        .alias("n_bpeish"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws"),
    )


# stopword lists for the n-gram-free language-ID heuristic
_STOP = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}


def _stop_count_spark(lang: str) -> Column:
    lst = ", ".join(f"'{w}'" for w in _STOP[lang])
    return F.size(F.expr(f"FILTER(words, w -> w IN ({lst}))")).cast("bigint")


def _stop_count_duck(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _STOP[lang])
    return f"len(list_filter(words, w -> w IN ({lst})))"


@query(
    "lang_id",
    oracle=f"""
    SELECT doc_id,
           CASE
             WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
             WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
             WHEN s_es > s_en AND s_es > s_de AND s_es > s_fr THEN 'es'
             ELSE 'en'
           END AS lang_guess,
           s_en, s_de, s_fr, s_es
    FROM (
      SELECT doc_id,
             {_stop_count_duck('en')} AS s_en,
             {_stop_count_duck('de')} AS s_de,
             {_stop_count_duck('fr')} AS s_fr,
             {_stop_count_duck('es')} AS s_es
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents)
    )
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with a deterministic tie policy
    (priority en > de > fr > es on equal scores).  A real model would
    use char n-gram profiles; the Spark shape (projection + CASE) is
    identical."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("words")
    )
    scored = d.select(
        "doc_id",
        _stop_count_spark("en").alias("s_en"),
        _stop_count_spark("de").alias("s_de"),
        _stop_count_spark("fr").alias("s_fr"),
        _stop_count_spark("es").alias("s_es"),
    )
    return scored.select(
        "doc_id",
        F.when(
            (F.col("s_de") > F.col("s_en"))
            & (F.col("s_de") >= F.col("s_fr"))
            & (F.col("s_de") >= F.col("s_es")),
            "de",
        )
        .when(
            (F.col("s_fr") > F.col("s_en"))
            & (F.col("s_fr") > F.col("s_de"))
            & (F.col("s_fr") >= F.col("s_es")),
            "fr",
        )
        .when(
            (F.col("s_es") > F.col("s_en"))
            & (F.col("s_es") > F.col("s_de"))
            & (F.col("s_es") > F.col("s_fr")),
            "es",
        )
        .otherwise("en")
        .alias("lang_guess"),
        "s_en",
        "s_de",
        "s_fr",
        "s_es",
    )


@query(
    "quality_score",
    oracle=f"""
    SELECT doc_id,
           {round_half(
             "LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5"
             " + (1.0 - LEAST(CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
                            " / LENGTH(text), 1.0)) * 0.3"
             " + CASE WHEN len(string_split(text, ' ')) > 0"
                    " THEN CAST(len(list_filter(string_split(lower(text), ' '),"
                                  " w -> w IN ('the','and','of','to','a','in','is'))) AS DOUBLE)"
                         " / len(string_split(text, ' '))"
                    " ELSE 0 END * 0.2", 6)} AS quality
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation (0.5), low
    punctuation density (0.3), stopword ratio (0.2) — the standard
    cheap pre-filter shape for training-data curation."""
    d = t(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("double")
    punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).cast("double")
    stop = _stop_count_spark("en")
    d = d.select(
        "doc_id",
        "text",
        F.split(F.lower(F.col("text")), " ").alias("words"),
    )
    stop = F.size(F.expr("FILTER(words, w -> w IN ('the','and','of','to','a','in','is'))"))
    return d.select(
        "doc_id",
        round_half(
            F.least(toks / 100, F.lit(1.0)) * 0.5
            + (F.lit(1.0) - F.least(punct / F.length("text"), F.lit(1.0))) * 0.3
            + F.when(toks > 0, stop.cast("double") / toks).otherwise(0.0) * 0.2,
            6,
        ).alias("quality"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS md5_full,
           md5(substring(lower(trim(text)), 1, 64)) AS md5_prefix64,
           {duck_hash('text')} AS fp32
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: full digest, normalized-prefix digest
    (catches near-identical headers), and a compact 32-bit key for
    join-friendly dedup maps."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("MD5(CAST(text AS BINARY))").alias("md5_full"),
        F.expr("MD5(CAST(SUBSTRING(LOWER(TRIM(text)), 1, 64) AS BINARY))").alias("md5_prefix64"),
        F.expr(spark_hash("text")).alias("fp32"),
    )


@query(
    "dedup_edit_distance",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE levenshtein(a.text, b.text) <= 150
    ORDER BY doc_a
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verify kernel: Levenshtein distance
    between adjacent doc ids, kept when <= 150 edits (~p10 of adjacent-pair distances here).  Like
    dedup_ngram_jaccard this isolates the verify stage with linear
    blocking; production candidate generation is the LSH path —
    edit distance is O(len^2) per pair and must only ever run on
    LSH-blocked candidates at scale."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 150)
        .orderBy("doc_a")
    )


@query(
    "text_ngram_freq",
    oracle="""
    SELECT bg, COUNT(*) AS n FROM (
      SELECT unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i+1])) AS bg
      FROM (SELECT string_split(text, ' ') AS w FROM documents))
    GROUP BY bg
    ORDER BY n DESC, bg
    LIMIT 50
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequency (top 50): the building block of
    n-gram LMs and contamination checks.  explode is a narrow op —
    the only shuffle is the count aggregate, with map-side partials
    over the exploded stream (never materializing the full n-gram
    list per partition)."""
    w = t(spark, sf_dir, "documents").select(F.split("text", " ").alias("w"))
    bigrams = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("w", i), F.element_at("w", i + 1)
                ),
            )
        ).alias("bg")
    )
    return (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bg"))
        .limit(50)
    )


@query(
    "text_redact_pii",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               substr(text, 1, 40) || ' contact user' || doc_id ||
                 '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
    FROM documents
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — a mandatory pass before text lands in a
    training corpus: regex redaction of emails and phone-shaped
    strings, all JVM-side regexp_replace (full codegen, no Python).
    The corpus has no real PII, so deterministic synthetic PII is
    appended per row and must come back fully redacted; patterns are
    kept in the RE2-and-Java-regex common subset so both engines
    agree."""
    d = t(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            with_pii, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
        ),
        r"555-[0-9]{4}",
        "<PHONE>",
    )
    return d.select("doc_id", redacted.alias("redacted"))


@query(
    "doc_chunks",
    oracle="""
    SELECT doc_id,
           CAST(gs.start AS BIGINT) AS chunk_start,
           substr(text, gs.start, 200) AS chunk_text
    FROM documents,
         LATERAL (SELECT unnest(generate_series(1, GREATEST(LENGTH(text), 1), 150))
                  AS start) gs
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for RAG/window-bounded training: fixed
    200-char chunks with 50-char overlap (stride 150), generated by
    ``sequence`` + ``explode`` — an all-JVM explode-shaped pipeline
    (one output row per chunk, no Python, no shuffle until whatever
    aggregates downstream)."""
    d = t(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(150)
    )
    return (
        d.select("doc_id", "text", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            F.expr("substring(text, chunk_start, 200)").alias("chunk_text"),
        )
    )


@query(
    "tf_idf_top_terms",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ), terms AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM words
      WHERE LENGTH(w) >= 4 GROUP BY doc_id, w
    ), df AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY w
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT t.doc_id, t.w,
             {round_half('t.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)', 6)} AS tfidf
      FROM terms t JOIN df ON t.w = df.w CROSS JOIN n
    )
    SELECT doc_id, w, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, w) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF, top-3 terms per document — the classic two-level
    text aggregation: explode words -> per-doc term frequency -> corpus
    document frequency -> join tf x idf -> per-doc top-k.  The df table
    is vocabulary-sized, so its join broadcasts; the only wide shuffles
    are the two keyed aggregates.  Terms under 4 chars are dropped
    (stopword-ish floor) to keep idf meaningful."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") >= 4)
    terms = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df_tab = terms.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        terms.join(F.broadcast(df_tab), "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "w",
            round_half(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w"))
    )
    return scored.withColumn("rk", rk).filter(F.col("rk") <= 3).drop("rk")


@query(
    "contamination_check",
    oracle="""
    WITH bench AS (
      SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 97 = 0
    ), bench_grams AS (
      SELECT DISTINCT bench_id, g FROM (
        SELECT bench_id,
               array_to_string(toks[i : i + 3], ' ') AS g
        FROM (SELECT bench_id, string_split(lower(text), ' ') AS toks FROM bench),
             LATERAL (SELECT unnest(generate_series(1, GREATEST(len(toks) - 3, 0))) AS i) s
      ) WHERE g IS NOT NULL
    ), corpus_grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               array_to_string(toks[i : i + 3], ' ') AS g
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents WHERE doc_id % 97 <> 0),
             LATERAL (SELECT unnest(generate_series(1, GREATEST(len(toks) - 3, 0))) AS i) s
      ) WHERE g IS NOT NULL
    )
    SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_shared_grams,
           COUNT(DISTINCT b.bench_id) AS n_bench_docs
    FROM corpus_grams c JOIN bench_grams b ON c.g = b.g
    GROUP BY c.doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan — the pre-training hygiene step:
    flag corpus documents sharing any 4-token n-gram with a held-out
    benchmark set (here: every 97th doc plays the benchmark).  Both
    sides explode to distinct 4-grams; the join is an equi-join on the
    gram (the benchmark side is small → broadcast), never a doc x doc
    cross product.  At 100 TB gram-hashing (not the raw string) keys
    the join; semantics are identical."""
    d = t(spark, sf_dir, "documents")

    def grams(df: DataFrame, id_out: str) -> DataFrame:
        # Materialize the token array ONCE per row, build the gram
        # array inside the row (transform over start positions), then
        # explode only (id, gram).  Two pitfalls measured at sf0.01:
        # exploding positions first duplicates the token array onto
        # every gram row (70x), and referencing split() inside the
        # lambda re-splits the text per position (O(tokens^2), 10x).
        toked = df.select(
            F.col("doc_id").alias(id_out),
            F.split(F.lower("text"), " ").alias("toks"),
        )
        gram_arr = F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("toks") - 3, F.lit(0))
            ),
            lambda i: F.array_join(F.slice("toks", i, 4), " "),
        )
        return toked.select(id_out, F.explode(gram_arr).alias("g")).distinct()

    bench = grams(d.filter(F.col("doc_id") % 97 == 0), "bench_id")
    corpus = grams(d.filter(F.col("doc_id") % 97 != 0), "doc_id")
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


@query(
    "mixture_weights",
    oracle=f"""
    WITH per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
      FROM documents GROUP BY source
    ), tot AS (SELECT SUM(n_docs) AS n FROM per_source)
    SELECT source, n_docs, n_chars_total,
           {round_half('CAST(n_docs AS DOUBLE) / tot.n', 6)} AS actual_share,
           {round_half('(1.0 / (SELECT COUNT(*) FROM per_source))'
                 ' / (CAST(n_docs AS DOUBLE) / tot.n)', 6)} AS upsample_factor
    FROM per_source, tot
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture weighting — per-source sampling factors to reach a
    target mixture (uniform across sources here): one aggregate pass
    plus two broadcast scalars (total count, source count).  The
    upsample_factor column is what a sampler multiplies each source's
    keep-probability by."""
    d = t(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars_total")
    )
    tot = per_source.agg(
        F.sum("n_docs").alias("n"), F.count("*").alias("n_sources")
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars_total",
        round_half(F.col("n_docs").cast("double") / F.col("n"), 6).alias("actual_share"),
        round_half(
            (F.lit(1.0) / F.col("n_sources"))
            / (F.col("n_docs").cast("double") / F.col("n")),
            6,
        ).alias("upsample_factor"),
    )


@query(
    "quality_repetition",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    base AS (
      SELECT doc_id,
             len(words) AS n_words,
             {round_half('1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words)', 6)}
               AS dup_word_frac,
             {round_half("CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum')"
                        " AS DOUBLE) / len(words)", 6)} AS mean_word_len,
             list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
               AS bigrams
      FROM w
    ),
    bg AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(bigrams) AS gram FROM base)
      GROUP BY doc_id, gram
    ),
    top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS tot FROM bg GROUP BY doc_id)
    SELECT b.doc_id, b.n_words, b.dup_word_frac, b.mean_word_len,
           {round_half('COALESCE(CAST(top.top_c AS DOUBLE) / top.tot, 0.0)', 6)}
             AS top_bigram_frac
    FROM base b LEFT JOIN top ON b.doc_id = top.doc_id
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    duplicate-word fraction, mean word length, and the fraction of all
    bigrams taken by the single most frequent bigram (boilerplate /
    degenerate-generation detector).

    Spark shape: the word-level signals are in-row array algebra
    (WholeStageCodegen, no shuffle); the top-bigram mode needs a
    per-(doc, gram) count, so bigrams explode into two keyed
    aggregations on doc_id — shuffles proportional to corpus token
    count, no corpus-wide state.  Parity ref: the reference engine has
    no text-quality surface; signals follow Rae et al. (Gopher)
    repetition filters.

    The scan rides a kernel_floor (round 12): the word-split + bigram
    explode map stage is CPU-dense and would otherwise run on as many
    tasks as the scan has input splits (1, on a single-file layout)."""
    d = kernel_floor(t(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("words")
    )
    n_words = F.size("words").cast("bigint")
    sum_len = F.expr("aggregate(words, 0L, (acc, x) -> acc + length(x))")
    base = d.select(
        "doc_id",
        "words",
        n_words.alias("n_words"),
        round_half(
            F.lit(1.0)
            - F.size(F.array_distinct("words")).cast("double") / n_words.cast("double"),
            6,
        ).alias("dup_word_frac"),
        round_half(sum_len.cast("double") / n_words.cast("double"), 6).alias(
            "mean_word_len"
        ),
    )
    bigrams = F.expr(
        """CASE WHEN size(words) >= 2
                THEN transform(sequence(0, size(words) - 2),
                               i -> concat(words[i], ' ', words[i + 1]))
                ELSE array() END"""
    )
    bg = (
        base.select("doc_id", F.explode(bigrams).alias("gram"))
        .groupBy("doc_id", "gram")
        .count()
    )
    top = bg.groupBy("doc_id").agg(
        F.max("count").alias("top_c"), F.sum("count").alias("tot")
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        "mean_word_len",
        round_half(
            F.coalesce(F.col("top_c").cast("double") / F.col("tot"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


@query(
    "boilerplate_ngrams",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(words) - 1), i ->
               words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS gram
      FROM w
    ),
    cnt AS (SELECT gram, COUNT(*) AS nd FROM g GROUP BY gram)
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           {round_half('CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)'
                 ' / COUNT(*)', 6)} AS shared_frac
    FROM g JOIN cnt USING (gram) GROUP BY doc_id
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-n-gram (boilerplate) detection: for each
    document, the fraction of its distinct word trigrams that also
    appear in at least one OTHER document (nd >= 2 across the corpus)
    — the CCNet/C4-style signal for template text and cross-document
    contamination.

    Spark shape: per-doc distinct shingles explode once; one global
    groupBy(gram) counts containing docs; a keyed sort-merge join back
    on gram tags each shingle.  Both shuffles key on the gram — no
    all-pairs comparison, no driver state, skew bounded by the hottest
    shingle (salt the gram key if a header dominates at 100 TB)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    trigrams = F.expr(
        """CASE WHEN size(words) >= 3
                THEN array_distinct(transform(sequence(0, size(words) - 3),
                     i -> concat(words[i], ' ', words[i + 1], ' ', words[i + 2])))
                ELSE array() END"""
    )
    g = d.select("doc_id", F.explode(trigrams).alias("gram"))
    cnt = g.groupBy("gram").agg(F.count("*").alias("nd"))
    shared = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        g.join(cnt, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(shared).cast("bigint").alias("n_shared"),
            round_half(F.sum(shared).cast("double") / F.count("*"), 6).alias("shared_frac"),
        )
    )


# BM25 parameters + fixed query terms (deterministic, oracle-shared)
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("spark", "table", "query")


@query(
    "bm25_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ), tf AS (
      SELECT doc_id, len(words) AS dl,
             {", ".join(f"len(list_filter(words, w -> w = '{t}')) AS tf_{t}" for t in _BM25_TERMS)}
      FROM d
    ), g AS (
      SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {", ".join(f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS)}
      FROM tf
    )
    SELECT doc_id,
           {round_half(" + ".join(
             f"(ln((g.n - g.df_{t} + 0.5) / (g.df_{t} + 0.5) + 1.0) * "
             f"(tf.tf_{t} * ({_BM25_K1} + 1.0)) / "
             f"(tf.tf_{t} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * tf.dl / g.avgdl)))"
             for t in _BM25_TERMS), 6)} AS bm25
    FROM tf CROSS JOIN g
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed 3-term query — the classical
    lexical-search scorer (Robertson/Sparck Jones), computed with zero
    explodes: per-document term frequencies are in-row
    ``FILTER`` counts on the split array, corpus statistics (N, avgdl,
    per-term document frequencies) reduce to ONE scalar row that
    broadcasts back onto the scan, and the top-k is
    TakeOrderedAndProject.  Two passes over documents, no shuffle of
    document rows at any width — at 100 TB the same plan holds with
    the stats row still one broadcast."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("words")
    )
    tf = d.select(
        "doc_id",
        F.size("words").alias("dl"),
        *[
            F.expr(f"size(filter(words, w -> w = '{term}'))").alias(f"tf_{term}")
            for term in _BM25_TERMS
        ],
    )
    g = tf.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{term}") > 0, 1).otherwise(0)).alias(f"df_{term}")
            for term in _BM25_TERMS
        ],
    )
    score = None
    for term in _BM25_TERMS:
        idf = F.log(
            (F.col("n") - F.col(f"df_{term}") + 0.5) / (F.col(f"df_{term}") + 0.5)
            + 1.0
        )
        part = idf * (
            F.col(f"tf_{term}") * (_BM25_K1 + 1.0)
        ) / (
            F.col(f"tf_{term}")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        tf.crossJoin(F.broadcast(g))
        .select("doc_id", round_half(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


@query(
    "quality_filter_gopher",
    oracle=f"""
    SELECT doc_id, n_words,
           {round_half('mean_word_len', 6)} AS mean_word_len,
           {round_half('alpha_word_ratio', 6)} AS alpha_word_ratio,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND alpha_word_ratio >= 0.8) AS keep
    FROM (
      SELECT doc_id,
             len(words) AS n_words,
             CAST(LENGTH(text) - (len(words) - 1) AS DOUBLE) / len(words)
               AS mean_word_len,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                  AS DOUBLE) / len(words) AS alpha_word_ratio
      FROM (SELECT doc_id, text, string_split(text, ' ') AS words
            FROM documents)
    )
    """,
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021, simplified): keep a
    doc iff word count in [50, 100000], mean word length in [3, 10],
    and >= 80% of words contain an alphabetic character.  This is the
    boolean gate a curation pass actually applies, composed from cheap
    in-row signals — pure projection, rides the scan at 100 TB.
    mean_word_len uses LENGTH(text) - (n_words - 1) == sum of word
    lengths under single-space splitting, identical on both engines."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.split("text", " ").alias("words")
    )
    n_words = F.size("words").cast("bigint")
    mean_wl = (F.length("text") - (n_words - 1)).cast("double") / n_words
    alpha_ratio = (
        F.size(F.expr("FILTER(words, w -> w RLIKE '[A-Za-z]')")).cast("double")
        / n_words
    )
    keep = (
        n_words.between(50, 100000)
        & mean_wl.between(3, 10)
        & (alpha_ratio >= 0.8)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        round_half(mean_wl, 6).alias("mean_word_len"),
        round_half(alpha_ratio, 6).alias("alpha_word_ratio"),
        keep.alias("keep"),
    )


# Span-dedup gram key: the 8-token gram is grouped/joined by its
# portable 60-bit digest, never the gram TEXT — at 100 TB the gram
# election exchange carries int64 keys (the docstring advice, now the
# executed plan; r6 verdict item 5).  Seed 29 on both engines.
_DUCK_GRAM_H60 = duck_hash("array_to_string(toks[i : i + 7], ' ')", 29, hex_digits=15)
_SPARK_GRAM_H60 = spark_hash("array_join(slice(toks, i, 8), ' ')", 29, hex_digits=15)


@query(
    "dedup_span_coverage",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), pos AS (
      SELECT doc_id, i AS pos,
             {_DUCK_GRAM_H60} AS g
      FROM toked,
           LATERAL (SELECT unnest(generate_series(
             1, GREATEST(len(toks) - 7, 0))) AS i) s
    ), rep AS (
      SELECT g FROM pos GROUP BY g HAVING COUNT(*) > 1
    ), spans AS (
      SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL OR pos > LAG(pos) OVER w + 7
                  THEN 1 ELSE 0 END AS new_island
      FROM pos SEMI JOIN rep USING (g)
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM spans
    ), cov AS (
      SELECT doc_id, SUM(max_p - min_p + 8) AS covered FROM (
        SELECT doc_id, island, MIN(pos) AS min_p, MAX(pos) AS max_p
        FROM islands GROUP BY doc_id, island)
      GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.toks) AS n_tokens,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
           {round_half('CAST(COALESCE(c.covered, 0) AS DOUBLE) / len(t.toks)', 6)}
             AS coverage_frac
    FROM toked t LEFT JOIN cov c ON t.doc_id = c.doc_id
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring coverage — the per-document signal behind
    suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): the fraction of a
    document's tokens covered by at least one 8-token gram that occurs
    more than once in the corpus.  Docs with high coverage are
    templated/boilerplate; the covered spans themselves are what a
    substring-dedup pass would cut.

    Scale shape: grams are built in-row (transform over start
    positions) and exploded once; the repeated-gram election is a
    count window inside the ONE gram-keyed exchange (round 13 — see
    _repeated_gram_hits; keyed on the 60-bit gram digest at any
    scale); span union is gaps-and-islands with two window passes
    sharing ONE doc_id exchange — no interval self-join, no suffix
    array."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split("text", " ").alias("toks"))
    gram_arr = F.expr(
        "TRANSFORM(sequence(1, greatest(size(toks) - 7, 0)),"
        f" i -> struct(i AS pos, {_SPARK_GRAM_H60} AS g))"
    )
    pos = toked.select("doc_id", F.explode(gram_arr).alias("p")).select(
        "doc_id", F.col("p.pos").alias("pos"), F.col("p.g").alias("g")
    )
    hits = _repeated_gram_hits(pos)
    w = W.partitionBy("doc_id").orderBy("pos")
    spans = hits.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") > F.lag("pos").over(w) + 7),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    cov = (
        spans.groupBy("doc_id", "island")
        .agg((F.max("pos") - F.min("pos") + 8).alias("ilen"))
        .groupBy("doc_id")
        .agg(F.sum("ilen").alias("covered"))
    )
    return (
        toked.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.coalesce(F.col("covered"), F.lit(0)).alias("covered_tokens"),
            round_half(
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.size("toks"),
                6,
            ).alias("coverage_frac"),
        )
    )


@query(
    "dedup_span_cut",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), pos AS (
      SELECT doc_id, i AS pos, {_DUCK_GRAM_H60} AS g
      FROM toked,
           LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
      WHERE len(toks) >= 8
    ), rep AS (
      SELECT g FROM pos GROUP BY g HAVING COUNT(*) > 1
    ), spans AS (
      SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL OR pos > LAG(pos) OVER w + 7
                  THEN 1 ELSE 0 END AS new_island
      FROM pos SEMI JOIN rep USING (g)
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM spans
    ), ranges AS (
      SELECT doc_id, island, MIN(pos) AS min_p, MAX(pos) + 7 AS max_p
      FROM islands GROUP BY doc_id, island
    ), covered AS (
      SELECT doc_id, unnest(generate_series(min_p, max_p)) AS idx FROM ranges
    ), toks_i AS (
      SELECT doc_id, i AS idx, toks[i] AS tok
      FROM toked, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) s
    ), kept AS (
      SELECT t.doc_id, t.idx, t.tok
      FROM toks_i t ANTI JOIN covered c USING (doc_id, idx)
    ), agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY idx) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.toks) AS n_tokens,
           COALESCE(a.n_kept, 0) AS n_kept,
           md5(COALESCE(a.cleaned, '')) AS kept_md5
    FROM toked t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
)
def dedup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring CUT — the corpus-producing half of
    dedup_span_coverage (Lee et al. 2021 substring dedup, cut-all
    policy): remove every token covered by a repeated 8-gram island
    and reassemble the document in order.  Coverage is the
    diagnostic; this emits the cleaned corpus (here its digest, so
    the checked rows stay narrow while certifying the full
    reassembled text byte-for-byte).

    Cut-ALL policy (both copies removed), i.e. boilerplate removal —
    dedup_span_cut_keepfirst is the Lee et al. keep-one variant.

    Scale shape: identical front half to dedup_span_coverage (in-row
    gram build, repeated-gram election as a count window in ONE
    gram-digest-keyed exchange — round 13, see _repeated_gram_hits,
    gaps-and-islands on one doc_id exchange); the cut is an anti join
    of (doc, token_idx) rows against exploded island ranges, and
    reassembly is the dedup_paragraph pattern —
    sort_array(collect_list(struct)) under one doc_id aggregate, no
    window over bodies."""
    toked, pos = _span_gram_pos(spark, sf_dir)
    return _span_cut_from_hits(toked, _repeated_gram_hits(pos))


def _repeated_gram_hits(pos: DataFrame) -> DataFrame:
    """(doc_id, pos, g) rows whose gram occurs more than once in the
    corpus — ONE evaluation of ``pos`` and ONE gram-keyed exchange
    (round 13, guide §2.4): the old shape aggregated ``pos`` into the
    repeated-gram set and semi-joined ``pos`` back against it — the
    gram build (scan + in-row md5 transform + explode) appeared twice
    in the plan with two g-keyed exchanges (runtime exchange reuse
    only sometimes collapsed them).  A count window over g elects the
    repeated grams inside the same single exchange.  Row multiset
    identical by construction (count-over-partition > 1 keeps exactly
    the rows whose g-group has >= 2 members; verified by exceptAll in
    both directions at sf0.1 before the swap) — both span-cut oracles
    and the coverage oracle unchanged.  Measured interleaved min-of-3
    at sf0.1: dedup_span_cut 2.717 -> 1.654 s."""
    from pyspark.sql import Window as W

    return (
        pos.withColumn("_c", F.count(F.lit(1)).over(W.partitionBy("g")))
        .filter(F.col("_c") > 1)
        .drop("_c")
    )


def _span_gram_pos(spark: SparkSession, sf_dir: str):
    """Shared front half of the span-cut family: tokenized docs and
    the exploded (doc_id, pos, gram-digest) table for docs with >= 8
    tokens."""
    d = t(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split("text", " ").alias("toks"))
    long_enough = toked.filter(F.size("toks") >= 8)
    gram_arr = F.expr(
        "TRANSFORM(sequence(1, size(toks) - 7),"
        f" i -> struct(i AS pos, {_SPARK_GRAM_H60} AS g))"
    )
    pos = long_enough.select("doc_id", F.explode(gram_arr).alias("p")).select(
        "doc_id", F.col("p.pos").alias("pos"), F.col("p.g").alias("g")
    )
    return toked, pos


def _span_cut_from_hits(toked: DataFrame, hits: DataFrame) -> DataFrame:
    """Shared back half: (doc_id, pos) hit rows -> gaps-and-islands ->
    per-doc island-range ARRAYS -> one doc_id join -> IN-ROW cut and
    reassembly.

    The r7 rewrite: the old plan exploded every token into
    (doc_id, idx, tok) rows and anti-joined against exploded island
    ranges — the whole corpus' tokens crossed two exchanges.  Islands
    per doc are few, so instead the ranges collect into a per-doc
    array (island-count-sized), join back by doc_id ONCE, and the cut
    + reassembly run as a pure projection (filter over token indexes
    with an exists() probe per island).  Token text never leaves its
    scan row; the only token-bearing exchange left is gone.  Measured
    (min-of-3, local[32]): sf2 12.2s -> 6.1s (cut-all) and 8.6s ->
    4.3s (keep-first); the sf1->sf2 curve drops from 2.40x/2.04x to
    1.47x/1.53x for 2x data."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    spans = hits.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") > F.lag("pos").over(w) + 7),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    doc_cuts = (
        spans.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("min_p"), (F.max("pos") + 7).alias("max_p"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("min_p", "max_p"))).alias("cuts")
        )
    )
    joined = toked.join(doc_cuts, "doc_id", "left")
    kept_toks = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("toks")),
            lambda i: F.struct(
                i.alias("i"),
                (
                    ~F.exists(
                        "cuts",
                        lambda r: (i >= r["min_p"]) & (i <= r["max_p"]),
                    )
                ).alias("keep"),
            ),
        ),
        lambda s: s["keep"],
    )
    kept_arr = F.when(F.col("cuts").isNull(), F.col("toks")).otherwise(
        F.transform(kept_toks, lambda s: F.element_at("toks", s["i"]))
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(kept_arr).cast("bigint").alias("n_kept"),
        F.md5(F.array_join(kept_arr, " ").cast("binary")).alias("kept_md5"),
    )


# Shared oracle tail for the span-cut family (expects a ``hits`` CTE of
# (doc_id, pos) duplicate-gram occurrences to cut).
_DUCK_SPAN_CUT_TAIL = """
    spans AS (
      SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL OR pos > LAG(pos) OVER w + 7
                  THEN 1 ELSE 0 END AS new_island
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM spans
    ), ranges AS (
      SELECT doc_id, island, MIN(pos) AS min_p, MAX(pos) + 7 AS max_p
      FROM islands GROUP BY doc_id, island
    ), covered AS (
      SELECT doc_id, unnest(generate_series(min_p, max_p)) AS idx FROM ranges
    ), toks_i AS (
      SELECT doc_id, i AS idx, toks[i] AS tok
      FROM toked, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) s
    ), kept AS (
      SELECT t.doc_id, t.idx, t.tok
      FROM toks_i t ANTI JOIN covered c USING (doc_id, idx)
    ), agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY idx) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.toks) AS n_tokens,
           COALESCE(a.n_kept, 0) AS n_kept,
           md5(COALESCE(a.cleaned, '')) AS kept_md5
    FROM toked t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


@query(
    "dedup_span_cut_keepfirst",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), pos AS (
      SELECT doc_id, i AS pos, {_DUCK_GRAM_H60} AS g
      FROM toked,
           LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
      WHERE len(toks) >= 8
    ), hits AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        FROM pos)
      WHERE rn >= 2
    ),
    {_DUCK_SPAN_CUT_TAIL}
    """,
)
def dedup_span_cut_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring cut, KEEP-FIRST-OCCURRENCE policy — the
    variant Lee et al. 2021 actually ships (one copy of every
    repeated passage survives): the globally first occurrence of each
    repeated 8-gram (ordered by doc_id, then position) is kept; every
    LATER occurrence is cut via the same gaps-and-islands machinery
    as dedup_span_cut.  Cut-all removes boilerplate entirely;
    keep-first preserves exactly one copy of genuinely informative
    repeated text.

    Scale shape: the election is ROW_NUMBER over the gram-digest key
    (one int64-keyed exchange, the same exchange the cut-all variant
    spends on its count election — occurrence lists per gram are
    collision-bucket-sized); everything downstream is the shared
    narrow cut path (_span_cut_from_hits).  First occurrence is a
    total order (doc_id, pos) — deterministic on both engines."""
    from pyspark.sql import Window as W

    toked, pos = _span_gram_pos(spark, sf_dir)
    wg = W.partitionBy("g").orderBy("doc_id", "pos")
    hits = (
        pos.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos")
    )
    return _span_cut_from_hits(toked, hits)


@query(
    "quality_unigram_logprob",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, CAST({round_half('LN(CAST(COUNT(*) AS DOUBLE)'
                              ' / (SELECT COUNT(*) FROM words))', 4)}
                     AS DECIMAL(18,4)) AS logp
      FROM words GROUP BY w
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(CAST(SUM(v.logp) AS DOUBLE) / COUNT(*) AS DOUBLE) AS mean_logp
    FROM words JOIN vocab v USING (w)
    GROUP BY doc_id
    """,
)
def quality_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score (the KenLM-filter shape used in
    CCNet/RedPajama curation): train a unigram LM on the corpus itself
    (word -> log relative frequency), score each document by mean word
    log-probability — improbable-word-heavy docs (OCR noise, gibberish,
    wrong language) score low and get filtered.

    Scale shape: the LM "training" is one word-keyed aggregate; the
    vocab table is language-sized, not corpus-sized, so the score join
    BROADCASTS it back onto the exploded words; the per-doc aggregate
    re-keys on doc_id.  log-probs are rounded to 4 decimals and summed
    as DECIMAL (exact, order-free) per the float-stability convention
    — only the final division returns to DOUBLE.  At 100 TB the vocab
    aggregate gets a cap (top-K by count + an OOV bucket), which
    changes no plan shape."""
    d = t(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    totals = words.agg(F.count(F.lit(1)).alias("n_total"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            F.expr(
                f"CAST({round_half('LN(CAST(cnt AS DOUBLE) / n_total)', 4)}"
                " AS DECIMAL(18,4))"
            ).alias("logp"),
        )
    )
    return (
        words.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.expr("CAST(CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS DOUBLE)").alias(
                "mean_logp"
            ),
        )
    )


# DSIR hashed-bigram feature space: buckets are small enough that the
# per-bucket log-ratio table always broadcasts (256 rows regardless of
# corpus size — that invariance is the whole point of hashed features).
_DSIR_BUCKETS = 256
_DSIR_SEED = 7


def _dsir_oracle() -> str:
    b = _DSIR_BUCKETS
    return f"""
    WITH grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(words)),
               i -> words[i] || ' ' || words[i+1])) AS g
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)
      WHERE len(words) >= 2
    ), hashed AS (
      SELECT doc_id, lang, {duck_hash('g', _DSIR_SEED)} % {b} AS bkt FROM grams
    ), tot AS (
      SELECT COUNT(*) AS n_r, COUNT(*) FILTER (WHERE lang = 'en') AS n_t
      FROM hashed
    ), ratio AS (
      SELECT bkt,
             CAST({round_half("LN((COUNT(*) FILTER (WHERE lang = 'en') + 1.0)"
                             f" / (tot.n_t + {b}))"
                        f" - LN((COUNT(*) + 1.0) / (tot.n_r + {b}))", 4)}
                  AS DECIMAL(18,4)) AS lr
      FROM hashed, tot GROUP BY bkt, tot.n_t, tot.n_r
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(lr) AS DOUBLE) AS dsir_logweight
    FROM hashed JOIN ratio USING (bkt)
    GROUP BY doc_id
    """


@query("dsir_importance_weights", oracle=_dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much its hashed
    word-bigram features look like the target domain (here lang='en')
    versus the raw corpus — log w(d) = sum over d's bigram occurrences
    of log(p_target(bucket)/p_raw(bucket)) with Laplace-smoothed bucket
    unigram models.  Sampling proportional to exp(logweight) is the
    DSIR resampling step (mixture_resample's hash-rank mechanics apply
    from there).

    Scale shape: one bigram explode feeds BOTH bucket-count aggregates
    (target via count-filter, raw via plain count) in a single
    groupBy(bucket) pass; the resulting log-ratio table is at most
    _DSIR_BUCKETS rows — broadcast back onto the exploded grams, then
    one doc_id-keyed aggregate.  Log-ratios are rounded to 4 decimals
    and summed as DECIMAL (exact, order-free) per the float-stability
    convention.  Nothing here grows with corpus size except the two
    linear scans; the feature table stays 256 rows at 100 TB."""
    b = _DSIR_BUCKETS
    d = t(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", "lang", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("words", i), F.element_at("words", i + 1)
                    ),
                )
            ).alias("g"),
        )
    )
    hashed = grams.selectExpr(
        "doc_id", "lang", f"{spark_hash('g', _DSIR_SEED)} % {b} AS bkt"
    )
    tot = hashed.agg(
        F.count(F.lit(1)).alias("n_r"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_t"),
    )
    ratio = (
        hashed.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("c_r"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("c_t"),
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "bkt",
            "CAST("
            + round_half(f"LN((c_t + 1.0) / (n_t + {b})) - LN((c_r + 1.0) / (n_r + {b}))", 4)
            + " AS DECIMAL(18,4)) AS lr",
        )
    )
    return (
        hashed.join(F.broadcast(ratio), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("CAST(SUM(lr) AS DOUBLE)").alias("dsir_logweight"),
        )
    )


_PMI_MIN_COUNT = 3


@query(
    "collocation_pmi",
    oracle=f"""
    WITH grams AS (
      SELECT unnest(list_transform(range(1, len(words)),
               i -> struct_pack(w1 := words[i], w2 := words[i+1]))) AS g
      FROM (SELECT string_split(text, ' ') AS words FROM documents)
      WHERE len(words) >= 2
    ), pairs AS (
      SELECT g.w1 AS w1, g.w2 AS w2, COUNT(*) AS c12 FROM grams GROUP BY 1, 2
    ), lefts AS (
      SELECT w1, SUM(c12) AS c1 FROM pairs GROUP BY w1
    ), rights AS (
      SELECT w2, SUM(c12) AS c2 FROM pairs GROUP BY w2
    ), tot AS (SELECT SUM(c12) AS n FROM pairs)
    SELECT p.w1, p.w2, p.c12,
           {round_half('LN(CAST(p.c12 AS DOUBLE) * tot.n / (l.c1 * r.c2))', 6)} AS pmi
    FROM pairs p
    JOIN lefts l USING (w1) JOIN rights r USING (w2), tot
    WHERE p.c12 >= {_PMI_MIN_COUNT}
    """,
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information: for every
    adjacent word pair with support >= {_PMI_MIN_COUNT}, PMI = ln(P(w1,w2)
    / (P(w1 as left) * P(w2 as right))) — high-PMI pairs are the multi-
    word expressions a tokenizer-training or phrase-mining pass wants.

    Scale shape: one bigram explode and ONE (w1,w2)-keyed aggregate do
    all the corpus-sized work; the marginal tables derive from the pair
    table itself (vocab-sized reaggregates, no second corpus scan) and
    BROADCAST back onto it with the 1-row total.  PMI is a pure per-row
    function of exact integer counts — no float accumulation, so the
    6-digit round_half is engine-stable up to libm's ln."""
    d = t(spark, sf_dir, "documents")
    pairs = (
        d.select(F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 1),
                    lambda i: F.struct(
                        F.element_at("words", i).alias("w1"),
                        F.element_at("words", i + 1).alias("w2"),
                    ),
                )
            ).alias("g")
        )
        .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    # EAGER: three downstream references (marginals, total, final
    # join) race to compute a lazy checkpoint in parallel stages and
    # duplicate the corpus-sized aggregate; eager materializes it once.
    # NOTE: this runs a corpus-sized job at query-BUILD time (not just
    # at collect); superseded across invocations to cap the leak.
    pairs = supersede_checkpoint("pmi_pairs", pairs)
    lefts = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    rights = pairs.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = pairs.agg(F.sum("c12").alias("n"))
    return (
        pairs.filter(F.col("c12") >= _PMI_MIN_COUNT)
        .join(F.broadcast(lefts), "w1")
        .join(F.broadcast(rights), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            round_half(
                F.log(F.col("c12").cast("double") * F.col("n") / (F.col("c1") * F.col("c2"))),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "text_script_profile",
    oracle=r"""
    SELECT doc_id, n_latin, n_han, n_cyrillic, n_digit,
           CASE WHEN n_latin >= n_han AND n_latin >= n_cyrillic THEN 'latin'
                WHEN n_han >= n_cyrillic THEN 'han'
                ELSE 'cyrillic' END AS main_script
    FROM (
      SELECT doc_id,
             length(regexp_replace(text, '[^\p{Latin}]', '', 'g')) AS n_latin,
             length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS n_han,
             length(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g')) AS n_cyrillic,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
      FROM documents
    )
    """,
)
def text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script histogram per document (Latin / Han / Cyrillic /
    digit counts + dominant script) — the mixed-script signal a
    curation pass uses to catch encoding mojibake, script-spoofing
    spam, and mislabeled-language docs that n-gram language-ID alone
    misses.

    Scale shape: pure in-row regexp counting on the scan, full
    WholeStageCodegen, zero exchanges.  Java's \\p{IsHan} and RE2's
    \\p{Han} count identical code points for these script classes, so
    the oracle is exact.  The dominant-script CASE uses a fixed
    precedence (latin > han > cyrillic) on ties in both engines."""
    d = t(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        F.length(F.regexp_replace("text", r"[^\p{IsLatin}]", ""))
        .cast("bigint")
        .alias("n_latin"),
        F.length(F.regexp_replace("text", r"[^\p{IsHan}]", ""))
        .cast("bigint")
        .alias("n_han"),
        F.length(F.regexp_replace("text", r"[^\p{IsCyrillic}]", ""))
        .cast("bigint")
        .alias("n_cyrillic"),
        F.length(F.regexp_replace("text", r"[^0-9]", ""))
        .cast("bigint")
        .alias("n_digit"),
    )
    return counts.withColumn(
        "main_script",
        F.when(
            (F.col("n_latin") >= F.col("n_han"))
            & (F.col("n_latin") >= F.col("n_cyrillic")),
            "latin",
        )
        .when(F.col("n_han") >= F.col("n_cyrillic"), "han")
        .otherwise("cyrillic"),
    )


@query(
    "quality_bigram_logprob",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(words)),
               i -> struct_pack(w1 := words[i], w2 := words[i+1]))) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      WHERE len(words) >= 2
    ), pairs AS (
      SELECT g.w1 AS w1, g.w2 AS w2, COUNT(*) AS c12 FROM grams GROUP BY 1, 2
    ), lefts AS (
      SELECT w1, SUM(c12) AS c1 FROM pairs GROUP BY w1
    ), vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM pairs),
    scored AS (
      SELECT p.w1, p.w2,
             CAST({round_half('LN((p.c12 + 1.0) / (l.c1 + vocab.v))', 4)}
                  AS DECIMAL(18,4)) AS logp
      FROM pairs p JOIN lefts l USING (w1), vocab
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(CAST(SUM(s.logp) AS DOUBLE) / COUNT(*) AS DOUBLE) AS mean_logp
    FROM grams g JOIN scored s ON s.w1 = g.g.w1 AND s.w2 = g.g.w2
    GROUP BY doc_id
    """,
)
def quality_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score — the conditional-probability step up
    from quality_unigram_logprob: mean log P(w_i | w_{i-1}) under an
    add-one-smoothed corpus bigram model.  Catches locally-scrambled
    text (every word common, transitions improbable) that a unigram
    score passes.

    Scale shape: identical to collocation_pmi's — one bigram explode,
    ONE (w1,w2) aggregate, marginals reaggregated from the pair table.
    The scored PAIR table is vocab^2-order-sized (unlike the unigram
    vocab), so the score join carries NO broadcast hint: AQE broadcasts
    it when it fits and falls back to a (w1,w2)-keyed shuffle join when
    a web-scale bigram table doesn't.  DECIMAL-exact log-prob sums per
    the float-stability convention.  The scan rides a kernel_floor
    (round 12): the per-row bigram transform+explode feeds two
    consumers and would otherwise run single-task on a single-split
    input."""
    d = kernel_floor(t(spark, sf_dir, "documents"))
    grams = (
        d.select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 1),
                    lambda i: F.struct(
                        F.element_at("words", i).alias("w1"),
                        F.element_at("words", i + 1).alias("w2"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    # EAGER for the same reason as collocation_pmi's pair table: lazy
    # checkpoints race under multi-reference plans and re-run the
    # corpus aggregate per referencing stage.  Build-time job + leak
    # cap: see collocation_pmi.
    pairs = supersede_checkpoint(
        "bigram_pairs",
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        ,
    )
    lefts = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = pairs.agg(F.countDistinct("w2").alias("v"))
    scored = (
        pairs.join(lefts, "w1")
        .crossJoin(F.broadcast(vocab))
        .selectExpr(
            "w1",
            "w2",
            f"CAST({round_half('LN((c12 + 1.0) / (c1 + v))', 4)} AS DECIMAL(18,4)) AS logp",
        )
    )
    return (
        grams.join(scored, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("CAST(CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS DOUBLE)").alias(
                "mean_logp"
            ),
        )
    )


@query(
    "vocab_coverage",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, COUNT(*) AS cnt FROM words GROUP BY w
    ), ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rnk,
             SUM(cnt) OVER (ORDER BY cnt DESC, w
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM vocab
    ), tot AS (SELECT SUM(cnt) AS total FROM vocab),
    th(p100) AS (VALUES (50), (90), (99))
    SELECT th.p100,
           MIN(r.rnk) AS k_words,
           CAST(MIN(r.cum) AS BIGINT) AS cum_tokens
    FROM th, ranked r, tot
    WHERE r.cum * 100 >= th.p100 * tot.total
    GROUP BY th.p100
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing question: how
    many distinct words (by frequency rank) cover 50% / 90% / 99% of
    all token occurrences.  A steep curve says a small vocab suffices;
    a flat one says the corpus is typo/boilerplate-heavy.

    Scale shape: ONE word-keyed aggregate does the corpus-sized work;
    the ranked running sum runs over the vocab table (language-sized).
    The vocab-wide window is single-partition by construction — correct
    here because vocab << corpus; at web-scale vocab, two-phase rank
    (per-partition prefix sums + offset join) replaces it with the same
    contract.  Thresholds compare as exact integers (cum*100 >=
    p*total) — no float in the cut."""
    words = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window as W

    w_rank = W.orderBy(F.col("cnt").desc(), F.col("w"))
    ranked = vocab.select(
        "cnt",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("cnt").over(w_rank.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
    )
    tot = vocab.agg(F.sum("cnt").alias("total"))
    th = literal_df(words.sparkSession, [(50,), (90,), (99,)], "p100 int")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(th),
            F.col("cum") * 100 >= F.col("p100") * F.col("total"),
        )
        .groupBy("p100")
        .agg(F.min("rnk").alias("k_words"), F.min("cum").alias("cum_tokens"))
    )


@query(
    "quality_bucket_shares",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, CAST({round_half('LN(CAST(COUNT(*) AS DOUBLE)'
                              ' / (SELECT COUNT(*) FROM words))', 4)}
                     AS DECIMAL(18,4)) AS logp
      FROM words GROUP BY w
    ), scored AS (
      SELECT doc_id,
             CAST(CAST(SUM(v.logp) AS DOUBLE) / COUNT(*) AS DOUBLE) AS mean_logp
      FROM words JOIN vocab v USING (w) GROUP BY doc_id
    ), bucketed AS (
      SELECT d.source,
             NTILE(3) OVER (ORDER BY s.mean_logp DESC, s.doc_id) AS bucket
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT bucket, source, COUNT(*) AS n_docs
    FROM bucketed GROUP BY bucket, source
    """,
)
def quality_bucket_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: rank every document by its
    unigram-LM score, cut the corpus into head/middle/tail thirds
    (NTILE), and report per-(bucket, source) document counts — the
    table that decides how much of each source's head vs tail a
    training mixture takes.

    Scale shape: reuses quality_unigram_logprob's plan (one word
    aggregate, vocab broadcast back); the tertile cut is exact
    NTILE(3) but never a global-order window — two_phase_rank over
    score-domain buckets (-FLOOR(mean_logp * 64): per-token log-
    probs live in a fixed few-unit range, so the bucket count is
    bounded regardless of corpus size) + exact_ntile_sql rank
    arithmetic.  Ties broken by doc_id so the cut is deterministic
    on both engines."""
    from instructions_mr_spark.queries._util import exact_ntile_sql, two_phase_rank

    scored = quality_unigram_logprob(spark, sf_dir)

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    joined = scored.select("doc_id", "mean_logp").join(docs, "doc_id")
    bucketed = two_phase_rank(
        joined,
        -F.floor(F.col("mean_logp") * 64),
        [F.col("mean_logp").desc(), F.col("doc_id")],
        rn_name="_rn",
        n_name="_n",
    ).select(
        "source", F.expr(exact_ntile_sql("_rn", "_n", 3)).alias("bucket")
    )
    return bucketed.groupBy("bucket", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )

collocation_pmi.__doc__ = (collocation_pmi.__doc__ or '').replace('{_PMI_MIN_COUNT}', str(_PMI_MIN_COUNT))  # fill plan-constant into help()


def _ensemble_oracle() -> str:
    """Composed oracle: CTE-wraps the three signal queries' OWN oracle
    strings (the registry is composable on the SQL side too), ranks
    docs by the LM score, and ANDs the gates with a reject bitmask."""
    # runs at import time of THIS module: pull in the blocklist's
    # module explicitly so a direct `import ...queries.text` (without
    # registry.load_all's fixed order) still finds its oracle —
    # one-way import, no cycle (llm_pipeline never imports text)
    import instructions_mr_spark.queries.llm_pipeline  # noqa: F401

    from instructions_mr_spark.registry import ORACLES

    g = ORACLES["quality_filter_gopher"]
    b = ORACLES["quality_blocklist_hits"]
    lm = ORACLES["quality_unigram_logprob"]
    return f"""
    WITH g AS ({g}), b AS ({b}), lm AS ({lm}),
    ranked AS (
      SELECT doc_id, mean_logp,
             ROW_NUMBER() OVER (ORDER BY mean_logp, doc_id) AS rk,
             COUNT(*) OVER () AS n
      FROM lm
    )
    SELECT g.doc_id,
           g.keep AS keep_gopher,
           NOT b.flagged AS keep_blocklist,
           r.rk > r.n // 10 AS keep_lm,
           (g.keep AND NOT b.flagged AND r.rk > r.n // 10) AS keep,
           CAST(CASE WHEN NOT g.keep THEN 1 ELSE 0 END
              + CASE WHEN b.flagged THEN 2 ELSE 0 END
              + CASE WHEN r.rk <= r.n // 10 THEN 4 ELSE 0 END AS BIGINT)
             AS reject_bits
    FROM g
    JOIN b ON g.doc_id = b.doc_id
    JOIN ranked r ON g.doc_id = r.doc_id
    """


@query("quality_ensemble_keep", oracle=_ensemble_oracle())
def quality_ensemble_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal ENSEMBLE (the Dolma/RedPajama "mixer" shape):
    the final keep decision a curation run applies, ANDing the Gopher
    rule gate, the blocklist gate, and a bottom-decile cut on the
    unigram-LM score — with per-signal attribution (keep_* columns and
    an integer reject bitmask: 1=gopher, 2=blocklist, 4=lm), because a
    mixer that can't say WHY a doc died can't be tuned.

    Scale shape: the two rule gates are scan projections; the LM
    bottom-decile threshold is found with a distributed
    TakeOrdered(k) over (score, doc_id) — NEVER a global-order window
    over the corpus — and applied as a broadcast 1-row tuple compare.
    The three signals join on doc_id (one co-partitioned exchange
    set).  Ties are impossible cross-engine: the cut compares the
    exact (DECIMAL-sum-derived score, doc_id) pair."""
    g = quality_filter_gopher(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_gopher")
    )
    from instructions_mr_spark.queries.llm_pipeline import quality_blocklist_hits

    b = quality_blocklist_hits(spark, sf_dir).select(
        "doc_id", (~F.col("flagged")).alias("keep_blocklist")
    )
    lm = supersede_checkpoint(
        "ensemble_lm",
        quality_unigram_logprob(spark, sf_dir)
        .select("doc_id", "mean_logp")
        ,
    )
    n = lm.count()  # bounded scalar: the decile dial needs corpus size
    k = n // 10
    if k > 0:
        thr = (
            lm.orderBy("mean_logp", "doc_id")
            .limit(k)
            .agg(F.max(F.struct("mean_logp", "doc_id")).alias("thr"))
        )
        scored = lm.crossJoin(F.broadcast(thr)).select(
            "doc_id",
            (F.struct("mean_logp", "doc_id") > F.col("thr")).alias("keep_lm"),
        )
    else:
        scored = lm.select("doc_id", F.lit(True).alias("keep_lm"))
    out = g.join(b, "doc_id").join(scored, "doc_id")
    return out.select(
        "doc_id",
        "keep_gopher",
        "keep_blocklist",
        "keep_lm",
        (F.col("keep_gopher") & F.col("keep_blocklist") & F.col("keep_lm")).alias(
            "keep"
        ),
        (
            F.when(~F.col("keep_gopher"), 1).otherwise(0)
            + F.when(~F.col("keep_blocklist"), 2).otherwise(0)
            + F.when(~F.col("keep_lm"), 4).otherwise(0)
        )
        .cast("bigint")
        .alias("reject_bits"),
    )


# -------------------------------------------- BPE merge-pair counting

_BPE_TOP = 20


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (
      SELECT word, COUNT(*) AS wc FROM toks
      WHERE word != '' GROUP BY word
    ),
    pairs AS (
      SELECT substr(word, i, 2) AS pair, wc
      FROM wc, LATERAL (SELECT unnest(generate_series(
        1, CAST(length(word) AS BIGINT) - 1)) AS i) s
      WHERE length(word) >= 2
    )
    SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT {_BPE_TOP}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training step at corpus scale: count every
    adjacent character pair weighted by word frequency and emit the
    top {_BPE_TOP} merge candidates — the inner loop of
    Sennrich et al.'s byte-pair encoding, which production tokenizer
    trainers (SentencePiece/HF tokenizers) run over exactly this
    aggregate.  Deterministic tie-break: (count DESC, pair ASC).

    Scale shape: the corpus explode collapses FIRST into a distinct-
    word count table (Zipf: vocabulary is ~sqrt-ish of token count,
    so the expensive char-pair explode runs over vocab, not corpus);
    pair counting is then a second small group-by, and the top-k is
    TakeOrdered — no global sort.  Iterating the full BPE loop merges
    the winning pair into the vocab table and repeats: each round is
    these same two narrow exchanges over an ever-smaller vocab."""
    d = t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    pairs = (
        wc.filter(F.length("word") >= 2)
        .selectExpr(
            "explode(transform(sequence(1, length(word) - 1),"
            " i -> substring(word, i, 2))) AS pair",
            "wc",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_TOP)
    )


# ------------------------------------------- seed-lexicon topic tagging

_TOPIC_SEEDS = [
    ("storage", "table"), ("storage", "row"), ("storage", "part"),
    ("storage", "batch"),
    ("exec", "scan"), ("exec", "fast"), ("exec", "slow"), ("exec", "merge"),
    ("query", "sort"), ("query", "window"), ("query", "hash"),
    ("query", "agg"),
]

_TOPIC_VALUES = ", ".join(f"('{t_}', '{k}')" for t_, k in _TOPIC_SEEDS)


@query(
    "topic_seed_assign",
    oracle=f"""
    WITH seeds(topic, kw) AS (VALUES {_TOPIC_VALUES}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    hits AS (
      SELECT t.doc_id, s.topic, COUNT(*) AS cnt
      FROM toks t JOIN seeds s ON t.word = s.kw
      GROUP BY t.doc_id, s.topic
    ),
    elected AS (
      SELECT doc_id, topic, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, topic) AS rn
      FROM hits
    )
    SELECT topic,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(cnt) AS BIGINT) AS won_hits
    FROM elected WHERE rn = 1 GROUP BY topic
    """,
)
def topic_seed_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-lexicon topic tagging (the cheap domain classifier that
    drives mixture weighting before any model-based labeler exists):
    a tiny topic->keyword lexicon is BROADCAST against the token
    stream, hits are counted per (doc, topic), and each doc elects
    its argmax topic with a deterministic tie-break (count DESC,
    topic ASC).  Output is the per-topic doc count and the hit mass
    of the winning assignments.  Docs matching no seed keyword stay
    unlabeled (excluded) — the honest behavior for a seed lexicon.

    Scale shape: the lexicon join is a broadcast hash join inside the
    scan stage (no corpus shuffle to tag tokens); the only exchanges
    are the (doc_id, topic) count and the per-doc election window,
    both narrow int/short-string rows.  At 100 TB the election
    replaces ROW_NUMBER with max_by(struct) to skip the sort."""
    seeds = literal_df(spark, _TOPIC_SEEDS, "topic string, kw string")
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    hits = (
        toks.join(F.broadcast(seeds), toks.word == seeds.kw)
        .groupBy("doc_id", "topic")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "topic")
    elected = hits.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return elected.groupBy("topic").agg(
        F.count("*").alias("n_docs"),
        F.sum("cnt").alias("won_hits"),
    )


# --------------------------------------- conjunctive posting intersection

_CONJ_TERMS = ("table", "scan", "merge")


@query(
    "posting_list_intersect",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    postings AS (
      SELECT doc_id, word, COUNT(*) AS tf
      FROM toks
      WHERE word IN {str(_CONJ_TERMS)}
      GROUP BY doc_id, word
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_total
    FROM postings
    GROUP BY doc_id
    HAVING COUNT(*) = {len(_CONJ_TERMS)}
    """,
)
def posting_list_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) retrieval by posting-list intersection: docs
    containing ALL query terms {_CONJ_TERMS}, with their summed term
    frequency — the boolean-retrieval primitive bm25_topk (disjunctive
    scored) doesn't cover.  Intersection-as-aggregation: a doc
    qualifies iff its distinct matching-term count equals the query
    length, so the whole query is filter -> two narrow group-bys —
    no N-way self-join of posting lists.

    Scale shape: the IN-list predicate prunes the token stream inside
    the scan stage; the postings group-by ships (doc_id, word, tf)
    only for matching terms (a tiny fraction of the corpus); at 100 TB
    the postings table is pre-materialized once (doc_id-bucketed) and
    every conjunctive query becomes one aggregate over its terms'
    slices, cheapest-term-first."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    postings = (
        toks.filter(F.col("word").isin(*_CONJ_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    return (
        postings.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("tf_total"),
            F.count("*").alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(_CONJ_TERMS))
        .drop("n_terms")
    )


bpe_pair_counts.__doc__ = (bpe_pair_counts.__doc__ or "").replace(
    "{_BPE_TOP}", str(_BPE_TOP)
)
posting_list_intersect.__doc__ = (posting_list_intersect.__doc__ or "").replace(
    "{_CONJ_TERMS}", str(_CONJ_TERMS)
)


# ------------------------------------------ lang-id confusion matrix

from instructions_mr_spark.registry import ORACLES as _ORACLES


@query(
    "langid_confusion",
    oracle=f"""
    WITH guessed AS ({_ORACLES['lang_id']})
    SELECT d.lang AS declared, g.lang_guess AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM guessed g JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-predicted language confusion matrix: the audit
    that catches mislabeled `lang` metadata (and classifier drift) at
    corpus scale — off-diagonal mass is either bad metadata or bad
    language ID, and both gate mixture decisions keyed on language.
    Composes the registered lang_id classifier verbatim (same
    stopword-vote, same tie policy) so the matrix can never disagree
    with the classifier it audits; the oracle CTE-composes lang_id's
    oracle the same way (the quality_ensemble_keep composition
    pattern).

    Scale shape: the classifier is a scan projection; the join back
    to the declared label is by doc_id (at 100 TB: both sides carry
    (doc_id, 2-char code) only); the matrix aggregate has
    |langs|^2 groups — trivially small."""
    guessed = lang_id(spark, sf_dir).select("doc_id", "lang_guess")
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        guessed.join(d, "doc_id")
        .groupBy(
            F.col("lang").alias("declared"),
            F.col("lang_guess").alias("predicted"),
        )
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------- Zipf vocabulary fit


@query(
    "zipf_vocab_fit",
    oracle=f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word != '' GROUP BY word
    ),
    hist AS (SELECT c, COUNT(*) AS n_words FROM wc GROUP BY c),
    base AS (
      SELECT c, COALESCE(SUM(n_words) OVER (
               ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS rank_base
      FROM hist
    ),
    ranked AS (
      SELECT w.word, w.c,
             b.rank_base + ROW_NUMBER() OVER (PARTITION BY w.c ORDER BY w.word)
               AS r
      FROM wc w JOIN base b USING (c)
    ),
    pts AS (
      SELECT CAST({round_half('ln(CAST(r AS DOUBLE))', 10)} AS DECIMAL(18,10)) AS x,
             CAST({round_half('ln(CAST(c AS DOUBLE))', 10)} AS DECIMAL(18,10)) AS y
      FROM ranked
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_vocab,
           {round_half('(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
                 ' / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))', 6)}
             AS slope,
           {round_half('(CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
                 ' / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n', 6)}
             AS intercept,
           {round_half('POWER(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)'
                 ' / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))'
                    ' * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))', 6)}
             AS r2
    FROM s
    """,
)
def zipf_vocab_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: least-squares slope /
    intercept / R² of log(frequency) against log(rank) — natural text
    sits near slope -1, and deviation is a corpus-health signal
    (synthetic/templated text flattens the head, OCR noise fattens
    the tail).  Tokenizer sizing reads the same curve (how much mass
    the next 10k vocab slots buy).

    Scale shape: ranking NEVER uses a global-order window over the
    vocabulary.  Two-phase rank (the pack_concat_chunks prefix-sum
    pattern): the frequency HISTOGRAM (distinct counts — tiny, Zipf
    guarantees it) gets cumulative bases in one tiny window; each
    word then ranks within its frequency class only (vocab-sized
    exchange partitioned BY COUNT VALUE, deterministic word
    tie-break).  The regression sums are DECIMAL-exact over
    10-decimal-rounded logs (the column_entropy convention), so both
    engines divide the same numbers once at the end, short of a 1-ulp
    libm flip of a log within an ulp of a rounding boundary."""
    d = t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    hist = wc.groupBy("c").agg(F.count("*").alias("n_words"))
    wbase = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = hist.select(
        "c", F.coalesce(F.sum("n_words").over(wbase), F.lit(0)).alias("rank_base")
    )
    win = Window.partitionBy("c").orderBy("word")
    ranked = wc.join(base, "c").select(
        "c", (F.col("rank_base") + F.row_number().over(win)).alias("r")
    )
    pts = ranked.select(
        F.expr(f"CAST({round_half('ln(CAST(r AS DOUBLE))', 10)} AS DECIMAL(18,10))").alias("x"),
        F.expr(f"CAST({round_half('ln(CAST(c AS DOUBLE))', 10)} AS DECIMAL(18,10))").alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x*y")).alias("sxy"),
        F.sum(F.expr("x*x")).alias("sxx"),
        F.sum(F.expr("y*y")).alias("syy"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_vocab",
        round_half("(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                   " / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6)
        + " AS slope",
        round_half("(CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                   " / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n", 6)
        + " AS intercept",
        round_half("POWER(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)"
                   " / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
                   " * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 6)
        + " AS r2",
    )


_CDC_MOD = 8  # boundary when h32(word) % 8 == 0 -> ~8-word chunks


@query(
    "cdc_chunk_stats",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id,
             len(words) AS n_words,
             1 + len(list_filter(words[1:len(words)-1],
                     w -> {duck_hash('w', 5)} % {_CDC_MOD} = 0)) AS n_chunks
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      WHERE len(words) > 0
    )
    SELECT n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM per_doc GROUP BY n_chunks ORDER BY n_chunks
    """,
)
def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking profile: split every document at
    words whose portable h32 hits 0 mod {_CDC_MOD} (the Rabin/gear
    boundary rule rsync, borg, and storage dedup use — boundaries
    follow CONTENT, so an insertion only reshuffles its own chunk,
    unlike fixed-size blocks where one byte shifts every later
    boundary).  Reports the chunks-per-doc distribution — the dial
    check before committing a chunk-level dedup pass (expected chunk
    length = the modulus).  The final word never opens a boundary,
    so every doc has >= 1 chunk.

    Scale shape: boundary detection is IN-ROW array algebra on the
    scan (no explode); the histogram groups on the small
    chunks-per-doc domain."""
    d = t(spark, sf_dir, "documents")
    h = spark_hash("w", 5)
    per_doc = (
        d.select(
            "doc_id", F.split("text", " ").alias("words")
        )
        .filter(F.size("words") > 0)
        .select(
            F.size("words").alias("n_words"),
            (
                F.lit(1)
                + F.size(
                    F.expr(
                        f"FILTER(slice(words, 1, size(words) - 1), w -> {h} % {_CDC_MOD} = 0)"
                    )
                )
            ).alias("n_chunks"),
        )
    )
    return (
        per_doc.groupBy("n_chunks")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        )
        .orderBy("n_chunks")
    )


# ------------------------------------- positional phrase search

_PHRASE = ("slow", "hash", "batch")


@query(
    "phrase_match_positions",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    p AS (SELECT doc_id, word, pos FROM toks
          WHERE word IN {str(_PHRASE)})
    SELECT p0.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM p p0
    JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
    JOIN p p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
    WHERE p0.word = '{_PHRASE[0]}' AND p1.word = '{_PHRASE[1]}'
      AND p2.word = '{_PHRASE[2]}'
    GROUP BY p0.doc_id
    """,
)
def phrase_match_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search {_PHRASE} by POSITIONAL posting-list
    intersection — the retrieval primitive the conjunctive AND query
    (posting_list_intersect) cannot express: the terms must appear
    consecutively, so each posting carries its token position and the
    intersection joins on (doc_id, pos + offset).  This is how every
    inverted-index engine runs quoted queries; counting adjacent
    bigrams (bpe_pair_counts) cannot generalize to length-3+ phrases
    with repeated tokens, position arithmetic does.

    Scale shape: the IN-list prunes the token stream to the phrase's
    terms inside the scan stage (postings for 3 words, not the
    corpus); both positional joins key on doc_id so one exchange
    hash-partitions all three sides together; output is one narrow
    row per matching doc.  At 100 TB the positional postings table is
    materialized once, doc_id-bucketed, and phrase queries never
    rescan text."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    p = toks.filter(F.col("word").isin(*_PHRASE))
    p0 = p.filter(F.col("word") == _PHRASE[0]).select("doc_id", "pos")
    p1 = p.filter(F.col("word") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    p2 = p.filter(F.col("word") == _PHRASE[2]).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    return (
        p0.join(p1, ["doc_id", "pos"])
        .join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )


# ------------------------------------------- Borda rank fusion

_FUSE_TERMS = ("join", "merge", "sort")


@query(
    "rank_fusion_borda",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    cand AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf_total,
             ANY_VALUE(d.n_chars) AS n_chars
      FROM toks t JOIN documents d ON d.doc_id = t.doc_id
      WHERE t.word IN {str(_FUSE_TERMS)}
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT doc_id, tf_total, n_chars,
             ROW_NUMBER() OVER (ORDER BY tf_total DESC, doc_id) AS r_tf,
             ROW_NUMBER() OVER (ORDER BY n_chars ASC, doc_id) AS r_len,
             COUNT(*) OVER () AS n_cand
      FROM cand
    )
    SELECT doc_id, tf_total, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(2 * n_cand - r_tf - r_len AS BIGINT) AS borda_score
    FROM ranked
    ORDER BY r_tf + r_len ASC, doc_id ASC
    LIMIT 20
    """,
)
def rank_fusion_borda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda-count rank fusion of two retrieval signals — term
    frequency for {_FUSE_TERMS} (relevance) and document brevity
    (n_chars ascending, a quality prior) — the integer-exact sibling
    of reciprocal-rank fusion: each candidate scores (N - rank) per
    list and the sums are fused, so no float reciprocals and no
    cross-engine tie hazards.  Every ranking breaks ties by doc_id,
    making the full fused order deterministic.

    Scale shape: candidate generation prunes to docs matching >= 1
    term inside the scan; the two rankings are windows over the
    pruned candidate set only.  The single-partition window is the
    honest small-candidate-set plan; at 100 TB candidates are ranked
    per-partition top-k first (topk_per_group's pattern) and only
    k * n_partitions rows reach the global fuse."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    cand = (
        toks.filter(F.col("word").isin(*_FUSE_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf_total"))
        .join(d.select("doc_id", "n_chars"), "doc_id")
    )
    from pyspark.sql import Window

    w_tf = Window.orderBy(F.col("tf_total").desc(), "doc_id")
    w_len = Window.orderBy(F.col("n_chars").asc(), "doc_id")
    ranked = (
        cand.withColumn("r_tf", F.row_number().over(w_tf))
        .withColumn("r_len", F.row_number().over(w_len))
        .withColumn("n_cand", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    return (
        ranked.select(
            "doc_id",
            "tf_total",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            (2 * F.col("n_cand") - F.col("r_tf") - F.col("r_len"))
            .cast("bigint")
            .alias("borda_score"),
            (F.col("r_tf") + F.col("r_len")).alias("_rsum"),
        )
        .orderBy(F.col("_rsum").asc(), F.col("doc_id").asc())
        .limit(20)
        .drop("_rsum")
    )


phrase_match_positions.__doc__ = (phrase_match_positions.__doc__ or "").replace(
    "{_PHRASE}", str(_PHRASE)
)
rank_fusion_borda.__doc__ = (rank_fusion_borda.__doc__ or "").replace(
    "{_FUSE_TERMS}", str(_FUSE_TERMS)
)


# --------------------------------------- n-gram novelty over time


@query(
    "ngram_novelty_rate",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, source,
             {duck_hash('gram', 41, hex_digits=15)} AS gk
      FROM (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
                 AS gram
        FROM (SELECT doc_id, source, string_split(text, ' ') AS words
              FROM documents)
        WHERE len(words) >= 3
      )
    ),
    first AS (SELECT gk, MIN(doc_id) AS first_doc FROM grams GROUP BY 1)
    SELECT g.source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS novelty_e6
    FROM grams g JOIN first f USING (gk)
    GROUP BY 1
    """,
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source novelty rate of word 3-grams under doc-id
    (= ingestion) order: the share of a source's distinct
    (doc, gram) occurrences where that doc is the gram's FIRST
    appearance in the whole corpus — the 'is this feed still
    teaching the model anything new' curve that drives crawl
    re-visit budgets; boilerplate-heavy feeds decay toward zero.

    Scale shape: grams never shuffle as strings — each gram maps to
    the portable 60-bit digest (functions.spark_hash/duck_hash, the
    r7 digest-key convention) at the scan, so the first-seen aggregate and the
    join back both exchange bare BIGINTs; the per-source rollup is
    map-side combinable.  Gram explosion is linear in corpus tokens
    and pipelined inside the scan stage."""
    words = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 3)
    )
    grams = (
        words.select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("words") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("words", i),
                            F.element_at("words", i + 1),
                            F.element_at("words", i + 2),
                        ),
                    )
                )
            ).alias("gram"),
        )
        .selectExpr("doc_id", "source", f"{spark_hash('gram', 41, hex_digits=15)} AS gk")
        .distinct()
    )
    first = grams.groupBy("gk").agg(F.min("doc_id").alias("first_doc"))
    j = grams.join(first, "gk")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        F.expr(
            "CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("novelty_e6"),
    )


# -------------------------------------- curation gate waterfall


@query(
    "filter_waterfall_attrition",
    oracle="""
    WITH f AS (
      SELECT source,
             COUNT(*) AS n0,
             SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN n_chars >= 100 AND lang = 'en'
                      THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN n_chars >= 100 AND lang = 'en'
                       AND len(string_split(text, ' ')) >= 20
                      THEN 1 ELSE 0 END) AS n3
      FROM documents GROUP BY 1
    )
    SELECT source, 0 AS stage, 'all' AS gate,
           CAST(n0 AS BIGINT) AS n_surviving,
           CAST(1000000 AS BIGINT) AS survival_e6 FROM f
    UNION ALL
    SELECT source, 1, 'min_chars', CAST(n1 AS BIGINT),
           CAST(n1 * 1000000 // n0 AS BIGINT) FROM f
    UNION ALL
    SELECT source, 2, 'lang_en', CAST(n2 AS BIGINT),
           CAST(n2 * 1000000 // n0 AS BIGINT) FROM f
    UNION ALL
    SELECT source, 3, 'min_words', CAST(n3 AS BIGINT),
           CAST(n3 * 1000000 // n0 AS BIGINT) FROM f
    """,
)
def filter_waterfall_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-gate waterfall — per source, how many documents
    survive each successive quality gate (length floor, then
    language, then word-count floor) and the cumulative survival
    rate: the attrition report every data-curation pipeline publishes
    so a feed that suddenly loses 90%% at one gate is caught before
    training.  Gates here are the cheap deterministic stand-ins for
    the production classifiers (quality_filter_gopher et al.); the
    SHAPE — nested conditional counts in one pass, then a bounded
    unpivot — is the production plan.

    Scale shape: ONE scan with nested conditional aggregates (each
    doc evaluated once, map-side combinable); the 4-stage unpivot
    (stack) runs on |sources| rows, never on the corpus."""
    f = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n0"),
            F.sum(F.when(F.col("n_chars") >= 100, 1).otherwise(0)).alias("n1"),
            F.sum(
                F.when(
                    (F.col("n_chars") >= 100) & (F.col("lang") == "en"), 1
                ).otherwise(0)
            ).alias("n2"),
            F.sum(
                F.when(
                    (F.col("n_chars") >= 100)
                    & (F.col("lang") == "en")
                    & (F.size(F.split("text", " ")) >= 20),
                    1,
                ).otherwise(0)
            ).alias("n3"),
        )
    )
    return f.selectExpr(
        "source",
        "stack(4,"
        " 0, 'all', CAST(n0 AS BIGINT), CAST(1000000 AS BIGINT),"
        " 1, 'min_chars', CAST(n1 AS BIGINT), CAST(n1 * 1000000 DIV n0 AS BIGINT),"
        " 2, 'lang_en', CAST(n2 AS BIGINT), CAST(n2 * 1000000 DIV n0 AS BIGINT),"
        " 3, 'min_words', CAST(n3 AS BIGINT), CAST(n3 * 1000000 DIV n0 AS BIGINT)"
        ") AS (stage, gate, n_surviving, survival_e6)",
    ).selectExpr(
        "source",
        "CAST(stage AS INT) AS stage",
        "gate",
        "n_surviving",
        "survival_e6",
    )


# --------------------------------------- cross-source vocab overlap


@query(
    "source_vocab_overlap",
    oracle=f"""
    WITH v AS (
      SELECT DISTINCT source, {duck_hash('tok', 43, hex_digits=15)} AS gk
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM v GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_shared
      FROM v a JOIN v b ON a.gk = b.gk AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           CAST(sa.n AS BIGINT) AS n_vocab_a,
           CAST(sb.n AS BIGINT) AS n_vocab_b,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST(i.n_shared * 1000000 // (sa.n + sb.n - i.n_shared)
                AS BIGINT) AS jaccard_e6
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — which feeds
    speak the same language (literally): the corpus-composition
    signal behind mixture design (near-duplicate feeds waste budget)
    and domain-shift alarms (a feed whose vocabulary overlap
    collapses changed its content).  Vocabulary items are word
    digests (the portable 60-bit key — strings never shuffle), the
    intersection comes from a digest-keyed self-join, and the union
    is inclusion-exclusion over exact integer sizes.

    Scale shape: one DISTINCT (source, digest) aggregate is the
    corpus exchange; the self-join keys on the digest (bare BIGINT,
    co-partitioned with the distinct), intersections roll up
    map-side to |sources|^2/2 rows, and the tiny size table joins
    broadcast."""
    v = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .selectExpr("source", f"{spark_hash('tok', 43, hex_digits=15)} AS gk")
        .distinct()
    )
    v = supersede_checkpoint("vocab_overlap_v", v)
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gk") == F.col("b.gk"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .selectExpr(
            "source_a",
            "source_b",
            "CAST(na AS BIGINT) AS n_vocab_a",
            "CAST(nb AS BIGINT) AS n_vocab_b",
            "CAST(n_shared AS BIGINT) AS n_shared",
            "CAST(n_shared * 1000000 DIV (na + nb - n_shared) AS BIGINT)"
            " AS jaccard_e6",
        )
    )


# --------------------------------------- sentence length profile


@query(
    "sentence_length_profile",
    oracle="""
    WITH s AS (
      SELECT lang,
             len(list_filter(string_split(trim(sent), ' '),
                             w -> w <> '')) AS n_words
      FROM (SELECT lang, unnest(string_split(text, '.')) AS sent
            FROM documents)
      WHERE trim(sent) <> ''
    ),
    v AS (SELECT lang, n_words, COUNT(*) AS c FROM s GROUP BY 1, 2),
    cum AS (
      SELECT lang, n_words, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY n_words
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER (PARTITION BY lang) AS n
      FROM v
    )
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS n_sentences,
           CAST(SUM(n_words * c) AS BIGINT) AS sum_words,
           CAST(MIN(CASE WHEN 2 * cum_c >= n THEN n_words END) AS BIGINT)
             AS median_words,
           CAST(MIN(CASE WHEN 10 * cum_c >= 9 * n THEN n_words END)
                AS BIGINT) AS p90_words
    FROM cum GROUP BY lang
    """,
)
def sentence_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-length profile per language — sentence count, total
    words, and the exact median/p90 words-per-sentence: the
    readability/segmentation signal quality classifiers and chunkers
    both key on (machine-generated text and OCR garbage sit far off
    a language's natural profile).  Sentences split on '.', lengths
    count non-empty whitespace tokens, and both order statistics are
    value-domain exact integers.

    Scale shape: sentence explosion is linear and pipelined in the
    scan stage; the (lang, length) count table is the only exchange
    and the cumulative picks run on DISTINCT lengths — never a
    per-sentence sort."""
    s = (
        t(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", "[.]")).alias("sent"))
        .filter(F.trim(F.col("sent")) != "")
        .select(
            "lang",
            F.size(
                F.filter(
                    F.split(F.trim(F.col("sent")), " "),
                    lambda w: w != "",
                )
            ).alias("n_words"),
        )
    )
    v = s.groupBy("lang", "n_words").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy("n_words")
    cum = v.select(
        "lang",
        "n_words",
        "c",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_c"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n"),
    )
    return cum.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_sentences"),
        F.sum(F.col("n_words") * F.col("c")).cast("bigint").alias("sum_words"),
        F.min(F.when(2 * F.col("cum_c") >= F.col("n"), F.col("n_words")))
        .cast("bigint")
        .alias("median_words"),
        F.min(
            F.when(10 * F.col("cum_c") >= 9 * F.col("n"), F.col("n_words"))
        )
        .cast("bigint")
        .alias("p90_words"),
    )


# ------------------------------- greedy set-cover source selection


@query(
    "greedy_set_cover_sources",
    oracle=f"""
    WITH v AS MATERIALIZED (
      SELECT DISTINCT source, {duck_hash('big', 47, hex_digits=15)} AS gk
      FROM (
        SELECT source,
               unnest(list_transform(range(1, len(words)),
                 i -> words[i] || ' ' || words[i+1])) AS big
        FROM (SELECT source, string_split(text, ' ') AS words
              FROM documents)
        WHERE len(words) >= 2
      )
    ),
    c1 AS (SELECT source, COUNT(*) AS gain FROM v GROUP BY 1),
    p1 AS (SELECT source, gain FROM c1 ORDER BY gain DESC, source LIMIT 1),
    cov1 AS (SELECT DISTINCT gk FROM v WHERE source = (SELECT source FROM p1)),
    c2 AS (
      SELECT v.source, COUNT(*) AS gain FROM v
      WHERE v.source <> (SELECT source FROM p1)
        AND NOT EXISTS (SELECT 1 FROM cov1 WHERE cov1.gk = v.gk)
      GROUP BY 1
    ),
    p2 AS (SELECT source, gain FROM c2 ORDER BY gain DESC, source LIMIT 1),
    cov2 AS (
      SELECT gk FROM cov1
      UNION
      SELECT gk FROM v WHERE source = (SELECT source FROM p2)
    ),
    c3 AS (
      SELECT v.source, COUNT(*) AS gain FROM v
      WHERE v.source NOT IN ((SELECT source FROM p1), (SELECT source FROM p2))
        AND NOT EXISTS (SELECT 1 FROM cov2 WHERE cov2.gk = v.gk)
      GROUP BY 1
    ),
    p3 AS (SELECT source, gain FROM c3 ORDER BY gain DESC, source LIMIT 1)
    SELECT 1 AS round, source, CAST(gain AS BIGINT) AS gain FROM p1
    UNION ALL
    SELECT 2, source, CAST(gain AS BIGINT) FROM p2
    UNION ALL
    SELECT 3, source, CAST(gain AS BIGINT) FROM p3
    """,
)
def greedy_set_cover_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage source selection — which 3 feeds
    together cover the most distinct word-bigram vocabulary (bigrams,
    not unigrams — the synthetic corpus' unigram vocab collapses
    into one source): round 1 picks the source with the largest
    bigram set, each later round the source
    adding the most NOT-yet-covered word digests (the classic (1-1/e)
    greedy set-cover heuristic, the algorithm behind 'which corpora
    do we actually need' budget decisions).  Ties break by source
    name; gains are exact distinct-digest counts.

    Scale shape: the DISTINCT (source, digest) table stages once and
    every round is one anti-join against the covered-digest set
    (bare-BIGINT keys) plus a bounded argmax — 3 static rounds, no
    driver-side loop over data; the covered set is itself a digest
    column, never strings."""
    words = (
        t(spark, sf_dir, "documents")
        .select("source", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
    )
    v = (
        words.select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("words", i), F.element_at("words", i + 1)
                    ),
                )
            ).alias("big"),
        )
        .selectExpr("source", f"{spark_hash('big', 47, hex_digits=15)} AS gk")
        .distinct()
    )
    v = supersede_checkpoint("setcover_v", v)

    def argmax(counts):
        return counts.orderBy(F.desc("gain"), "source").limit(1)

    c1 = v.groupBy("source").agg(F.count(F.lit(1)).alias("gain"))
    p1 = supersede_checkpoint("setcover_p1", argmax(c1))
    cov1 = v.join(F.broadcast(p1.select("source")), "source").select("gk").distinct()
    rest2 = v.join(F.broadcast(p1.select("source")), "source", "left_anti")
    c2 = (
        rest2.join(cov1, "gk", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("gain"))
    )
    p2 = supersede_checkpoint("setcover_p2", argmax(c2))
    cov2 = cov1.unionByName(
        v.join(F.broadcast(p2.select("source")), "source").select("gk")
    ).distinct()
    picked = p1.select("source").unionByName(p2.select("source"))
    c3 = (
        v.join(F.broadcast(picked), "source", "left_anti")
        .join(cov2, "gk", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("gain"))
    )
    p3 = argmax(c3)
    return (
        p1.select(F.lit(1).alias("round"), "source", F.col("gain").cast("bigint"))
        .unionByName(
            p2.select(F.lit(2).alias("round"), "source", F.col("gain").cast("bigint"))
        )
        .unionByName(
            p3.select(F.lit(3).alias("round"), "source", F.col("gain").cast("bigint"))
        )
    )


# ------------------------------------- reciprocal-rank fusion (RRF)

_RRF_K = 60

_RRF_DUCK = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    cand AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf_total,
             ANY_VALUE(d.n_chars) AS n_chars
      FROM toks t JOIN documents d ON d.doc_id = t.doc_id
      WHERE t.word IN {str(_FUSE_TERMS)}
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT doc_id, tf_total, n_chars,
             ROW_NUMBER() OVER (ORDER BY tf_total DESC, doc_id) AS r_tf,
             ROW_NUMBER() OVER (ORDER BY n_chars ASC, doc_id) AS r_len
      FROM cand
    )
    SELECT doc_id, tf_total, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(1000000000 // ({_RRF_K} + r_tf)
                + 1000000000 // ({_RRF_K} + r_len) AS BIGINT) AS rrf_e9
    FROM ranked
    ORDER BY rrf_e9 DESC, doc_id ASC
    LIMIT 20
"""


@query("rank_fusion_rrf", oracle=_RRF_DUCK)
def rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the same two retrieval signals as
    rank_fusion_borda (term frequency for {_FUSE_TERMS}, document
    brevity) — the industry-default fusion for hybrid lexical+vector
    retrieval, with the 1/(k + rank) reciprocals integerized as
    1e9 DIV (k + rank), k = {_RRF_K}, so the fused scores (and
    therefore the output order) are exact integers on both engines —
    no float summation at the cut boundary.

    Scale shape: identical to rank_fusion_borda — candidates are
    pruned to term-matching docs inside the scan, both rankings are
    windows over the pruned candidate set only, and the top-20 is
    TakeOrderedAndProject.  At 100 TB candidates rank per-partition
    top-k first (topk_per_group's pattern) before the global fuse."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    cand = (
        toks.filter(F.col("word").isin(*_FUSE_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf_total"))
        .join(d.select("doc_id", "n_chars"), "doc_id")
    )
    from pyspark.sql import Window

    w_tf = Window.orderBy(F.col("tf_total").desc(), "doc_id")
    w_len = Window.orderBy(F.col("n_chars").asc(), "doc_id")
    ranked = cand.withColumn("r_tf", F.row_number().over(w_tf)).withColumn(
        "r_len", F.row_number().over(w_len)
    )
    return (
        ranked.select(
            "doc_id",
            "tf_total",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.expr(
                f"CAST(1000000000 DIV ({_RRF_K} + r_tf)"
                f" + 1000000000 DIV ({_RRF_K} + r_len) AS BIGINT)"
            ).alias("rrf_e9"),
        )
        .orderBy(F.col("rrf_e9").desc(), F.col("doc_id").asc())
        .limit(20)
    )


rank_fusion_rrf.__doc__ = (rank_fusion_rrf.__doc__ or "").replace(
    "{_FUSE_TERMS}", str(_FUSE_TERMS)
).replace("{_RRF_K}", str(_RRF_K))


# ----------------------------------------- round-8 corpus batch

_BPEISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
_CTX_LEN = 512


@query(
    "doc_truncation_loss",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             len(regexp_extract_all(text, '{_BPEISH}')) AS tok
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tok,
           CAST(SUM(GREATEST(tok - {_CTX_LEN}, 0)) AS BIGINT) AS lost_tok,
           CAST(SUM(CASE WHEN tok > {_CTX_LEN} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_trunc_docs,
           CAST(CASE WHEN SUM(tok) = 0 THEN 0
                ELSE SUM(GREATEST(tok - {_CTX_LEN}, 0)) * 1000000 // SUM(tok)
                END AS BIGINT) AS loss_e6
    FROM toks GROUP BY source
    """,
)
def doc_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation loss per source: with documents cut
    at {_CTX_LEN} BPE-ish tokens (the token_count lexer), how many
    tokens per source fall off the end, how many documents are
    affected, and the lost share as a 1e6 fixed-point ratio — the
    number that decides between truncating, chunking, or dropping a
    source when packing sequences for training.

    Scale shape: per-row regex token count on the scan, then ONE
    map-side-combinable per-source rollup — no window, output bounded
    by the source domain."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.size(
            F.regexp_extract_all("text", F.lit(_BPEISH), 0)
        ).alias("tok"),
    )
    L = _CTX_LEN
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("total_tok"),
        F.sum(F.greatest(F.col("tok") - L, F.lit(0)))
        .cast("bigint")
        .alias("lost_tok"),
        F.sum(F.when(F.col("tok") > L, 1).otherwise(0))
        .cast("bigint")
        .alias("n_trunc_docs"),
        F.expr(
            f"CAST(CASE WHEN SUM(tok) = 0 THEN 0"
            f" ELSE SUM(GREATEST(tok - {L}, 0)) * 1000000 DIV SUM(tok)"
            f" END AS BIGINT)"
        ).alias("loss_e6"),
    )


doc_truncation_loss.__doc__ = (doc_truncation_loss.__doc__ or "").replace(
    "{_CTX_LEN}", str(_CTX_LEN)
)


@query(
    "tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{_BPEISH}'))) AS BIGINT)
             AS s_bpeish,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS s_ws,
           CAST(SUM(len(regexp_extract_all(text, '{_BPEISH}'))) * 1000000
                // SUM(len(string_split(text, ' '))) AS BIGINT)
             AS fertility_e6
    FROM documents GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word as a 1e6 fixed-point ratio — the standard 'how many subwords
    does this language cost' metric that drives per-language token
    budgets and flags scripts the lexer fragments badly (fertility
    far above ~1.3e6).  Shares the token_count lexer so the two
    token-counting surfaces cannot drift apart.

    Scale shape: per-row regex counts on the scan, one per-lang
    rollup — map-side combinable, output bounded by the language
    domain."""
    d = t(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(_BPEISH), 0)).alias("nb"),
        F.size(F.split("text", " ")).alias("nw"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("s_bpeish"),
        F.sum("nw").cast("bigint").alias("s_ws"),
        F.expr("CAST(SUM(nb) * 1000000 DIV SUM(nw) AS BIGINT)").alias(
            "fertility_e6"
        ),
    )


@query(
    "charclass_token_profile",
    oracle="""
    WITH c AS (
      SELECT source,
             len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha,
             len(regexp_extract_all(text, '[0-9]+')) AS n_digit,
             len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_sym
      FROM documents
    )
    SELECT source,
           CAST(SUM(n_alpha) AS BIGINT) AS alpha_tok,
           CAST(SUM(n_digit) AS BIGINT) AS digit_tok,
           CAST(SUM(n_sym) AS BIGINT) AS sym_tok,
           CAST(CASE WHEN SUM(n_alpha + n_digit + n_sym) = 0 THEN 0
                ELSE SUM(n_alpha) * 1000000
                     // SUM(n_alpha + n_digit + n_sym) END AS BIGINT)
             AS alpha_share_e6,
           CAST(CASE WHEN SUM(n_alpha + n_digit + n_sym) = 0 THEN 0
                ELSE SUM(n_sym) * 1000000
                     // SUM(n_alpha + n_digit + n_sym) END AS BIGINT)
             AS sym_share_e6
    FROM c GROUP BY source
    """,
)
def charclass_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-class composition per source — letter runs, digit runs
    and symbol tokens under the shared BPE-ish lexer, with the alpha
    and symbol shares as 1e6 fixed-point ratios.  Sources dominated
    by digits or symbols (tables, logs, minified markup) are exactly
    the ones that poison a language-model mix, and this is the
    cheapest screen that catches them.

    Scale shape: three per-row regex counts on the scan, one
    per-source map-side-combinable rollup — no window, no join."""
    d = t(spark, sf_dir, "documents")
    c = d.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+"), 0)).alias(
            "n_alpha"
        ),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)).alias(
            "n_digit"
        ),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9 ]"), 0)
        ).alias("n_sym"),
    )
    tot = "SUM(n_alpha + n_digit + n_sym)"
    return c.groupBy("source").agg(
        F.sum("n_alpha").cast("bigint").alias("alpha_tok"),
        F.sum("n_digit").cast("bigint").alias("digit_tok"),
        F.sum("n_sym").cast("bigint").alias("sym_tok"),
        F.expr(
            f"CAST(CASE WHEN {tot} = 0 THEN 0"
            f" ELSE SUM(n_alpha) * 1000000 DIV {tot} END AS BIGINT)"
        ).alias("alpha_share_e6"),
        F.expr(
            f"CAST(CASE WHEN {tot} = 0 THEN 0"
            f" ELSE SUM(n_sym) * 1000000 DIV {tot} END AS BIGINT)"
        ).alias("sym_share_e6"),
    )


@query(
    "good_turing_spectrum",
    oracle=f"""
    WITH w AS (
      SELECT string_split(text, ' ') AS words FROM documents
    ),
    grams AS (
      SELECT unnest(list_transform(generate_series(1, len(words) - 1),
                    k -> words[k] || ' ' || words[k + 1])) AS gram
      FROM w WHERE len(words) >= 2
    ),
    counts AS (
      SELECT {duck_hash("gram", 8, hex_digits=15)} AS g, COUNT(*) AS c
      FROM grams GROUP BY 1
    )
    SELECT CAST(LEAST(c, 11) AS BIGINT) AS c_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(c) AS BIGINT) AS occurrences
    FROM counts GROUP BY 1
    """,
)
def good_turing_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-of-counts spectrum of corpus bigrams (the Good-Turing
    input sheet): how many distinct bigrams occur exactly c times for
    c = 1..10 (11 = everything rarer than rank-10 pooled), with the
    token mass at each count — N_1/N gives the Good-Turing unseen-
    bigram mass estimate, and the spectrum's shape is the standard
    smoothing diagnostic for any n-gram LM built on the corpus.

    Scale shape: one explode (bigrams) and one aggregate keyed on the
    60-bit gram digest (bodies never shuffle — the house digest-only
    convention), then a second rollup onto the 11-bucket count domain
    — map-side combinable both times, output bounded at 11 rows."""
    d = t(spark, sf_dir, "documents")
    w = d.select(F.split("text", " ").alias("words")).filter(
        F.size("words") >= 2
    )
    grams = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(words) - 1),"
                " k -> element_at(words, k) || ' ' || element_at(words, k + 1))"
            )
        ).alias("gram")
    )
    counts = grams.groupBy(
        F.expr(spark_hash("gram", 8, hex_digits=15)).alias("g")
    ).agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy(
        F.least(F.col("c"), F.lit(11)).cast("bigint").alias("c_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum("c").cast("bigint").alias("occurrences"),
    )


@query(
    "hapax_ratio_by_source",
    oracle=f"""
    WITH words AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    freqs AS (
      SELECT source, {duck_hash("w", 9, hex_digits=15)} AS wd, COUNT(*) AS c
      FROM words WHERE w <> '' GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(c) AS BIGINT) AS tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS hapax_e6
    FROM freqs GROUP BY source
    """,
)
def hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomenon share per source: the fraction of each source's
    vocabulary that occurs exactly once (1e6 fixed point) plus vocab
    and token totals — the classic lexical-richness statistic: low
    hapax share means templated / boilerplate text, implausibly high
    means OCR noise or gibberish, and the number directly forecasts
    vocabulary growth under Heaps' law when the source is scaled up.

    Scale shape: one explode and one (source x word-digest)-keyed
    aggregate (digest-only shuffle), then a per-source rollup —
    map-side combinable, output bounded by the source domain."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    freqs = words.groupBy(
        "source", F.expr(spark_hash("w", 9, hex_digits=15)).alias("wd")
    ).agg(F.count(F.lit(1)).alias("c"))
    return freqs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
        F.sum("c").cast("bigint").alias("tokens"),
        F.expr(
            "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(1) AS BIGINT)"
        ).alias("hapax_e6"),
    )


# ================================================================ round 9


@query(
    "char_bigram_diversity",
    oracle="""
    WITH bi AS (
      SELECT doc_id, substr(substr(text, 1, 200), i, 2) AS bg
      FROM documents,
           LATERAL (SELECT UNNEST(range(1, length(substr(text, 1, 200))))
                    AS i) g
      WHERE length(text) >= 2
    ),
    counted AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS diversity_e6,
           CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_share_e6
    FROM counted GROUP BY doc_id
    """,
)
def char_bigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram diversity — the log-free compressibility
    proxy: over each document's first 200 chars, the distinct-bigram
    ratio (low = repetitive/template text, the cheap zlib-ratio
    stand-in) and the top-bigram share (high = one pattern dominates),
    both exact e6 integers.  Complements quality_repetition's
    word-level fractions with the sub-word view that catches
    character-level boilerplate (ASCII art, padding runs, base64
    blobs) that word features miss.

    Scale shape: bigram explosion is linear in clipped text length
    (<= 199 rows/doc); one (doc, bigram) aggregate and one doc
    aggregate share the doc-keyed exchange — map-side combinable, no
    joins."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    bi = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(substring(text, 1, 200)) - 1),"
                " i -> substring(substring(text, 1, 200), i, 2))"
            )
        ).alias("bg"),
    )
    counted = bi.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return counted.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.expr("CAST(COUNT(*) * 1000000 DIV SUM(c) AS BIGINT)").alias("diversity_e6"),
        F.expr("CAST(MAX(c) * 1000000 DIV SUM(c) AS BIGINT)").alias("top_share_e6"),
    )


@query(
    "source_common_prefix",
    oracle="""
    WITH mm AS (
      SELECT source,
             COUNT(*) AS n_docs,
             MIN(substr(text, 1, 100)) AS lo,
             MAX(substr(text, 1, 100)) AS hi
      FROM documents GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(len(list_filter(range(1, LEAST(length(lo), length(hi)) + 1),
                i -> substr(lo, 1, i) = substr(hi, 1, i))) AS BIGINT)
             AS lcp_len,
           substr(lo, 1,
             len(list_filter(range(1, LEAST(length(lo), length(hi)) + 1),
                 i -> substr(lo, 1, i) = substr(hi, 1, i)))) AS lcp
    FROM mm ORDER BY source
    """,
)
def source_common_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate head detection per source: the longest
    common prefix shared by EVERY document of a source, computed via
    the order-statistics identity LCP(set) = LCP(lexicographic min,
    lexicographic max) — so the whole corpus collapses to TWO strings
    per source in one aggregate, and no doc-pair comparison ever
    happens.  A non-trivial shared prefix is the signature of a
    scraper template ('Subscribe to read...') that should be stripped
    before dedup/training.  Prefix equality is monotone, so counting
    the equal-prefix positions (capped at 100 chars) IS the LCP
    length.

    Scale shape: one source-keyed MIN/MAX aggregate (map-side
    combinable) over the corpus; the O(cap^2) prefix scan runs on
    |sources| rows."""
    mm = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(F.expr("substring(text, 1, 100)")).alias("lo"),
            F.max(F.expr("substring(text, 1, 100)")).alias("hi"),
        )
    )
    lcp_len = (
        "size(filter(sequence(1, LEAST(length(lo), length(hi))),"
        " i -> substring(lo, 1, i) = substring(hi, 1, i)))"
    )
    return mm.selectExpr(
        "source",
        "n_docs",
        f"CAST({lcp_len} AS BIGINT) AS lcp_len",
        f"substring(lo, 1, {lcp_len}) AS lcp",
    ).orderBy("source")


# Winnowing geometry: k-gram size, window width, text cap.
_WIN_K = 8
_WIN_W = 4
_WIN_CAP = 200


def _winnow_kernel():
    """Arrow-batched winnowing kernel (round 12, optimization session
    5; guide §4.2): gram-hash + window-select + distinct + checksum
    for whole record batches in native code.  Exactly the values the
    JVM expression chain produced (verified row-identical for all
    5,000 sf0.1 documents before the swap; the oracle recomputes
    every value in DuckDB):

    * gram hash = first 8 md5 hex chars of the k-char substring,
      parsed base-16 — identical to the 8-digit
      functions.spark_hash/duck_hash of the gram (md5 of the UTF-8
      bytes; Python str slicing is character-based like substring());
    * window min with the RIGHTMOST-occurrence tie rule via argmin
      over the reversed window;
    * fingerprint encoding pos * 2^32 + hash32, distinct, int64 sum
      (max fp < 194 * 2^32, <= 190 per doc — no overflow).

    Why Python here when the package doctrine is JVM-first: the HOF
    chain evaluated ~965k interpreted md5+CONV elements per sf0.1
    pass (~73 us/element — the md5 itself is sub-microsecond; the
    cost is per-element interpreted expression overhead, and
    transform() is CodegenFallback).  Measured interleaved at sf0.1:
    3.23–3.30 s (JVM, min-of-3) -> 1.26–1.46 s Arrow.  Construction
    (imports) happens once per task before the batch loop (§4.5);
    only (doc_id, text<=cap) crosses the boundary.  Returns the
    per-batch function: texts -> (n_grams, n_fingerprints,
    fp_checksum) columns, all null for a document too short to fill
    one window."""
    import hashlib

    import numpy as np

    cap, k, w = _WIN_CAP, _WIN_K, _WIN_W

    def one(text: str) -> tuple[int, int, int] | None:
        s = text[:cap]
        n = len(s) - k + 1
        if n < w:  # same drop as .filter(size(gh) >= w)
            return None
        gh = np.fromiter(
            (
                int(hashlib.md5(s[i : i + k].encode("utf-8")).hexdigest()[:8], 16)
                for i in range(n)
            ),
            dtype=np.int64,
            count=n,
        )
        sw = np.lib.stride_tricks.sliding_window_view(gh, w)
        # argmin takes the FIRST minimum; the winnowing tie rule is
        # RIGHTMOST, so argmin over the reversed window
        pos_in_win = w - 1 - sw[:, ::-1].argmin(axis=1)
        rows = np.arange(len(sw))
        fps = (rows + pos_in_win + 1).astype(np.int64) * 4294967296 + sw[
            rows, pos_in_win
        ]
        uf = np.unique(fps)
        return n, len(uf), int(uf.sum())

    def winnow(texts: list[str]) -> list[list]:
        rows = [one(t) for t in texts]
        return [[None if r is None else r[i] for r in rows] for i in range(3)]

    return winnow


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, length(substr(text, 1, {_WIN_CAP})) - {_WIN_K} + 2),
               i -> {duck_hash(f"substr(substr(text, 1, {_WIN_CAP}), i, {_WIN_K})")}
             ) AS gh
      FROM documents WHERE length(text) >= {_WIN_K}
    ),
    sel AS (
      SELECT doc_id, len(gh) AS n_grams,
             list_distinct(list_transform(range(1, len(gh) - {_WIN_W} + 2),
               j -> (CAST(j AS BIGINT)
                     + {_WIN_W} + 1
                     - list_position(list_reverse(gh[j:j+{_WIN_W - 1}]),
                                     list_min(gh[j:j+{_WIN_W - 1}]))
                     - 1) * 4294967296
                    + list_min(gh[j:j+{_WIN_W - 1}])
             )) AS fps
      FROM g WHERE len(gh) >= {_WIN_W}
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           CAST(list_sum(fps) AS BIGINT) AS fp_checksum
    FROM sel ORDER BY doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every {k}-char gram of the first {cap}
    chars, slide a width-{w} window, and select each window's minimal
    hash with the RIGHTMOST-occurrence tie rule; consecutive windows
    re-selecting the same (position, hash) collapse to one
    fingerprint.  Winnowing's guarantee — at least one selection per
    window, so any match of length >= k + w - 1 between two documents
    shares a fingerprint — is what makes it the local-similarity
    sibling of MinHash (global resemblance) and the span-digest
    family (exact substrings).  Fingerprints are encoded
    pos * 2^32 + hash32 so the selection set is an integer list on
    both engines; the output ships count + checksum per doc (the
    fingerprint INDEX would be the (hash -> doc, pos) inversion of
    this projection).

    Scale shape: an Arrow-batched per-row kernel, O(cap * w) per
    document — the most CPU-dense kernel in the text family — behind
    a kernel_floor on the scan (round 12): riding the scan coupled
    the task count to the input-split count, and sf0.1's single-file
    documents table ran the whole kernel on 1 of 32 cores (10.25 s;
    2.88 s with the floor's one cheap repartition).  Only
    (doc_id, text) crosses the Python boundary and only four BIGINTs
    come back; no shuffle after the floor until a consumer groups by
    fingerprint.

    Kernel history: the round-11 rewrite made the JVM expression
    chain evaluate one struct array_min per window (6.84 -> 5.33 s at
    sf1).  Round 12 session 5 measured that the remaining cost was
    the GRAM-HASH stage (2.58 s of the 3.1 s sf0.1 wall — ~965k
    interpreted md5+CONV HOF elements at ~73 us each, transform()
    being CodegenFallback), and moved the whole kernel to an
    Arrow-batched Python kernel per guide §4.2: 3.23–3.30 ->
    1.26–1.46 s interleaved at sf0.1, row-identical output for all
    5,000 documents (see _winnow_kernel for the exactness
    argument; the DuckDB oracle revalidates every value).  The
    kernel runs on the package's one mapInArrow boundary
    (operators/arrow_map.py): a document too short for one window
    comes back as a null row, which a JVM filter drops."""
    docs = kernel_floor(t(spark, sf_dir, "documents"), full=True).filter(
        F.length("text") >= _WIN_K
    )
    return (
        map_columns(
            docs,
            ["doc_id"],
            [F.col("text")],
            T.StructType.fromDDL(
                "n_grams bigint, n_fingerprints bigint, fp_checksum bigint"
            ),
            _winnow_kernel,
        )
        .filter(F.col("n_grams").isNotNull())
        .orderBy("doc_id")
    )


# Flesch-style reading ease from integer sufficient statistics: the
# corpus has no sentence punctuation, so each DOCUMENT is the
# sentence unit (documented proxy).  One shared expression derives
# the floats from exact BIGINT sums.
_FLESCH = round_half("206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_docs)"
                     " - 84.6 * (CAST(n_syll AS DOUBLE) / n_words)", 6)


@query(
    "readability_proxy_profile",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             len(string_split(text, ' ')) AS w,
             (SELECT SUM(GREATEST(len(regexp_extract_all(t.tok, '[aeiou]+')), 1))
              FROM UNNEST(string_split(text, ' ')) AS t(tok)) AS s
      FROM documents
    ),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(w) AS BIGINT) AS n_words,
             CAST(SUM(s) AS BIGINT) AS n_syll
      FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, n_words, n_syll,
           {round_half('CAST(n_syll AS DOUBLE) / n_words', 6)} AS syll_per_word,
           {_FLESCH} AS flesch_proxy
    FROM agg
    ORDER BY source
    """,
)
def readability_proxy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease proxy: syllables approximated
    as vowel-group runs per token (minimum 1 — consonant-only tokens
    still cost a syllable), sentences approximated as documents (the
    corpus carries no punctuation, documented), and the classic
    206.835 - 1.015*(W/S) - 84.6*(Syll/W) formula derived from exact
    BIGINT sums by one shared expression.  The standard 'is this feed
    drifting toward harder/garbled text' composition dial.

    Scale shape: in-row token algebra on the scan (explode + regexp
    count, pipelined), then one source-keyed map-side-combinable
    aggregate — 20 result rows, no join, no window."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split("text", " ")).alias("w"),
        F.expr(
            "aggregate(transform(split(text, ' '),"
            " tok -> GREATEST(size(regexp_extract_all(tok, '[aeiou]+', 0)), 1)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("s"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("s").cast("bigint").alias("n_syll"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_words",
            "n_syll",
            f"{round_half('CAST(n_syll AS DOUBLE) / n_words', 6)} AS syll_per_word",
            f"{_FLESCH} AS flesch_proxy",
        )
        .orderBy("source")
    )


# Entropy cells cross the engines as p*log2(p) rounded to 10 digits,
# as DECIMALs (the column_entropy idiom), so the SUM is order-free; a
# 1-ulp libm difference still flips a cell at a rounding boundary.
_ENT_CELL = (
    f"CAST({round_half('(CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)', 10)}"
    " AS DECIMAL(38,10))"
)


@query(
    "bigram_conditional_entropy_by_source",
    oracle=f"""
    WITH bi AS (
      SELECT source, ws[p] AS w1, ws[p + 1] AS w2
      FROM (SELECT source, string_split(text, ' ') AS ws FROM documents),
           UNNEST(range(1, len(ws))) AS t(p)
    ),
    c2 AS (SELECT source, w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2, 3),
    c1 AS (SELECT source, w1, SUM(c) AS c FROM c2 GROUP BY 1, 2),
    n AS (SELECT source, SUM(c) AS n FROM c1 GROUP BY 1),
    h2 AS (
      SELECT c2.source, -CAST(SUM({_ENT_CELL}) AS DOUBLE) AS h
      FROM c2 JOIN n USING (source) GROUP BY 1
    ),
    h1 AS (
      SELECT c1.source, -CAST(SUM({_ENT_CELL}) AS DOUBLE) AS h
      FROM c1 JOIN n USING (source) GROUP BY 1
    )
    SELECT n.source, CAST(n.n AS BIGINT) AS n_bigrams,
           {round_half('h2.h', 6)} AS h_bigram,
           {round_half('h1.h', 6)} AS h_prefix,
           {round_half('h2.h - h1.h', 6)} AS h_cond
    FROM n JOIN h2 USING (source) JOIN h1 USING (source)
    ORDER BY n.source
    """,
)
def bigram_conditional_entropy_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source conditional next-word entropy H(w2|w1) = H(bigram)
    - H(prefix): the information-theoretic repetitiveness dial —
    templated or boilerplate-heavy feeds predict their next token
    (low H_cond) while diverse prose doesn't, making this the
    principled cousin of the n-gram repetition heuristics (and a
    direct proxy for 'how much will a language model memorize this
    source').  Entropies use the rounded-decimal cell idiom
    (column_entropy) so the sums are order-free.

    Scale shape: one (source, w1, w2) count is the corpus exchange
    (map-side combinable); the prefix marginal derives from it
    (never re-scans); both entropy sums run over the Zipf-bounded
    bigram-vocabulary table — 20 result rows."""
    bi = (
        t(spark, sf_dir, "documents")
        .select("source", F.split("text", " ").alias("ws"))
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("source", "p.w1", "p.w2")
    )
    c2 = bi.groupBy("source", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c2 = supersede_checkpoint("bigram_cond_c2", c2)
    c1 = c2.groupBy("source", "w1").agg(F.sum("c").alias("c"))
    n = c1.groupBy("source").agg(F.sum("c").alias("n"))
    h2 = (
        c2.join(F.broadcast(n), "source")
        .groupBy("source")
        .agg((-F.sum(F.expr(_ENT_CELL)).cast("double")).alias("h2"))
    )
    h1 = (
        c1.join(F.broadcast(n), "source")
        .groupBy("source")
        .agg((-F.sum(F.expr(_ENT_CELL)).cast("double")).alias("h1"))
    )
    return (
        n.join(h2, "source")
        .join(h1, "source")
        .selectExpr(
            "source",
            "CAST(n AS BIGINT) AS n_bigrams",
            f"{round_half('h2', 6)} AS h_bigram",
            f"{round_half('h1', 6)} AS h_prefix",
            f"{round_half('h2 - h1', 6)} AS h_cond",
        )
        .orderBy("source")
    )


# JS divergence cells cross the engines as x*log2(x) rounded to 10
# digits, as DECIMALs (the column_entropy idiom).  p, q, m = (p+q)/2 derive from
# integer char counts; each of the three entropy sums is order-free.
_JS_CELL_P = (
    f"CAST({round_half('(CAST(cp AS DOUBLE) / np) * log2(CAST(cp AS DOUBLE) / np)', 10)}"
    " AS DECIMAL(38,10))"
)
_JS_CELL_Q = (
    f"CAST({round_half('(CAST(cq AS DOUBLE) / nq) * log2(CAST(cq AS DOUBLE) / nq)', 10)}"
    " AS DECIMAL(38,10))"
)
_JS_M = "(CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq) / 2"
_JS_CELL_M = f"CAST({round_half(f'({_JS_M}) * log2({_JS_M})', 10)} AS DECIMAL(38,10))"


@query(
    "char_js_divergence_langs",
    oracle=f"""
    WITH ch AS (
      SELECT lang, UNNEST(regexp_extract_all(text, '[a-z]')) AS c
      FROM documents
    ),
    cnt AS (SELECT lang, c, COUNT(*) AS n FROM ch GROUP BY 1, 2),
    tot AS (SELECT lang, SUM(n) AS nl FROM cnt GROUP BY 1),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b FROM tot a JOIN tot b
      ON a.lang < b.lang
    ),
    cells AS (
      SELECT p.lang_a, p.lang_b, c.c,
             COALESCE(ca.n, 0) AS cp, ta.nl AS np,
             COALESCE(cb.n, 0) AS cq, tb.nl AS nq
      FROM pairs p
      CROSS JOIN (SELECT DISTINCT c FROM cnt) c
      JOIN tot ta ON ta.lang = p.lang_a
      JOIN tot tb ON tb.lang = p.lang_b
      LEFT JOIN cnt ca ON ca.lang = p.lang_a AND ca.c = c.c
      LEFT JOIN cnt cb ON cb.lang = p.lang_b AND cb.c = c.c
    )
    SELECT lang_a, lang_b,
           {round_half(
             f'-CAST(SUM(CASE WHEN cp > 0 OR cq > 0 THEN {_JS_CELL_M} END)'
                   ' AS DOUBLE)'
             f' + (CAST(SUM(CASE WHEN cp > 0 THEN {_JS_CELL_P} END) AS DOUBLE)'
                f' + CAST(SUM(CASE WHEN cq > 0 THEN {_JS_CELL_Q} END) AS DOUBLE))'
               ' / 2', 6)} AS js_bits
    FROM cells
    GROUP BY lang_a, lang_b
    ORDER BY lang_a, lang_b
    """,
)
def char_js_divergence_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between language
    letter-frequency profiles: JS(p, q) = H(m) - (H(p) + H(q))/2 with
    m the midpoint — the symmetric, bounded-by-1-bit distance that
    language-ID confusions track (close language pairs like es/fr
    have low char-JS; zh transliterations sit far away).  The
    production use: pick which language pairs need a stronger
    classifier than character statistics.

    Cross-engine exactness: char counts are integers; each entropy
    cell crosses as x*log2 x rounded to 10 digits, a DECIMAL (column_entropy
    idiom), so the three sums are order-free and js_bits is exact to
    the rounding contract.

    Scale shape: one (lang, char) count over the extracted letters is
    the corpus exchange; pairs x chars is a 10 x 26 grid — everything
    after the count is constant-size."""
    ch = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.expr("regexp_extract_all(text, '[a-z]', 0)")).alias("c")
    )
    cnt = ch.groupBy("lang", "c").agg(F.count(F.lit(1)).alias("n"))
    cnt = supersede_checkpoint("js_char_cnt", cnt)
    tot = cnt.groupBy("lang").agg(F.sum("n").alias("nl"))
    pairs = (
        tot.select(F.col("lang").alias("lang_a"), F.col("nl").alias("np"))
        .crossJoin(tot.select(F.col("lang").alias("lang_b"), F.col("nl").alias("nq")))
        .filter(F.col("lang_a") < F.col("lang_b"))
    )
    chars = cnt.select("c").distinct()
    ca = cnt.select(
        F.col("lang").alias("lang_a"), F.col("c").alias("c"), F.col("n").alias("cp")
    )
    cb = cnt.select(
        F.col("lang").alias("lang_b"), F.col("c").alias("c"), F.col("n").alias("cq")
    )
    cells = (
        pairs.crossJoin(F.broadcast(chars))
        .join(ca, ["lang_a", "c"], "left")
        .join(cb, ["lang_b", "c"], "left")
        .select(
            "lang_a",
            "lang_b",
            "c",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            "np",
            F.coalesce("cq", F.lit(0)).alias("cq"),
            "nq",
        )
    )
    return (
        cells.groupBy("lang_a", "lang_b")
        .agg(
            F.expr(
                f"""{round_half(
              f'-CAST(SUM(CASE WHEN cp > 0 OR cq > 0 THEN {_JS_CELL_M} END)'
                    ' AS DOUBLE)'
              f' + (CAST(SUM(CASE WHEN cp > 0 THEN {_JS_CELL_P} END) AS DOUBLE)'
                 f' + CAST(SUM(CASE WHEN cq > 0 THEN {_JS_CELL_Q} END) AS DOUBLE))'
                ' / 2', 6)}"""
            ).alias("js_bits")
        )
        .orderBy("lang_a", "lang_b")
    )


@query(
    "kneser_ney_continuation_terms",
    oracle=f"""
    WITH bi AS (
      SELECT DISTINCT ws[p] AS w1, ws[p + 1] AS w2
      FROM (SELECT string_split(text, ' ') AS ws FROM documents),
           UNNEST(range(1, len(ws))) AS t(p)
    ),
    cont AS (
      SELECT w2 AS w, COUNT(*) AS n_left FROM bi GROUP BY 1
    ),
    freq AS (
      SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    fc AS (SELECT w, COUNT(*) AS c FROM freq GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_bigram_types FROM bi)
    SELECT fc.w AS term, CAST(fc.c AS BIGINT) AS freq,
           CAST(COALESCE(cont.n_left, 0) AS BIGINT) AS n_left_contexts,
           {round_half('CAST(COALESCE(cont.n_left, 0) AS DOUBLE)'
                 ' / tot.n_bigram_types', 9)} AS p_continuation,
           {round_half('CAST(COALESCE(cont.n_left, 0) AS DOUBLE) / fc.c', 6)}
             AS context_diversity
    FROM fc LEFT JOIN cont ON cont.w = fc.w, tot
    WHERE fc.c >= 50
    ORDER BY term
    """,
)
def kneser_ney_continuation_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney continuation counts for every frequent term: how
    many DISTINCT left contexts a word follows (the KN insight —
    'Francisco' is frequent but only ever follows 'San', so its
    continuation probability should be tiny) next to its raw
    frequency, the continuation probability n_left/|bigram types|,
    and the diversity ratio n_left/freq that separates versatile
    words from frozen-collocation tails.  These are THE sufficient
    statistics of the KN-smoothed bigram LM — the strongest n-gram
    smoother — and the quality signal behind 'is this source pasting
    templates' (template terms have high freq, low diversity).

    Scale shape: one DISTINCT (w1, w2) bigram-type exchange and one
    unigram count — both map-side combinable, both Zipf-bounded
    outputs; the join runs on the vocabulary."""
    d = t(spark, sf_dir, "documents").select(F.split("text", " ").alias("ws"))
    bi = (
        d.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .distinct()
    )
    bi = supersede_checkpoint("kn_bigram_types", bi)
    cont = bi.groupBy(F.col("w2").alias("w")).agg(F.count(F.lit(1)).alias("n_left"))
    fc = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c >= 50")
    )
    tot = bi.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    return (
        fc.join(cont, "w", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "w AS term",
            "CAST(c AS BIGINT) AS freq",
            "CAST(COALESCE(n_left, 0) AS BIGINT) AS n_left_contexts",
            f"{round_half('CAST(COALESCE(n_left, 0) AS DOUBLE) / n_bigram_types', 9)}"
            " AS p_continuation",
            f"{round_half('CAST(COALESCE(n_left, 0) AS DOUBLE) / c', 6)}"
            " AS context_diversity",
        )
        .orderBy("term")
    )


@query(
    "quality_feature_matrix",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           lang, source,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           {round_half('CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)', 6)} AS ttr,
           CAST(len(list_filter(range(1, len(ws)),
                                i -> ws[i] = ws[i + 1])) AS BIGINT)
             AS n_adjacent_repeats,
           {round_half('(CAST(LENGTH(text) AS DOUBLE) - (len(ws) - 1)) / len(ws)', 6)}
             AS avg_token_len,
           {round_half("CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)"
                 " / LENGTH(replace(text, ' ', ''))", 6)} AS vowel_ratio
    FROM (SELECT doc_id, lang, source, n_chars, text,
                 string_split(text, ' ') AS ws
          FROM documents)
    ORDER BY doc_id
    """,
)
def quality_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality feature matrix — the training table for a
    fastText/logistic quality classifier (the 'learn the filter from
    labeled seeds' step of modern curation, vs the hand-tuned Gopher
    thresholds): type-token ratio (templated text repeats itself),
    adjacent-repeat count (the classic generation-loop artifact),
    average token length and vowel ratio (garbled-encoding signals),
    all computed IN-ROW from the scan with no corpus pass — so
    feature extraction is a projection, shuffles nothing, and
    arbitrary downstream labels can join on doc_id.

    Scale shape: pure scan projection (whole-stage codegen); the
    ORDER BY is presentation-only."""
    return (
        t(spark, sf_dir, "documents")
        .withColumn("ws", F.split("text", " "))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "lang",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.size("ws").cast("bigint").alias("n_tokens"),
            round_half(
                F.size(F.array_distinct("ws")).cast("double") / F.size("ws"), 6
            ).alias("ttr"),
            F.expr(
                "CAST(size(filter(sequence(1, size(ws) - 1),"
                " i -> ws[i - 1] = ws[i])) AS BIGINT)"
            ).alias("n_adjacent_repeats"),
            round_half(
                (F.length("text").cast("double") - (F.size("ws") - 1))
                / F.size("ws"),
                6,
            ).alias("avg_token_len"),
            round_half(
                F.size(F.expr("regexp_extract_all(text, '[aeiou]', 0)")).cast(
                    "double"
                )
                / F.length(F.regexp_replace("text", " ", "")),
                6,
            ).alias("vowel_ratio"),
        )
        .orderBy("doc_id")
    )


# Fixed published weights (a trained filter would substitute its own;
# literals keep the op deterministic and cross-engine identical).
_LR_SCORE = (
    "1 / (1 + EXP(-("
    "-2.0 + 4.0 * ttr - 0.8 * n_adjacent_repeats"
    " + 0.3 * avg_token_len + 2.0 * vowel_ratio)))"
)


@query(
    "quality_logreg_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr,
             len(list_filter(range(1, len(ws)), i -> ws[i] = ws[i + 1]))
               AS n_adjacent_repeats,
             (CAST(LENGTH(text) AS DOUBLE) - (len(ws) - 1)) / len(ws)
               AS avg_token_len,
             CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
               / LENGTH(replace(text, ' ', '')) AS vowel_ratio
      FROM (SELECT doc_id, source, text, string_split(text, ' ') AS ws
            FROM documents)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {_LR_SCORE} >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           {round_half(f'CAST(SUM(CASE WHEN {_LR_SCORE} >= 0.5 THEN 1 ELSE 0 END)'
                      ' AS DOUBLE) / COUNT(*)', 6)} AS keep_rate,
           {round_half(f"AVG({round_half(_LR_SCORE, 9)})", 6)} AS mean_score
    FROM feat GROUP BY source
    ORDER BY source
    """,
)
def quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving half of the learned quality filter: a logistic
    score over the quality_feature_matrix features with FIXED
    published weights (swap in trained coefficients, same plan), a
    keep gate at 0.5, and per-source keep-rate / mean-score — how a
    fastText-style filter actually runs at corpus scale: one in-row
    sigmoid per document, one source-keyed rollup, zero shuffles
    before the rollup.  Float discipline: the sigmoid is a single
    shared expression over in-row doubles, and the only cross-row
    float (mean_score) averages values rounded to 9 digits.

    Scale shape: scan projection + map-side-combinable aggregate; 20
    result rows."""
    feat = (
        t(spark, sf_dir, "documents")
        .withColumn("ws", F.split("text", " "))
        .select(
            "source",
            (F.size(F.array_distinct("ws")).cast("double") / F.size("ws")).alias(
                "ttr"
            ),
            F.expr(
                "size(filter(sequence(1, size(ws) - 1), i -> ws[i - 1] = ws[i]))"
            ).alias("n_adjacent_repeats"),
            (
                (F.length("text").cast("double") - (F.size("ws") - 1))
                / F.size("ws")
            ).alias("avg_token_len"),
            (
                F.size(F.expr("regexp_extract_all(text, '[aeiou]', 0)")).cast(
                    "double"
                )
                / F.length(F.regexp_replace("text", " ", ""))
            ).alias("vowel_ratio"),
        )
    )
    return (
        feat.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.expr(f"CASE WHEN {_LR_SCORE} >= 0.5 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_kept"),
            round_half(F.avg(F.expr(round_half(_LR_SCORE, 9))), 6).alias("mean_score"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_kept",
            f"{round_half('CAST(n_kept AS DOUBLE) / n_docs', 6)} AS keep_rate",
            "mean_score",
        )
        .orderBy("source")
    )


# NDCG@10 discount weights as EXACT e6 integers (1e6 / log2(i+1),
# floored): literal constants, so DCG is pure integer arithmetic and
# the metric is bit-identical everywhere.
_NDCG_W_E6 = [1000000, 630929, 500000, 430676, 386852,
              356207, 333333, 315464, 301029, 289064]
_NDCG_QUERY_TERMS = ["join", "hash", "row", "batch", "scan"]


def _ndcg_weight_case(rank_col: str) -> str:
    cases = " ".join(
        f"WHEN {rank_col} = {i + 1} THEN {w}"
        for i, w in enumerate(_NDCG_W_E6)
    )
    return f"CASE {cases} ELSE 0 END"


@query(
    "ndcg_at10_terms",
    oracle=f"""
    WITH q AS (SELECT UNNEST({_NDCG_QUERY_TERMS!r}) AS term),
    tf AS (
      SELECT q.term, d.doc_id,
             len(list_filter(string_split(d.text, ' '), w -> w = q.term))
               AS rel
      FROM documents d CROSS JOIN q
    ),
    nz AS (SELECT term, doc_id, rel FROM tf WHERE rel > 0),
    ranked AS (
      SELECT term, rel,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY rel DESC, doc_id) AS rnk
      FROM nz
    ),
    ideal AS (
      SELECT term, rel,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY rel DESC, doc_id) AS rnk
      FROM nz
    ),
    dcg AS (
      SELECT term,
             CAST(SUM(CASE WHEN rnk <= 10
                      THEN rel * {_ndcg_weight_case("rnk")} ELSE 0 END)
                  AS BIGINT) AS dcg_e6
      FROM ranked GROUP BY term
    ),
    idcg AS (
      SELECT term,
             CAST(SUM(CASE WHEN rnk <= 10
                      THEN rel * {_ndcg_weight_case("rnk")} ELSE 0 END)
                  AS BIGINT) AS idcg_e6
      FROM ideal GROUP BY term
    )
    SELECT dcg.term, dcg.dcg_e6, idcg.idcg_e6,
           CAST(dcg.dcg_e6 * 1000000 // idcg.idcg_e6 AS BIGINT) AS ndcg_e6
    FROM dcg JOIN idcg USING (term)
    ORDER BY dcg.term
    """,
)
def ndcg_at10_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 harness for the retrieval family: term-frequency
    graded relevance, rank by (rel DESC, doc_id), log2 position
    discounts as EXACT e6 integer literals — so DCG, ideal DCG and
    their e6 ratio are pure integer arithmetic, bit-identical across
    engines (no float log in the hot path at all).  With the ranking
    equal to the ideal ordering NDCG is exactly 1e6 here — the
    harness exists so any RERANKER (fusion, PQ, MMR) can be scored by
    swapping its ordering into the ranked CTE and reading the drop.

    Scale shape: per-term postings from one in-row count (terms are a
    literal broadcast set); per-term top-10 windows compile to
    WindowGroupLimit; 5 result rows."""
    q = literal_df(spark,
        [(w,) for w in _NDCG_QUERY_TERMS], "term string"
    )
    d = t(spark, sf_dir, "documents")
    tf = (
        d.crossJoin(F.broadcast(q))
        .select(
            "term",
            "doc_id",
            F.expr(
                "size(filter(split(text, ' '), w -> w = term))"
            ).alias("rel"),
        )
        .filter("rel > 0")
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("term").orderBy(F.col("rel").desc(), "doc_id")
    ranked = tf.select("term", "rel", F.row_number().over(wr).alias("rnk"))
    wcase = _ndcg_weight_case("rnk")
    dcg = ranked.groupBy("term").agg(
        F.expr(
            f"CAST(SUM(CASE WHEN rnk <= 10 THEN rel * {wcase} ELSE 0 END)"
            " AS BIGINT)"
        ).alias("dcg_e6")
    )
    # identical ordering IS the ideal ordering in this harness
    idcg = dcg.select("term", F.col("dcg_e6").alias("idcg_e6"))
    return (
        dcg.join(idcg, "term")
        .selectExpr(
            "term",
            "dcg_e6",
            "idcg_e6",
            "CAST(dcg_e6 * 1000000 DIV idcg_e6 AS BIGINT) AS ndcg_e6",
        )
        .orderBy("term")
    )


@query(
    "crawl_quality_drift",
    oracle=f"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    per_doc AS (
      SELECT CAST(doc_id * 10 // mx.n AS BIGINT) AS decile,
             CAST({round_half('CAST(1000000.0 * len(list_distinct(ws)) AS DOUBLE) / len(ws)', 0)}
                  AS BIGINT) AS ttr_e6
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), mx
    ),
    dec AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ttr_e6) // COUNT(*) AS BIGINT) AS mean_ttr_e6
      FROM per_doc GROUP BY decile
    ),
    ends AS (
      SELECT MAX(CASE WHEN decile = 0 THEN mean_ttr_e6 END) AS first_d,
             MAX(CASE WHEN decile = 9 THEN mean_ttr_e6 END) AS last_d
      FROM dec
    )
    SELECT dec.decile, dec.n_docs, dec.mean_ttr_e6,
           CAST(ends.last_d - ends.first_d AS BIGINT) AS drift_last_vs_first_e6
    FROM dec, ends
    ORDER BY dec.decile
    """,
)
def crawl_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality drift along ingestion order: mean type-token ratio per
    doc_id decile (doc_id is the ingest sequence in this corpus), and
    the last-vs-first decile delta — the 'is the crawl frontier
    degrading' monitor that catches quality decay long before an
    aggregate corpus score moves (frontier pages are fetched last;
    their junk hides in the global mean).  Per-doc TTR is quantized
    to an e6 integer BEFORE averaging, so the decile means are exact
    integer arithmetic.

    Scale shape: one 1-row max broadcast onto the scan (the decile
    is in-row arithmetic), one decile-keyed map-side-combinable
    aggregate, 10 result rows."""
    mx = t(spark, sf_dir, "documents").agg((F.max("doc_id") + 1).alias("n"))
    per_doc = (
        t(spark, sf_dir, "documents")
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr("CAST(doc_id * 10 DIV n AS BIGINT)").alias("decile"),
            F.expr(
                "CAST("
                + round_half("CAST(1000000.0 * size(array_distinct(split(text, ' '))) AS DOUBLE)"
                             " / size(split(text, ' '))", 0)
                + " AS BIGINT)"
            ).alias("ttr_e6"),
        )
    )
    dec = per_doc.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(SUM(ttr_e6) DIV COUNT(*) AS BIGINT)").alias("mean_ttr_e6"),
    )
    ends = dec.agg(
        F.expr("MAX(CASE WHEN decile = 0 THEN mean_ttr_e6 END)").alias("first_d"),
        F.expr("MAX(CASE WHEN decile = 9 THEN mean_ttr_e6 END)").alias("last_d"),
    )
    return (
        dec.crossJoin(F.broadcast(ends))
        .selectExpr(
            "decile",
            "n_docs",
            "mean_ttr_e6",
            "CAST(last_d - first_d AS BIGINT) AS drift_last_vs_first_e6",
        )
        .orderBy("decile")
    )


# ------------------------------------------ MRR@10 retrieval eval


# Reciprocal-rank weights as exact e6 integer literals (1e6 / rank,
# floored) — same convention as the NDCG discount table: no float
# division anywhere, so the metric is bit-identical across engines.
_MRR_W_E6 = [1000000, 500000, 333333, 250000, 200000,
             166666, 142857, 125000, 111111, 100000]
_MRR_REL_MIN = 2  # graded rel >= 2 counts as "relevant" for MRR


def _mrr_weight_case(rank_col: str) -> str:
    cases = " ".join(
        f"WHEN {rank_col} = {i + 1} THEN {w}"
        for i, w in enumerate(_MRR_W_E6)
    )
    return f"CASE {cases} ELSE 0 END"


@query(
    "mrr_at10_terms",
    oracle=f"""
    WITH q AS (SELECT UNNEST({_NDCG_QUERY_TERMS!r}) AS term),
    tf AS (
      SELECT q.term, d.doc_id,
             len(list_filter(string_split(d.text, ' '), w -> w = q.term))
               AS rel
      FROM documents d CROSS JOIN q
    ),
    nz AS (SELECT term, doc_id, rel FROM tf WHERE rel > 0),
    ranked AS (
      SELECT term, rel,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY rel DESC, doc_id) AS rnk
      FROM nz
    ),
    firstrel AS (
      SELECT term, MIN(rnk) AS first_rank
      FROM ranked
      WHERE rel >= {_MRR_REL_MIN} AND rnk <= 10
      GROUP BY term
    )
    SELECT q.term,
           CAST(COALESCE(f.first_rank, 0) AS BIGINT) AS first_rel_rank,
           CAST(COALESCE({_mrr_weight_case("f.first_rank")}, 0) AS BIGINT)
             AS rr_e6
    FROM q LEFT JOIN firstrel f USING (term)
    ORDER BY q.term
    """,
)
def mrr_at10_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank harness (the third leg of the retrieval
    eval set, after recall@k and NDCG@10): per query term, rank docs
    by graded term-frequency relevance, call a doc RELEVANT when the
    term appears >= {_MRR_REL_MIN} times, and report the rank of the
    first relevant doc in the top-10 plus its reciprocal rank as an
    exact e6 integer (literal 1e6/rank table — no float division).
    first_rel_rank = 0 means no relevant doc reached the top 10; the
    MRR over terms is the mean of rr_e6, left to the reader so the
    per-term rows stay auditable.

    Scale shape: identical to ndcg_at10_terms — literal broadcast
    term set, in-row relevance counting on the scan, per-term top-10
    windows (WindowGroupLimit), |terms| result rows."""
    q = literal_df(spark,
        [(w,) for w in _NDCG_QUERY_TERMS], "term string"
    )
    d = t(spark, sf_dir, "documents")
    tf = (
        d.crossJoin(F.broadcast(q))
        .select(
            "term",
            "doc_id",
            F.expr(
                "size(filter(split(text, ' '), w -> w = term))"
            ).alias("rel"),
        )
        .filter("rel > 0")
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("term").orderBy(F.col("rel").desc(), "doc_id")
    ranked = tf.select("term", "rel", F.row_number().over(wr).alias("rnk"))
    firstrel = (
        ranked.filter(
            (F.col("rel") >= _MRR_REL_MIN) & (F.col("rnk") <= 10)
        )
        .groupBy("term")
        .agg(F.min("rnk").alias("first_rank"))
    )
    return (
        q.join(firstrel, "term", "left")
        .selectExpr(
            "term",
            "CAST(COALESCE(first_rank, 0) AS BIGINT) AS first_rel_rank",
            f"CAST(COALESCE({_mrr_weight_case('first_rank')}, 0) AS BIGINT)"
            " AS rr_e6",
        )
        .orderBy("term")
    )


mrr_at10_terms.__doc__ = (mrr_at10_terms.__doc__ or "").replace(
    "{_MRR_REL_MIN}", str(_MRR_REL_MIN)
)


# ---------------------------------- cross-doc CDC chunk dedup


@query(
    "cdc_cross_doc_dedup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, UNNEST(ws) AS w,
             CAST(UNNEST(range(1, len(ws) + 1)) AS BIGINT) AS pos,
             len(ws) AS n
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    flagged AS (
      SELECT doc_id, w, pos,
             CASE WHEN pos > 1 AND pos < n
                       AND {duck_hash('w', 5)} % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS is_boundary  -- h32(w, seed 5)
      FROM words
    ),
    chunked AS (
      SELECT doc_id, w, pos,
             SUM(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos)
               AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             string_agg(w, ' ' ORDER BY pos) AS chunk_text,
             COUNT(*) AS n_words
      FROM chunked GROUP BY 1, 2
    ),
    digests AS (
      SELECT {duck_hash("chunk_text", 9, hex_digits=15)} AS dg,
             n_words
      FROM chunks
    ),
    uniq AS (
      SELECT dg, MAX(n_words) AS n_words, COUNT(*) AS copies
      FROM digests GROUP BY dg
    )
    SELECT CAST(SUM(copies) AS BIGINT) AS total_chunks,
           CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
           CAST(SUM(copies * n_words) AS BIGINT) AS total_words,
           CAST(SUM((copies - 1) * n_words) AS BIGINT) AS dup_words,
           CAST(SUM((copies - 1) * n_words) * 1000000
                // SUM(copies * n_words) AS BIGINT) AS savings_e6
    FROM uniq
    """,
)
def cdc_cross_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document content-defined-chunk deduplication audit — the
    storage-level dedup measurement behind 'how much of this crawl is
    shared boilerplate?': every doc is split at content-defined
    boundaries — words at INTERIOR positions (2..n-1) whose 32-bit
    digest is 0 mod 8; boundaries survive insertions, unlike
    fixed-size blocks.  (cdc_chunk_stats' COUNT uses the same digest
    rule over positions 1..n-1, so its n_chunks treats a boundary at
    position 1 as opening a chunk after an empty head; a chunk STORE
    never materializes an empty chunk, so this op excludes position 1
    — for ~1/{_CDC_MOD} of docs the two counts differ by exactly
    one.)  Chunks are digested with the portable
    60-bit hash, and identical chunks across (or within) docs are
    counted once.  dup_words / total_words is the byte-savings a
    chunk-level dedup store would realize; the 60-bit digest keeps
    birthday collisions negligible at the corpus sizes the repo
    tests.

    Scale shape: posexplode + one doc_id-keyed window (per-doc
    running boundary count — bounded by DOC LENGTH, never corpus) +
    one (doc, chunk) assembly groupBy; the cross-doc dedup shuffles
    16-byte digests only, never chunk text (the digest election
    pattern every dedup op here uses).  Output is one row of five
    integers."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    words = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "w"),
        F.size(F.split("text", " ")).alias("n"),
    ).select("doc_id", "w", (F.col("pos0") + 1).alias("pos"), "n")
    flagged = words.select(
        "doc_id",
        "w",
        "pos",
        F.expr(
            f"CASE WHEN pos > 1 AND pos < n AND"
            f" {spark_hash('w', 5)} % {_CDC_MOD} = 0 THEN 1 ELSE 0 END"
        ).alias("is_boundary"),
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = flagged.select(
        "doc_id",
        "w",
        "pos",
        F.sum("is_boundary").over(w_doc).alias("chunk_id"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(pos, w))), s -> s.w))"
        ).alias("chunk_text"),
        F.count(F.lit(1)).alias("n_words"),
    )
    digests = chunks.select(
        F.expr(spark_hash("chunk_text", 9, hex_digits=15)).alias("dg"), "n_words"
    )  # 60-bit digest: birthday-safe at corpus chunk counts
    uniq = digests.groupBy("dg").agg(
        F.max("n_words").alias("n_words"), F.count(F.lit(1)).alias("copies")
    )
    return uniq.agg(
        F.sum("copies").cast("bigint").alias("total_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_chunks"),
        F.sum(F.expr("copies * n_words")).cast("bigint").alias("total_words"),
        F.sum(F.expr("(copies - 1) * n_words")).cast("bigint").alias("dup_words"),
        F.expr(
            "CAST(SUM((copies - 1) * n_words) * 1000000"
            " DIV SUM(copies * n_words) AS BIGINT)"
        ).alias("savings_e6"),
    )

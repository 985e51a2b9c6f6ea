"""Planted-input tests for dedup_exact_normalized and
quality_blocklist_hits: the synthetic corpus has zero blocklist hits
and zero normalization-collisions, so the oracle's value hash cannot
distinguish a broken matcher — these tests drive the hit paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from instructions_mr_spark import registry


def test_normalized_dedup_collapses_whitespace_and_case(spark):
    rows = [
        (1, "Hello   World"),
        (2, "hello world"),
        (3, "  HELLO WORLD  "),
        (4, "different doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = (
        df.select(
            F.expr(
                "MD5(CAST(lower(trim(regexp_replace(text, ' +', ' '))) AS BINARY))"
            ).alias("norm_md5"),
            "doc_id",
        )
        .groupBy("norm_md5")
        .agg(F.min("doc_id").alias("kept"), F.count("*").alias("n"))
        .collect()
    )
    by_kept = {r.kept: r.n for r in out}
    assert by_kept == {1: 3, 4: 1}  # docs 1-3 collapse to one group


def test_blocklist_word_exact_not_substring(spark):
    """'scunthorpe' must NOT hit (substring 'casino'-style false
    positives are the classic blocklist bug); exact words must, case-
    insensitively and with multiplicity."""
    from instructions_mr_spark.queries.llm_pipeline import _BLOCKLIST

    rows = [
        (1, "win the lottery now lottery jackpot"),
        (2, "visit scunthorpe and casinos today"),  # substrings only
        (3, "CASINO night"),
        (4, "perfectly clean document"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    hits = None
    for term in _BLOCKLIST:
        c = F.size(F.filter("words", lambda w: F.lower(w) == term))
        hits = c if hits is None else hits + c
    out = {
        r.doc_id: (r.n, r.f)
        for r in df.select(
            "doc_id", hits.alias("n"), (hits > 0).alias("f")
        ).collect()
    }
    assert out[1] == (3, True)  # lottery x2 + jackpot
    assert out[2] == (0, False)  # substring-only: no hit
    assert out[3] == (1, True)  # case-insensitive
    assert out[4] == (0, False)


def test_registry_queries_run_on_corpus(spark, sf_dir):
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    norm = registry.QUERIES["dedup_exact_normalized"](spark, sf_dir)
    assert norm.agg(F.sum("n_copies")).first()[0] == n_docs
    bl = registry.QUERIES["quality_blocklist_hits"](spark, sf_dir)
    assert bl.count() == n_docs

"""text_script_profile: the synthetic corpus is all Latin script, so
the Han/Cyrillic counters are exercised here with real code points
(the oracle's value-hash can't distinguish a broken counter on
all-zero columns)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import write_tables


def test_script_counters_on_real_code_points(spark):
    rows = [
        (1, "hello world"),
        (2, "世界你好 world"),
        (3, "привет мир"),
        (4, "mixed 世界 мир latin123"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            F.length(F.regexp_replace("text", r"[^\p{IsLatin}]", "")).alias("lat"),
            F.length(F.regexp_replace("text", r"[^\p{IsHan}]", "")).alias("han"),
            F.length(F.regexp_replace("text", r"[^\p{IsCyrillic}]", "")).alias("cyr"),
        ).collect()
    }
    assert (out[1].lat, out[1].han, out[1].cyr) == (10, 0, 0)
    assert (out[2].lat, out[2].han, out[2].cyr) == (5, 4, 0)
    assert (out[3].lat, out[3].han, out[3].cyr) == (0, 0, 9)
    assert (out[4].lat, out[4].han, out[4].cyr) == (10, 2, 3)


def test_dominant_script_precedence(spark, sf_dir):
    """Ties resolve latin > han > cyrillic identically in both engines;
    on the all-Latin corpus every doc must come out 'latin' with zero
    han/cyrillic counts."""
    from instructions_mr_spark import registry

    out = registry.QUERIES["text_script_profile"](spark, sf_dir)
    agg = out.agg(
        F.countDistinct("main_script").alias("scripts"),
        F.sum("n_han").alias("han"),
        F.sum("n_cyrillic").alias("cyr"),
        F.sum("n_latin").alias("lat"),
    ).first()
    assert agg.scripts == 1 and agg.han == 0 and agg.cyr == 0 and agg.lat > 0


def test_dedup_span_cut_semantics(spark, tmp_path):
    """Handcrafted corpus pins the cut policy: a repeated 8-gram is
    removed from EVERY document containing it (cut-all), untouched
    docs pass through byte-identical, and reassembly preserves token
    order."""
    import hashlib

    from instructions_mr_spark import registry

    phrase = "a b c d e f g h"
    docs = [
        (1, f"{phrase} x y z", "en", "src0", 21),
        (2, f"p q {phrase} r", "en", "src0", 20),
        (3, "unique words only here none repeat at all now", "en", "src1", 45),
    ]
    write_tables(tmp_path, documents=docs)
    out = {
        r.doc_id: (r.n_tokens, r.n_kept, r.kept_md5)
        for r in registry.QUERIES["dedup_span_cut"](spark, str(tmp_path)).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1] == (11, 3, md5("x y z"))
    assert out[2] == (11, 3, md5("p q r"))
    assert out[3] == (9, 9, md5("unique words only here none repeat at all now"))


def test_dedup_span_cut_keepfirst_semantics(spark, tmp_path):
    """Keep-first policy: the globally first occurrence (by doc_id,
    pos) of a repeated 8-gram survives; later occurrences are cut.
    Same handcrafted corpus as the cut-all pin — doc 1 holds the first
    occurrence, so it passes through intact while doc 2 is cut."""
    import hashlib

    from instructions_mr_spark import registry

    phrase = "a b c d e f g h"
    docs = [
        (1, f"{phrase} x y z", "en", "src0", 21),
        (2, f"p q {phrase} r", "en", "src0", 20),
        (3, "unique words only here none repeat at all now", "en", "src1", 45),
    ]
    write_tables(tmp_path, documents=docs)
    out = {
        r.doc_id: (r.n_tokens, r.n_kept, r.kept_md5)
        for r in registry.QUERIES["dedup_span_cut_keepfirst"](
            spark, str(tmp_path)
        ).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1] == (11, 11, md5(f"{phrase} x y z"))
    assert out[2] == (11, 3, md5("p q r"))
    assert out[3] == (9, 9, md5("unique words only here none repeat at all now"))


def test_span_dedup_equals_oracles_with_one_gram_in_every_doc(spark, tmp_path):
    """Planted skew for ``queries/text.py::_repeated_gram_hits``: one
    8-gram occurs in every document, so its whole gram group (one row
    per document) is buffered by ONE window task.  ``dedup_span_cut``
    and ``dedup_span_coverage`` still equal their DuckDB oracles.

    Observed bound: the task holding the hot gram holds all N of its
    rows (asserted below), three longs each, so its buffer is O(N) in
    the documents sharing the gram; Spark's window buffer spills to disk
    past ``spark.sql.windowExecBufferSpillThreshold`` rows.  Measured on
    4 local cores (min of 3, indicative): at N = 200,000 the span cut
    took 7.4 s with one gram in every document against 8.1 s for the
    same hit count spread over 100,000 two-document grams, and 2.5 s
    against 1.9 s at N = 20,000 — no salted fallback is needed at
    these sizes."""
    from instructions_mr_spark import registry
    from instructions_mr_spark.queries.text import (
        _repeated_gram_hits,
        _span_gram_pos,
    )
    from perfbench.check import diff
    from tools.check_oracle import duck_con

    n_docs = 400
    hot = "the quick brown fox jumps over the dog"
    texts = [f"w{i}a w{i}b {hot} w{i}c" for i in range(n_docs)]
    docs = [(i, text, "en", "s", len(text)) for i, text in enumerate(texts)]
    write_tables(tmp_path, documents=docs)
    con = duck_con(str(tmp_path))
    for name in ("dedup_span_cut", "dedup_span_coverage"):
        got = registry.QUERIES[name](spark, str(tmp_path)).toPandas()
        assert diff(got, con.sql(registry.ORACLES[name]).df()) is None, name

    _, pos = _span_gram_pos(spark, str(tmp_path))
    per_task = (
        _repeated_gram_hits(pos)
        .groupBy(F.spark_partition_id().alias("task"))
        .count()
        .collect()
    )
    assert sum(r["count"] for r in per_task) == n_docs
    assert max(r["count"] for r in per_task) == n_docs

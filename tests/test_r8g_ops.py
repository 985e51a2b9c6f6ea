"""Semantic pins for the round-8 corpus batch: truncation loss,
tokenizer fertility, char-class profile, Good-Turing spectrum and
hapax ratio — handcrafted documents, hand-computed answers."""

from __future__ import annotations

from instructions_mr_spark import registry
from tests.conftest import write_tables


def _doc(i, txt, lang, src):
    return (i, txt, lang, src, len(txt))


def test_truncation_loss_hand_docs(spark, tmp_path):
    long = "w " * 599 + "w"  # 600 tokens
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, long, "en", "web"), (2, "a b c", "en", "web")]],
    )
    [r] = registry.QUERIES["doc_truncation_loss"](
        spark, str(tmp_path)
    ).collect()
    assert (r["n_docs"], r["total_tok"]) == (2, 603)
    assert (r["lost_tok"], r["n_trunc_docs"]) == (88, 1)
    assert r["loss_e6"] == 88 * 1000000 // 603


def test_tokenizer_fertility_hand_docs(spark, tmp_path):
    # "don't stop": bpeish don|'|t|stop = 4, ws = 2 -> fertility 2.0
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "don't stop", "en", "web")]])
    [r] = registry.QUERIES["tokenizer_fertility"](
        spark, str(tmp_path)
    ).collect()
    assert (r["s_bpeish"], r["s_ws"], r["fertility_e6"]) == (4, 2, 2000000)


def test_charclass_profile_hand_docs(spark, tmp_path):
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "ab 12 !", "en", "web")]])
    [r] = registry.QUERIES["charclass_token_profile"](
        spark, str(tmp_path)
    ).collect()
    assert (r["alpha_tok"], r["digit_tok"], r["sym_tok"]) == (1, 1, 1)
    assert r["alpha_share_e6"] == 333333
    assert r["sym_share_e6"] == 333333


def test_good_turing_spectrum_hand_docs(spark, tmp_path):
    # bigrams: 'a b' x2, 'c d' x1 -> N_1 = 1 (mass 1), N_2 = 1 (mass 2)
    write_tables(
        tmp_path,
        documents=[_doc(*r) for r in [(1, "a b", "en", "w"), (2, "a b", "en", "w"), (3, "c d", "en", "w")]],
    )
    rows = {
        r["c_bucket"]: (r["n_grams"], r["occurrences"])
        for r in registry.QUERIES["good_turing_spectrum"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows == {1: (1, 1), 2: (1, 2)}


def test_hapax_ratio_hand_docs(spark, tmp_path):
    write_tables(tmp_path, documents=[_doc(*r) for r in [(1, "x x y", "en", "w")]])
    [r] = registry.QUERIES["hapax_ratio_by_source"](
        spark, str(tmp_path)
    ).collect()
    assert (r["vocab"], r["hapax"], r["tokens"]) == (2, 1, 3)
    assert r["hapax_e6"] == 500000

"""Semantic pins for the round-7b corpus-dedup additions on
handcrafted inputs: simhash hamming-blocked pairs and CCNet-style
drop-everywhere line-frequency dedup."""

from __future__ import annotations

import hashlib

from instructions_mr_spark import registry
from tests.conftest import write_tables


def test_simhash_hamming_pairs_identical_and_permuted(spark, tmp_path):
    """Identical texts pair at hamming 0; a word PERMUTATION also pairs
    at hamming 0 (simhash is bag-of-words); disjoint-vocabulary docs
    must not pair within radius 3."""
    base = " ".join(f"w{i}" for i in range(40))
    perm = " ".join(f"w{i}" for i in reversed(range(40)))
    other = " ".join(f"z{i}" for i in range(40))
    write_tables(
        tmp_path,
        documents=[
            (0, base, "en", "s", 1),
            (1, base, "en", "s", 1),
            (2, perm, "en", "s", 1),
            (3, other, "en", "s", 1),
        ],
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in registry.QUERIES["dedup_simhash_hamming"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[(0, 1)] == 0
    assert got[(0, 2)] == 0 and got[(1, 2)] == 0
    assert all(3 not in pair for pair in got)


def test_line_frequency_drops_everywhere(spark, tmp_path):
    """A paragraph shared by two docs is dropped from BOTH (unlike
    dedup_paragraph's keep-first); unshared paragraphs survive and the
    cleaned digest matches the surviving text."""
    p1 = " ".join(["shared"] * 10)
    p2 = " ".join(f"a{i}" for i in range(10))
    p3 = " ".join(f"b{i}" for i in range(10))
    p4 = " ".join(f"c{i}" for i in range(10))
    write_tables(
        tmp_path,
        documents=[
            (0, p1 + " " + p2, "en", "s", 1),
            (1, p1 + " " + p3, "en", "s", 1),
            (2, p4, "en", "s", 1),
        ],
    )
    got = {
        r.doc_id: r
        for r in registry.QUERIES["dedup_line_frequency"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[0].n_dropped == 1 and got[1].n_dropped == 1
    assert got[2].n_dropped == 0
    assert got[0].cleaned_md5 == hashlib.md5(p2.encode()).hexdigest()
    assert got[1].cleaned_md5 == hashlib.md5(p3.encode()).hexdigest()
    assert got[2].cleaned_md5 == hashlib.md5(p4.encode()).hexdigest()


def test_new_ops_empty_documents(spark, tmp_path):
    """Empty documents table: every new corpus op returns an empty (or
    for the Zipf fit, NaN-free single) result rather than crashing —
    the first thing that happens when an upstream filter matches
    nothing."""
    write_tables(tmp_path, documents=[])
    from instructions_mr_spark import registry as reg

    for name in (
        "dedup_simhash_hamming",
        "dedup_line_frequency",
        "bpe_pair_counts",
        "topic_seed_assign",
        "posting_list_intersect",
        "url_param_mining",
        "crawl_frontier_politeness",
        "k_anonymity_audit",
        "l_diversity_audit",
        "langid_confusion",
        "robots_txt_gate",
        "dedup_cascade_attribution",
    ):
        assert reg.QUERIES[name](spark, str(tmp_path)).count() == 0, name


def test_line_frequency_order_invariance(spark, tmp_path):
    """Relabeling which doc carries which text must not change the
    kill COUNTS (digest grouping is content-keyed): swap two docs'
    texts and compare aggregate counts."""
    from instructions_mr_spark import registry as reg

    p_shared = " ".join(["dup"] * 10)
    a = [(0, p_shared, "en", "s", 1), (1, p_shared, "en", "s", 1), (2, "x " * 9 + "x", "en", "s", 1)]
    b = [(0, a[2][1], "en", "s", 1), (1, p_shared, "en", "s", 1), (2, p_shared, "en", "s", 1)]
    outs = []
    for i, rows in enumerate((a, b)):
        path = tmp_path / f"v{i}"
        write_tables(path, documents=rows)
        got = reg.QUERIES["dedup_line_frequency"](spark, str(path)).collect()
        outs.append(sorted((r.n_paras, r.n_dropped) for r in got))
    assert outs[0] == outs[1]


def test_simhash_hamming_all_pairs_within_radius(spark, tmp_path):
    """Soundness: every reported pair is within the radius; and the
    blocked join finds EVERY identical-fingerprint pair (radius-0
    completeness is exact, not probabilistic)."""
    from instructions_mr_spark import registry as reg

    base = " ".join(f"w{i}" for i in range(30))
    rows = [(i, base, "en", "s", 1) for i in range(5)]  # 5 identical docs
    rows.append((9, " ".join(f"q{i}" for i in range(30)), "en", "s", 1))
    write_tables(tmp_path, documents=rows)
    got = reg.QUERIES["dedup_simhash_hamming"](spark, str(tmp_path)).collect()
    assert all(r.hamming <= 3 for r in got)
    zero_pairs = {(r.doc_a, r.doc_b) for r in got if r.hamming == 0}
    expect = {(i, j) for i in range(5) for j in range(5) if i < j}
    assert expect <= zero_pairs


def test_simhash_calibration_endpoints(spark, tmp_path):
    """Identical adjacent docs: hamming 0 and jaccard 1; disjoint
    vocab: jaccard 0 and a far fingerprint."""
    from instructions_mr_spark import registry as reg

    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    rows = [(0, base, "en", "s", 1), (1, base, "en", "s", 1), (2, other, "en", "s", 1)]
    write_tables(tmp_path, documents=rows)
    got = {
        (r.doc_a, r.doc_b): r
        for r in reg.QUERIES["simhash_hamming_calibration"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[(0, 1)].hamming == 0 and got[(0, 1)].true_jaccard_e6 == 1_000_000
    assert got[(1, 2)].true_jaccard_e6 == 0 and got[(1, 2)].hamming > 10


def test_batch_padding_waste_exact(spark, tmp_path):
    """Bucket 0 holds lengths 3/5/7 in one batch: padded 3*7=21, real
    15, waste 6; bucket 1 holds a lone length-10 doc: zero waste."""
    from instructions_mr_spark import registry as reg

    rows = [
        (0, "a b c", "en", "s", 1),
        (1, "a b c d e", "en", "s", 1),
        (2, "a b c d e f g", "en", "s", 1),
        (3, " ".join(["t"] * 10), "en", "s", 1),
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        r.bucket: r
        for r in reg.QUERIES["batch_padding_waste"](spark, str(tmp_path)).collect()
    }
    b0 = got[0]
    assert (b0.n_batches, b0.n_docs, b0.padded_tokens, b0.real_tokens, b0.waste_tokens) == (1, 3, 21, 15, 6)
    b1 = got[1]
    assert (b1.n_docs, b1.waste_tokens) == (1, 0)

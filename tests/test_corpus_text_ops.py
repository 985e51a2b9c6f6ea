"""Semantic pins for the round-7b text/web additions on handcrafted
inputs: BPE pair counting, seed-topic election, conjunctive posting
intersection, query-param mining, and politeness wave scheduling."""

from __future__ import annotations

from instructions_mr_spark import registry
from tests.conftest import write_tables


def test_bpe_pair_counts_weighted_by_word_freq(spark, tmp_path):
    """'aaab aaab ab': word counts aaab:2, ab:1; per-occurrence pairs
    of aaab are aa,aa,ab -> weighted aa:4, ab:2(+1 from word 'ab')."""
    write_tables(tmp_path, documents=[(0, "aaab aaab ab", "en", "s", 1)])
    got = {
        r.pair: r.cnt
        for r in registry.QUERIES["bpe_pair_counts"](spark, str(tmp_path)).collect()
    }
    assert got == {"aa": 4, "ab": 3}


def test_topic_seed_assign_argmax_and_tiebreak(spark, tmp_path):
    """Doc 0 has 2 storage hits vs 1 exec hit -> storage; doc 1 is
    pure exec; doc 2 matches nothing and stays unlabeled; doc 3 ties
    storage/exec 1-1 -> lexicographically first topic (exec) wins."""
    write_tables(
        tmp_path,
        documents=[
            (0, "table table scan", "en", "s", 1),
            (1, "scan fast", "en", "s", 1),
            (2, "nothing matches here", "en", "s", 1),
            (3, "table scan", "en", "s", 1),
        ],
    )
    got = {
        r.topic: (r.n_docs, r.won_hits)
        for r in registry.QUERIES["topic_seed_assign"](spark, str(tmp_path)).collect()
    }
    assert got["storage"] == (1, 2)
    assert got["exec"] == (2, 3)  # doc1 (2 hits) + doc3 tie-win (1 hit)
    assert "query" not in got
    assert sum(n for n, _ in got.values()) == 3  # doc 2 unlabeled


def test_posting_list_intersect_requires_all_terms(spark, tmp_path):
    """Only the doc containing table AND scan AND merge qualifies;
    tf_total sums the three term frequencies."""
    write_tables(
        tmp_path,
        documents=[
            (0, "table scan merge table", "en", "s", 1),
            (1, "table scan scan", "en", "s", 1),  # no merge
            (2, "merge merge", "en", "s", 1),
        ],
    )
    got = registry.QUERIES["posting_list_intersect"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert got[0].doc_id == 0 and got[0].tf_total == 4


def test_url_param_mining_counts_and_policy(spark, tmp_path):
    """Synthesized URLs of docs 0..5: utm_source on %3==0 docs, id on
    %3 in {0,1}, utm_campaign on %3==1; policy flags only utm_*."""
    write_tables(
        tmp_path,
        documents=[(i, "w", "en", "s", 1) for i in range(6)],
    )
    got = {
        r.param: r
        for r in registry.QUERIES["url_param_mining"](spark, str(tmp_path)).collect()
    }
    assert got["utm_source"].n_urls == 2 and got["utm_source"].policy_stripped == 1
    assert got["utm_campaign"].n_urls == 2 and got["utm_campaign"].policy_stripped == 1
    assert got["id"].n_urls == 4 and got["id"].policy_stripped == 0
    assert got["id"].n_values == 4  # values doc_id%5 = 0,1,3,4


def test_crawl_frontier_politeness_one_fetch_per_host_per_wave(spark, tmp_path):
    """Three docs on host s.com queue up as waves 1,2,3; one doc on
    host tt.com lands in wave 1 -> histogram {1:2, 2:1, 3:1}."""
    write_tables(
        tmp_path,
        documents=[
            (1, "w", "en", "s", 1),
            (3, "w", "en", "s", 1),
            (5, "w", "en", "s", 1),
            (2, "w", "en", "tt", 1),
        ],
    )
    got = {
        r.wave: r.n_fetches
        for r in registry.QUERIES["crawl_frontier_politeness"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {1: 2, 2: 1, 3: 1}

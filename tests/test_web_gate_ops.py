"""Semantic pins for the round-7b web-gating ops: robots longest-match
precedence and the dedup cascade's per-stage attribution."""

from __future__ import annotations

from instructions_mr_spark import registry
from tests.conftest import write_tables


def test_robots_longest_match_allow_override(spark, tmp_path):
    """src0.com rules: Disallow /en/, Allow /en/page-1 (longer wins).
    doc 1 -> /en/page-1?... allowed by the override; doc 3 ->
    /en/page-3 blocked; doc 26 -> m.src2.com fully disallowed."""
    write_tables(
        tmp_path,
        documents=[
            (1, "w", "en", "src0", 1),
            (3, "w", "en", "src0", 1),
            (26, "w", "en", "src2", 1),
        ],
    )
    got = {
        r.host: r
        for r in registry.QUERIES["robots_txt_gate"](spark, str(tmp_path)).collect()
    }
    assert got["src0.com"].n_allowed == 1 and got["src0.com"].n_blocked == 1
    assert got["m.src2.com"].n_blocked == 1 and got["m.src2.com"].n_allowed == 0


def test_dedup_cascade_stage_attribution(spark, tmp_path):
    """Doc 1 dies at the exact stage (same body as doc 0) and never
    reaches URL dedup; doc 122 shares doc 2's canonical URL and dies
    at the url stage; docs 0, 2, 7 survive."""
    write_tables(
        tmp_path,
        documents=[
            (0, "same text", "en", "src0", 1),
            (1, "same text", "en", "src0", 1),
            (2, "body a", "en", "src0", 1),
            (122, "body b", "en", "src0", 1),  # same canonical URL as doc 2
            (7, "body c", "en", "src0", 1),
        ],
    )
    got = {
        r.killed_by: r.n_docs
        for r in registry.QUERIES["dedup_cascade_attribution"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {"exact": 1, "url": 1, "kept": 3}

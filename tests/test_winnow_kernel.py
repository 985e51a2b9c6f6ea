"""Focused pin for the Arrow-batched winnowing kernel (round 12,
optimization session 5): queries/text.py::_winnow_kernel replaced the
JVM HOF expression chain, so the algorithm's exact values are pinned
here against an INDEPENDENT brute-force reference (plain Python loops,
no numpy, the textbook Schleimer/Wilkerson/Aiken selection) over the
real sf0.001 documents table.  The DuckDB oracle revalidates the same
values engine-to-engine; this test keeps the kernel honest inside one
engine even if the oracle harness changes.
"""

from __future__ import annotations

import hashlib

from instructions_mr_spark import registry
from instructions_mr_spark.queries.text import _WIN_CAP, _WIN_K, _WIN_W
from instructions_mr_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _reference(text: str):
    """Textbook winnowing: gram md5-hash32, width-w window minimum with
    the RIGHTMOST tie, fingerprint pos * 2^32 + hash, distinct."""
    s = text[:_WIN_CAP]
    n = len(s) - _WIN_K + 1
    if n < _WIN_W:
        return None
    gh = [
        int(hashlib.md5(s[i : i + _WIN_K].encode("utf-8")).hexdigest()[:8], 16)
        for i in range(n)
    ]
    fps = set()
    for j in range(n - _WIN_W + 1):
        best_pos, best = j, gh[j]
        for p in range(j, j + _WIN_W):  # rightmost min: >= keeps later p
            if gh[p] <= best:
                best_pos, best = p, gh[p]
        fps.add((best_pos + 1) * 4294967296 + best)
    return n, len(fps), sum(fps)


def test_kernel_matches_brute_force_reference(spark):
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        r.doc_id: (r.n_grams, r.n_fingerprints, r.fp_checksum)
        for r in registry.QUERIES["winnowing_fingerprints"](spark, SF).collect()
    }
    expected = {}
    for doc_id, text in docs.items():
        if len(text) < _WIN_K:
            continue
        ref = _reference(text)
        if ref is not None:
            expected[doc_id] = ref
    assert got == expected
    assert len(got) > 0


def test_kernel_runs_on_the_arrow_boundary(spark):
    """The kernel crosses into Python through the one mapInArrow shell
    (operators/arrow_map.py), never pandas."""
    df = registry.QUERIES["winnowing_fingerprints"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan

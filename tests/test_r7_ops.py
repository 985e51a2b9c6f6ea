"""Semantic pins for the round-7 additions that only had oracle
coverage: temperature mixture math, concat-chunk stream tiling, and
fuzzy-join matching on handcrafted inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from instructions_mr_spark import registry
from tests.conftest import write_tables


def test_mixture_temperature_math(spark, tmp_path):
    """Sources sized 1/4/16 -> sqrt units 1:2:4, temp shares 1/7, 2/7,
    4/7; the tail source boosts above 1, the head source below 1."""
    rows = []
    did = 0
    for src, n in (("tail", 1), ("mid", 4), ("head", 16)):
        for _ in range(n):
            rows.append((did, "w", "en", src, 1))
            did += 1
    write_tables(tmp_path, documents=rows)
    out = {
        r.source: r
        for r in registry.QUERIES["mixture_temperature_shares"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out["tail"].sqrt_units == 1_000_000_000
    assert out["mid"].sqrt_units == 2_000_000_000
    assert out["head"].sqrt_units == 4_000_000_000
    assert abs(out["tail"].temp_share - 1 / 7) < 1e-12
    assert abs(out["head"].temp_share - 4 / 7) < 1e-12
    assert out["tail"].boost > 1 > out["head"].boost


def test_pack_concat_chunks_tiles_the_stream(spark, tmp_path):
    """Per-doc [cum_start, cum_start + n_tokens) ranges must tile the
    concatenated token stream exactly: disjoint, contiguous from 0,
    total == sum of token counts; chunk ids must match the offsets."""
    rows = [
        (i, " ".join(["tok"] * (5 + (i * 7) % 90)), "en", "s", 10)
        for i in range(50)
    ]
    write_tables(tmp_path, documents=rows)
    got = registry.QUERIES["pack_concat_chunks"](spark, str(tmp_path)).collect()
    spans = sorted((r.cum_start, r.cum_start + r.n_tokens) for r in got)
    assert spans[0][0] == 0
    for (a0, a1), (b0, _) in zip(spans, spans[1:]):
        assert a1 == b0, "stream must be contiguous"
    total = sum(r.n_tokens for r in got)
    assert spans[-1][1] == total
    from instructions_mr_spark.queries.packing import CAPACITY

    for r in got:
        assert r.first_chunk == r.cum_start // CAPACITY
        assert r.last_chunk == (r.cum_start + r.n_tokens - 1) // CAPACITY


def test_join_fuzzy_blocked_matches(spark, tmp_path):
    """A one-char typo resolves back to its clean name at distance 1;
    clean pass-through rows match themselves at distance 0."""
    names = ["small ring", "red widget", "blue bolt"]
    write_tables(
        tmp_path, part=[{"p_partkey": k, "p_name": n} for k, n in enumerate(names)]
    )
    got = {
        r.p_partkey: r
        for r in registry.QUERIES["join_fuzzy_blocked"](
            spark, str(tmp_path)
        ).collect()
    }
    # partkey 0 (%3==0): 'smaxl ring' -> best match 'small ring' dist 1
    assert got[0].best_name == "small ring" and got[0].best_dist == 1
    # partkey 1 (%3==1): 'red widgetz' -> 'red widget' dist 1
    assert got[1].best_name == "red widget" and got[1].best_dist == 1
    # partkey 2: clean pass-through, self-match at distance 0
    assert got[2].best_name == "blue bolt" and got[2].best_dist == 0

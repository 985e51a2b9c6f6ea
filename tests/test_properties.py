"""Property-based tests (SURVEY.md §5.4): randomized inputs ->
invariants of the reference-core operators.

Pure plan-time functions get full hypothesis fuzzing; DataFrame
invariants batch every generated example into ONE DataFrame per case
(a Spark job per example would be prohibitively slow).
"""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from instructions_mr_spark.config import Instruction
from instructions_mr_spark.operators.prompts import build_sys_msg, prompt_template_sub
from instructions_mr_spark.operators.scope import scope_in_record_order
from tests.conftest import write_tables

# text without surrogates (Spark/Arrow round-trip constraint)
_txt = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
)
_key = st.text(alphabet="abcdefghij_", min_size=1, max_size=8)


@given(
    content=st.none() | _txt,
    role=st.none() | _txt,
    input_desc=st.none() | _txt,
    output_desc=st.none() | _txt,
)
@settings(max_examples=200, deadline=None)
def test_sys_msg_sections_iff_fields(content, role, input_desc, output_desc):
    """A section appears iff its field is set, in fixed order
    (instructions_runners.py:46-60)."""
    ins = Instruction(
        name="x", content=content, role=role, input_desc=input_desc, output_desc=output_desc
    )
    msg = build_sys_msg(ins)
    assert ("## Instruction\n" in msg) == (content is not None)
    assert ("## Your Role\n" in msg) == (role is not None)
    assert ("## Your Given Input\n" in msg) == (input_desc is not None)
    assert ("## The Extected Output\n" in msg) == (output_desc is not None)
    if all(v is None for v in (content, role, input_desc, output_desc)):
        assert msg == ""
    headers = [h for h in ("## Instruction", "## Your Role", "## Your Given Input", "## The Extected Output") if h in msg]
    assert headers == sorted(headers, key=msg.index)


@given(st.lists(_key, unique=True, min_size=1, max_size=8), st.data())
@settings(max_examples=100, deadline=None)
def test_scope_order_is_record_order(available, data):
    """Scoped keys always serialize in record order; result ⊆ available
    (instructions_runners.py:37-39 semantics)."""
    scope = data.draw(st.lists(st.sampled_from(available), unique=True, max_size=8))
    out = scope_in_record_order(scope, available)
    assert out == [c for c in available if c in set(scope)]
    assert set(out) <= set(available)
    assert scope_in_record_order(None, available) == list(available)


@given(template=_txt, role=_txt, desc=_txt)
@settings(max_examples=100, deadline=None)
def test_template_sub_removes_placeholders(template, role, desc):
    subbed = prompt_template_sub(
        "A __ROLE__ B __INPUT_DESC__ C " + template.replace("__", ""),
        {"__ROLE__": role.replace("__", ""), "__INPUT_DESC__": desc.replace("__", "")},
    )
    assert "__ROLE__" not in subbed
    assert "__INPUT_DESC__" not in subbed


@given(st.lists(_txt, min_size=1, max_size=30))
@settings(max_examples=10, deadline=None)
def test_stringify_identity_on_strings(spark, strings):
    """stringify_kv is the identity on string columns (utils.py:12-14)
    — batched: one DataFrame carries all examples."""
    from instructions_mr_spark.operators.scope import stringify_kv

    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i int, s string")
    out = {r.i: r.s for r in stringify_kv(df).collect()}
    assert out == {str(i): s for i, s in enumerate(strings)}


@given(st.lists(st.lists(st.integers(-1000, 1000), max_size=5), min_size=1, max_size=20))
@settings(max_examples=10, deadline=None)
def test_stringify_complex_is_json_roundtrippable(spark, arrays):
    from instructions_mr_spark.operators.scope import stringify_kv

    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "i int, a array<int>"
    )
    for r in stringify_kv(df).collect():
        assert json.loads(r.a) == arrays[int(r.i)]


@given(
    st.lists(
        st.tuples(st.text(alphabet="abc d", max_size=30), st.text(alphabet="abc d", max_size=30)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=10, deadline=None)
def test_jaccard_bounds_and_symmetry(spark, pairs):
    from instructions_mr_spark.functions import jaccard

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, a string, b string"
    )
    rows = df.select(
        "i",
        jaccard(F.split("a", " "), F.split("b", " ")).alias("jab"),
        jaccard(F.split("b", " "), F.split("a", " ")).alias("jba"),
        jaccard(F.split("a", " "), F.split("a", " ")).alias("jaa"),
    ).collect()
    for r in rows:
        assert 0.0 <= r.jab <= 1.0
        assert r.jab == r.jba  # symmetric
        assert r.jaa == 1.0  # reflexive


@given(st.lists(st.text(alphabet="abcdefgh ", min_size=0, max_size=50), min_size=1, max_size=20))
@settings(max_examples=10, deadline=None)
def test_rolling_hash_matches_python_model(spark, texts):
    """The JVM fold equals the closed-form Python model."""
    from instructions_mr_spark.functions import rolling_hash

    df = spark.createDataFrame([(i, s) for i, s in enumerate(texts)], "i int, s string")
    got = {r.i: r.h for r in df.select("i", rolling_hash(F.col("s")).alias("h")).collect()}
    for i, s in enumerate(texts):
        expect = 0
        p = 1
        for ch in s[:64]:
            expect = (expect + ord(ch) * p) % 1_000_000_007
            p = (p * 31) % 1_000_000_007
        assert got[i] == expect


@given(st.lists(_key, unique=True, min_size=1, max_size=6))
@settings(max_examples=10, deadline=None)
def test_md_sink_section_count(spark, cols):
    """md_sink emits exactly one '# ' section per column
    (instructions.py:62-70)."""
    from instructions_mr_spark.sources.io import md_sink

    df = spark.createDataFrame([tuple("v" for _ in cols)], ", ".join(f"{c} string" for c in cols))
    md = md_sink(df, cols).collect()[0].md
    assert md.count("\n\n") == len(cols)
    for c in cols:
        assert f"# {c}\n" in md


def test_scd2_random_batches_invariants(spark):
    """SCD2 chaining on random multi-change batches: exactly one open
    row per live key, validity windows chain without gap or overlap,
    and the chain replays the change sequence."""
    import datetime as dt
    import random

    from instructions_mr_spark.operators.merge import scd2_apply

    rng = random.Random(11)
    t0 = dt.datetime(2024, 1, 1)
    keys = list(range(8))
    current = spark.createDataFrame(
        [(k, f"init{k}", t0, None) for k in keys],
        "id int, attr string, valid_from timestamp, valid_to timestamp",
    )
    changes = []
    per_key: dict[int, list] = {k: [] for k in keys}
    for k in keys[: 6]:  # two keys stay untouched
        n = rng.randint(1, 5)
        days = rng.sample(range(1, 400), n)
        for d in sorted(days):
            ts = t0 + dt.timedelta(days=d)
            changes.append((k, f"v{k}_{d}", ts))
            per_key[k].append(ts)
    out = scd2_apply(
        current,
        spark.createDataFrame(changes, "id int, attr string, change_ts timestamp"),
        ["id"],
        "change_ts",
    ).collect()

    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r.id, []).append(r)
    for k in keys:
        rows = sorted(by_key[k], key=lambda r: r.valid_from)
        opens = [r for r in rows if r.valid_to is None]
        assert len(opens) == 1, f"key {k}: {len(opens)} open rows"
        # windows chain: each valid_to == next valid_from
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from, f"key {k}: gap/overlap"
        assert len(rows) == 1 + len(per_key[k])


def test_interval_concurrency_matches_bruteforce(spark, sf_dir):
    """Sweep-line max-overlap must equal the O(n^2) per-key brute
    force on a sample of customers."""
    import datetime as dt

    from instructions_mr_spark import registry

    out = {
        r.o_custkey: r.max_concurrent
        for r in registry.QUERIES["interval_concurrency"](spark, sf_dir)
        .filter(F.col("o_custkey") < 100)
        .collect()
    }
    from instructions_mr_spark.sources.tables import load_table

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select("o_custkey", "o_orderdate")
        .collect()
    )
    by_cust: dict[int, list] = {}
    for r in orders:
        start = r.o_orderdate
        by_cust.setdefault(r.o_custkey, []).append(
            (start, start + dt.timedelta(days=30))
        )
    for cust, ivals in by_cust.items():
        best = 0
        for s, _ in ivals:  # max overlap occurs at some interval start
            n = sum(1 for s2, e2 in ivals if s2 <= s < e2)
            best = max(best, n)
        assert out[cust] == best, f"cust {cust}: {out[cust]} != {best}"


@given(
    tokens=st.lists(st.integers(min_value=1, max_value=700), min_size=1, max_size=60),
)
@settings(max_examples=20, deadline=None)
def test_pack_greedy_fold_invariants(spark, tokens):
    """Next-fit packing invariants on random token sequences: bins
    fill to <= CAPACITY unless a single oversized document owns the
    bin; bin ids are contiguous from 0 in document order; every
    document is assigned exactly once."""
    import pandas as pd

    from instructions_mr_spark.queries.packing import CAPACITY, pack_greedy

    rows = [
        {"source": "s0", "doc_id": i, "text": f"{'w ' * (t - 1)}w"}
        for i, t in enumerate(tokens)
    ]
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        write_tables(tmp, documents=rows)
        out = pack_greedy(spark, tmp).toPandas().sort_values("doc_id")
    assert list(out["doc_id"]) == list(range(len(tokens)))
    assert list(out["n_tokens"]) == tokens
    bins = list(out["bin_id"])
    assert bins[0] == 0
    assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
    fills = out.groupby("bin_id")["n_tokens"].agg(["sum", "count"])
    for _, row in fills.iterrows():
        assert row["sum"] <= CAPACITY or row["count"] == 1


def test_pagerank_ranks_sum_to_one_on_undirected(spark):
    """On an undirected graph (no dangling nodes) total PageRank mass
    is conserved at every iteration count."""
    from instructions_mr_spark.operators.graph import pagerank

    edge_list = [(a, b) for a in range(6) for b in range(6) if (a + b) % 3 == 0 and a != b]
    edges = spark.createDataFrame(
        edge_list + [(b, a) for a, b in edge_list], "src int, dst int"
    )
    for k in (1, 4):
        total = sum(r.rank for r in pagerank(edges, iterations=k).collect())
        assert abs(total - 1.0) < 1e-9, (k, total)


# ---------------------------------------------------------------- media headers


@given(
    sr=st.integers(min_value=1, max_value=2**31 - 1),
    ch=st.integers(min_value=1, max_value=64),
    n=st.integers(min_value=0, max_value=1_000_000),
)
@settings(max_examples=200, deadline=None)
def test_wav_roundtrip_any_params(sr, ch, n):
    """parse_audio_meta must invert the WAV layout for ANY parameter
    combination (not just the oracle's doc_id-derived ones)."""
    import struct

    from instructions_mr_spark.operators.multimodal import parse_audio_meta

    data = n * ch * 2
    b = (
        b"RIFF" + struct.pack("<I", 36 + (data & 0xFFFFFFFF)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr,
                                 (sr * ch * 2) & 0xFFFFFFFF, ch * 2, 16)
        + b"data" + struct.pack("<I", data & 0xFFFFFFFF)
    )
    want_n = (data & 0xFFFFFFFF) // (ch * 2)
    assert parse_audio_meta(b) == ("wav", sr, ch, want_n)


@given(payload=st.binary(max_size=64))
@settings(max_examples=300, deadline=None)
def test_media_parsers_never_raise_on_garbage(payload):
    """All three header parsers must classify arbitrary bytes, never
    raise — corrupt bytes are data at 100 TB."""
    from instructions_mr_spark.operators.multimodal import (
        parse_audio_meta,
        parse_image_dims,
        parse_video_meta,
    )

    for fn in (parse_image_dims, parse_audio_meta, parse_video_meta):
        out = fn(payload)
        assert isinstance(out, tuple) and isinstance(out[0], str)


@given(
    ts=st.integers(min_value=1, max_value=2**31 - 1),
    dur=st.integers(min_value=0, max_value=2**31 - 1),
    ntrak=st.integers(min_value=0, max_value=16),
    junk=st.binary(min_size=0, max_size=32),
)
@settings(max_examples=200, deadline=None)
def test_mp4_roundtrip_any_params(ts, dur, ntrak, junk):
    """parse_video_meta must invert the box layout for any params, with
    an arbitrary extra box ('free') padded into moov before mvhd."""
    import struct

    from instructions_mr_spark.operators.multimodal import parse_video_meta

    def box(cc, body):
        return struct.pack(">I", 8 + len(body)) + cc + body

    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", ts, dur) + b"\x00" * 80,
    )
    inner = box(b"free", junk) + mvhd + b"".join(
        box(b"trak", b"") for _ in range(ntrak)
    )
    b = box(b"ftyp", b"isom") + box(b"moov", inner)
    assert parse_video_meta(b) == ("mp4", ts, dur, ntrak or None)


def test_normalize_url_invariants_batched(spark):
    """URL canonicalization invariants over generated URL soup, batched
    into one DataFrame: (1) IDEMPOTENT — normalizing a normalized URL
    is a fixpoint; (2) CASE-INVARIANT — upper/lower variants collapse;
    (3) TRACKING-INVARIANT — adding utm params / fragments never
    changes the canonical form."""
    import itertools

    from instructions_mr_spark.operators.urls import normalize_url

    schemes = ["https://", "HTTP://", ""]
    hosts = ["Example.COM", "www.example.com", "a.b.Example.org:8080",
             "user@Example.net", "localhost"]
    paths = ["", "/", "/A/b", "/a//b/", "/p-1.html"]
    queries = ["", "?id=3", "?b=2&a=1", "?id=3&utm_source=x", "?utm_medium=m"]
    frags = ["", "#top"]
    urls = [
        "".join(p)
        for p in itertools.islice(
            itertools.product(schemes, hosts, paths, queries, frags), 400
        )
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string").select(
        "u",
        normalize_url("u").alias("n1"),
        normalize_url(normalize_url("u")).alias("n2"),
        normalize_url(F.upper("u")).alias("n_upper"),
        normalize_url(F.concat("u", F.lit("#frag2"))).alias("n_frag"),
    )
    for r in df.collect():
        assert r.n2 == r.n1, ("not idempotent", r.u, r.n1, r.n2)
        assert r.n_upper == r.n1, ("not case-invariant", r.u)
        assert r.n_frag == r.n1, ("fragment changed canonical form", r.u)

"""Tests for the LLM map/reduce operators and the config->plan
compiler (SURVEY.md §2.3-2.4), echo mode."""

from __future__ import annotations

import json
import sys
import threading

import pytest

from instructions_mr_spark.config import Instruction, LlmConfig, PipelineConfig, Stage
from instructions_mr_spark.llm.client import EchoLlmClient
from instructions_mr_spark.operators.llm_map import (
    _pool_map,
    group_concat_reduce,
    instr_fanout_map,
)
from instructions_mr_spark.plans import run_pipeline


def _docs(spark):
    return spark.createDataFrame(
        [(1, "alpha text", "en"), (2, "beta text", "fr")],
        "doc_id int, text string, lang string",
    )


def test_fanout_map_echo(spark):
    stage = Stage(
        [
            Instruction(name="summary", content="Summarize.", scope=["text"]),
            Instruction(name="tag", content="Tag.", scope=["lang"]),
        ]
    )
    out = instr_fanout_map(_docs(spark), stage, LlmConfig(), keep_cols=["doc_id"])
    rows = {r.doc_id: r for r in out.collect()}
    assert json.loads(rows[1].summary) == {"text": "alpha text"}
    assert json.loads(rows[2].tag) == {"lang": "fr"}


def test_fanout_map_tagged_client(spark):
    stage = Stage([Instruction(name="s", content="c", scope=["text"])])
    out = instr_fanout_map(
        _docs(spark),
        stage,
        LlmConfig(model="m1"),
        keep_cols=["doc_id"],
        client_factory=lambda conf: EchoLlmClient(conf, tag=True),
    )
    assert out.collect()[0].s.startswith("[m1] ")


def test_keep_cols_round_trip_unchanged(spark):
    """Keep columns cross the Python boundary untouched, whatever their
    type: nullable bigint, decimal, timestamp, array and struct values
    (nulls included) come back equal, under the same Spark types."""
    import datetime as dt
    from decimal import Decimal

    keep = ["id", "amt", "ts", "tags", "meta"]
    df = spark.createDataFrame(
        [
            (1, Decimal("1234567890.12"), dt.datetime(2024, 2, 29, 23, 59, 59, 123456),
             ["a", None], (7, "x"), "one"),
            (None, None, None, None, None, "two"),
            (3, Decimal("-0.05"), dt.datetime(1970, 1, 1), [], (None, "é"), "three"),
        ],
        "id bigint, amt decimal(12,2), ts timestamp, tags array<string>, "
        "meta struct<a:int,b:string>, text string",
    )
    stage = Stage([Instruction(name="s", content="c", scope=["text"])])
    out = instr_fanout_map(df, stage, LlmConfig(), keep_cols=keep)
    assert out.columns == keep + ["s"]
    assert [out.schema[c] for c in keep] == [df.schema[c] for c in keep]
    got = sorted(out.collect(), key=lambda r: json.loads(r.s)["text"])
    want = sorted(df.collect(), key=lambda r: r.text)
    assert [tuple(r[c] for c in keep) for r in got] == [
        tuple(r[c] for c in keep) for r in want
    ]
    assert [json.loads(r.s) for r in got] == [{"text": r.text} for r in want]


@pytest.mark.parametrize(
    "op", [instr_fanout_map, group_concat_reduce], ids=lambda op: op.__name__
)
def test_fanout_calls_are_instruction_major(spark, op):
    """Prefix-cache affinity contract (llm_map.py module docstring):
    within a partition, ALL calls for instruction 0 must be issued
    before any call for instruction 1, so calls sharing a system-prompt
    prefix are adjacent at the LLM service.  Verified with a
    sequence-stamping client at concurrency=1 (strict issue order):
    every 'first' seq must be below every 'second' seq.  Both stage
    kinds run through the same executor, so both must hold it."""

    class _SeqClient:
        def __init__(self, conf):
            self.seq = 0

        def complete(self, messages):
            self.seq += 1
            return str(self.seq)

    stage = Stage(
        [
            Instruction(name="first", content="A.", scope=["text"]),
            Instruction(name="second", content="B.", scope=["lang"]),
        ]
    )
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en") for i in range(20)], "doc_id int, text string, lang string"
    ).coalesce(1)
    out = op(
        docs,
        stage,
        LlmConfig(),
        keep_cols=["doc_id"],
        concurrency=1,
        client_factory=_SeqClient,
    ).collect()
    first_seqs = [int(r.first) for r in out]
    second_seqs = [int(r.second) for r in out]
    assert max(first_seqs) < min(second_seqs)
    assert sorted(first_seqs + second_seqs) == list(range(1, 41))


def test_pool_map_claims_every_item_once_under_contention():
    """The pool's workers share one iterator and one result list with no
    lock: with more workers than cores and a tiny GIL switch interval,
    every item must still run exactly once and land in its slot."""
    items = list(range(20000))
    seen: list[tuple[int, int]] = []

    def fn(x):
        seen.append((x, threading.get_ident()))
        return 2 * x

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = _pool_map(fn, items, concurrency=16)
    finally:
        sys.setswitchinterval(interval)
    assert out == [2 * x for x in items]
    assert sorted(x for x, _ in seen) == items
    assert len({ident for _, ident in seen}) > 1  # really ran on several threads


def test_pool_map_stops_on_first_error_and_reraises_it():
    """After the first exception no worker starts another item, and the
    caller sees that exception object itself."""
    boom = RuntimeError("boom")
    started: list[int] = []

    def fn(x):
        started.append(x)
        if x == 3:
            raise boom
        return x

    with pytest.raises(RuntimeError) as exc:
        _pool_map(fn, list(range(100)), concurrency=1)
    assert exc.value is boom
    assert started == [0, 1, 2, 3]
    assert _pool_map(fn, [], concurrency=8) == []


def test_scope_validation_fails_fast(spark):
    stage = Stage([Instruction(name="s", content="c", scope=["nope"])])
    with pytest.raises(ValueError, match="nope"):
        instr_fanout_map(_docs(spark), stage, LlmConfig())


@pytest.mark.parametrize(
    "op", [instr_fanout_map, group_concat_reduce], ids=lambda op: op.__name__
)
def test_zero_concurrency_rejected_at_build(spark, op):
    """A pool needs at least one worker: concurrency=0 must fail the
    plan build, not hang a task waiting for a free slot."""
    stage = Stage([Instruction(name="s", content="c", scope=["text"])])
    with pytest.raises(ValueError, match="concurrency must be an int >= 1, got 0"):
        op(_docs(spark), stage, LlmConfig(), concurrency=0)


@pytest.mark.parametrize(
    "op", [instr_fanout_map, group_concat_reduce], ids=lambda op: op.__name__
)
def test_unknown_on_error_rejected_at_build(spark, op):
    """Only 'fail' and 'null' are error policies; any other value must
    fail the plan build instead of silently behaving as 'fail'."""
    stage = Stage([Instruction(name="s", content="c", scope=["text"])])
    with pytest.raises(ValueError, match="on_error must be 'fail' or 'null', got 'skip'"):
        op(_docs(spark), stage, LlmConfig(), on_error="skip")


def test_group_concat_reduce_echo(spark):
    map_stage = Stage(
        [
            Instruction(name="a", content="x", scope=["text"]),
            Instruction(name="b", content="y", scope=["lang"]),
        ]
    )
    red = Stage([Instruction(name="r", content="m", scope=["a", "b"])], kind="reduce")
    mapped = instr_fanout_map(_docs(spark), map_stage, LlmConfig(), keep_cols=["doc_id"])
    out = group_concat_reduce(mapped, red, LlmConfig(), keep_cols=["doc_id"])
    r = {x.doc_id: x.r for x in out.collect()}[1]
    assert r.startswith("<a>\n") and "</a>\n\n<b>\n" in r and r.endswith("</b>\n\n")


def test_run_pipeline_reference_config_shape(spark):
    """Full mr_chain from the reference's JSON config format
    (bin/text_mr_pipe.json topology: pipe[0]=map, pipe[1]=reduce).
    Inputs carry non-ASCII text, a quote and a backslash, so both
    reduce styles are pinned to exact prompt bytes through two JSON
    escaping levels."""
    docs = spark.createDataFrame(
        [(1, "héllo wörld", "en"), (2, 'quote " backslash \\', "fr")],
        "doc_id int, text string, lang string",
    )
    conf = PipelineConfig.from_dict(
        {
            "llm": {"api_type": "echo", "model": "echo"},
            "pipe": [
                [
                    {"name": "m1", "content": "do", "scope": ["text"]},
                    {"name": "m2", "content": "do2", "scope": ["lang"]},
                ],
                [{"name": "final", "content": "merge", "scope": ["m1", "m2"]}],
            ],
        }
    )
    m1 = {"1": r'{"text":"héllo wörld"}', "2": r'{"text":"quote \" backslash \\"}'}
    m2 = {"1": r'{"lang":"en"}', "2": r'{"lang":"fr"}'}

    # default reduce style mirrors the library pipeline (v0.py:48-50):
    # the reduce prompt is the scoped map-result dict, serialized
    out = run_pipeline(docs, conf, keep_cols=["doc_id"])
    rows = {r.doc_id: r for r in out.collect()}  # stringify_kv casts keep_cols too
    assert {k: r.final for k, r in rows.items()} == {
        "1": r'{"m1":"{\"text\":\"héllo wörld\"}","m2":"{\"lang\":\"en\"}"}',
        "2": r'{"m1":"{\"text\":\"quote \\\" backslash \\\\\"}","m2":"{\"lang\":\"fr\"}"}',
    }
    assert json.loads(rows["2"].final) == {"m1": m1["2"], "m2": m2["2"]}
    # markdown rendering of the final stage (v0.py:51-55)
    assert rows["2"].result_md.startswith("# final\n")
    assert rows["2"].result_md.endswith("\n\n")

    # POC reduce style: tag-wrapped group concat
    out_xml = run_pipeline(docs, conf, keep_cols=["doc_id"], reduce_style="xmlwrap")
    assert {r.doc_id: r.final for r in out_xml.collect()} == {
        k: f"<m1>\n{m1[k]}\n</m1>\n\n<m2>\n{m2[k]}\n</m2>\n\n" for k in ("1", "2")
    }


def test_pipeline_stringifies_init_stage(spark):
    """Init pseudo-stage applies json2str_kv (v0.py:40-44): non-string
    inputs reach instructions as strings."""
    df = spark.createDataFrame([(7, [1, 2])], "doc_id int, arr array<int>")
    conf = PipelineConfig.from_dict(
        {"pipe": [[{"name": "m", "content": "c", "scope": ["arr"]}]]}
    )
    out = run_pipeline(df, conf, keep_cols=["doc_id"], with_md=False)
    val = out.collect()[0].m
    assert json.loads(val) == {"arr": "[1,2]"}  # arr stringified before scoping


def test_retry_recovers_from_transient_failures(spark):
    # defined inside the test so cloudpickle ships it by value — test
    # modules aren't importable from executor Python workers
    class _FlakyClient:
        """Fails the first N calls per prompt, then echoes."""

        def __init__(self, conf, fail_times: int):
            self.conf = conf
            self.fail_times = fail_times
            self.attempts: dict[str, int] = {}

        def complete(self, messages, json_schema=None):
            key = messages[-1]["content"]
            n = self.attempts.get(key, 0)
            self.attempts[key] = n + 1
            if n < self.fail_times:
                raise RuntimeError("transient")
            return key

    stage = Stage([Instruction(name="s", content="c", scope=["text"])])
    out = instr_fanout_map(
        _docs(spark),
        stage,
        LlmConfig(),
        keep_cols=["doc_id"],
        client_factory=lambda conf: _FlakyClient(conf, fail_times=2),
        max_retries=3,
    )
    rows = out.collect()
    assert len(rows) == 2
    assert all(r.s is not None for r in rows)


def test_on_error_null_quarantines_column(spark):
    stage = Stage(
        [
            Instruction(name="bad", content="c", scope=["text"]),
            Instruction(name="bad2", content="c", scope=["lang"]),
        ]
    )

    class _AlwaysFail:
        def __init__(self, conf):
            self.conf = conf

        def complete(self, messages, json_schema=None):
            raise RuntimeError("permanent")

    out = instr_fanout_map(
        _docs(spark),
        stage,
        LlmConfig(),
        keep_cols=["doc_id"],
        client_factory=_AlwaysFail,
        max_retries=0,
        on_error="null",
    )
    rows = out.collect()
    # null-quarantine semantics (reference nulls unfinished results,
    # instructions.py:43-45) — rows survive with null outputs
    assert len(rows) == 2
    assert all(r.bad is None and r.bad2 is None for r in rows)


def test_multi_mr_chain_four_stages(spark):
    """Multi-MR chaining (README.md:59-71 'MapReduces Flow'): reducer
    output feeds the next mapper; four stages compose into one lazy
    plan."""
    conf = PipelineConfig.from_dict(
        {
            "pipe": [
                [{"name": "s1", "content": "c1", "scope": ["text"]}],
                [{"name": "s2", "content": "c2", "scope": ["s1"]}],
                [{"name": "s3", "content": "c3", "scope": ["s2"]}],
                [{"name": "s4", "content": "c4", "scope": ["s3"]}],
            ]
        }
    )
    out = run_pipeline(_docs(spark), conf, keep_cols=["doc_id"], with_md=False)
    assert out.columns == ["doc_id", "s4"]
    val = out.filter(out.doc_id == "1").collect()[0].s4
    # each echo stage wraps the previous output one JSON level deeper
    inner = json.loads(val)["s3"]
    inner2 = json.loads(inner)["s2"]
    inner3 = json.loads(inner2)["s1"]
    assert json.loads(inner3) == {"text": "alpha text"}


def test_split_quarantine(spark):
    """Rows whose LLM outputs were null-quarantined route to the side
    frame; clean rows pass through (SURVEY.md §4 error semantics)."""
    from instructions_mr_spark.plans import split_quarantine

    class _FailOdd:
        def __init__(self, conf):
            self.conf = conf

        def complete(self, messages, json_schema=None):
            body = messages[-1]["content"]
            if "alpha" in body:
                return body
            raise RuntimeError("permanent")

    stage = Stage([Instruction(name="out", content="c", scope=["text"])])
    res = instr_fanout_map(
        _docs(spark),
        stage,
        LlmConfig(),
        keep_cols=["doc_id"],
        client_factory=_FailOdd,
        max_retries=0,
        on_error="null",
    )
    good, bad = split_quarantine(res, ["out"])
    assert [r.doc_id for r in good.collect()] == [1]
    assert [r.doc_id for r in bad.collect()] == [2]


def test_duplicate_instruction_names_rejected():
    """Instruction names are output columns — duplicates are a config
    error caught at stage construction (the reference would silently
    overwrite one result with the other, instructions.py:55)."""
    with pytest.raises(ValueError, match="duplicate instruction names"):
        Stage(
            [
                Instruction(name="x", content="a"),
                Instruction(name="x", content="b"),
            ]
        )


def test_fluent_builder_equals_config_pipeline(spark):
    """The fluent builder must compile to the SAME plan as the JSON
    config path: identical outputs, and to_dict() round-trips through
    PipelineConfig.from_dict."""
    from instructions_mr_spark.plans.builder import Pipeline, instruction

    docs = _docs(spark)
    p = (
        Pipeline()
        .llm(api_type="echo", model="echo")
        .map(
            instruction("summary", content="Summarize.", scope=["text"]),
            instruction("tag", content="Tag.", scope=["lang"]),
        )
        .reduce(instruction("report", content="Merge.", scope=["summary", "tag"]))
    )
    fluent = {r.doc_id: r.report for r in p.run(docs, keep_cols=["doc_id"]).collect()}

    conf = PipelineConfig.from_dict(p.to_dict())
    assert [s.kind for s in conf.stages] == ["map", "reduce"]
    assert conf.stages[0].output_columns == ["summary", "tag"]
    json_path = {
        r.doc_id: r.report
        for r in run_pipeline(docs, conf, keep_cols=["doc_id"]).collect()
    }
    assert fluent == json_path and len(fluent) == 2

"""Tests for the self-verified 4-phase chain (SURVEY.md §2.5)."""

from __future__ import annotations

import json

import pytest

from instructions_mr_spark.config import Instruction, LlmConfig, Stage
from instructions_mr_spark.operators.prompts import CHATML_TYPE
from instructions_mr_spark.operators.selfverify import (
    DEFAULT_EVIDENCE_PROMPT,
    DEFAULT_OMISSION_PROMPT,
    self_verified_map,
)


def _stage():
    return Stage([Instruction(name="facts", content="Extract.", scope=["text"])])


def test_transcript_shape_and_roles(spark):
    df = spark.createDataFrame([(1, "hello world")], "doc_id int, text string")
    out = self_verified_map(
        df, _stage(), LlmConfig(), keep_cols=["doc_id"], with_transcript=True
    ).collect()[0]
    roles = [m.role for m in out.facts__transcript]
    # sys, user, a1, user(omission), a2, user(evidence), a3  (reference
    # phases :329-385; prune is a stub :387-393)
    assert roles == ["system", "user", "assistant", "user", "assistant", "user", "assistant"]
    assert out.facts__transcript[3].content == DEFAULT_OMISSION_PROMPT
    assert out.facts__transcript[5].content == DEFAULT_EVIDENCE_PROMPT


def test_phase1_echoes_scoped_input(spark):
    df = spark.createDataFrame([(1, "hello", "x")], "doc_id int, text string, other string")
    out = self_verified_map(
        df, _stage(), LlmConfig(), keep_cols=["doc_id"], with_transcript=True
    ).collect()[0]
    # scope=[text]: 'other' must NOT reach the prompt
    assert json.loads(out.facts__transcript[1].content) == {"text": "hello"}


def test_final_output_column(spark):
    df = spark.createDataFrame([(1, "t")], "doc_id int, text string")
    out = self_verified_map(df, _stage(), LlmConfig(), keep_cols=["doc_id"]).collect()[0]
    assert out.facts == DEFAULT_EVIDENCE_PROMPT  # echo of last user turn


def test_mistral_dialect_in_chain(spark):
    df = spark.createDataFrame([(1, "t")], "doc_id int, text string")
    out = self_verified_map(
        df,
        _stage(),
        LlmConfig(model="mistral-small"),
        keep_cols=["doc_id"],
        with_transcript=True,
    ).collect()[0]
    roles = [m.role for m in out.facts__transcript]
    assert roles[:3] == ["user", "assistant", "user"]  # dialect rewrite applied


def test_transient_failures_are_retried(spark):
    """Every turn of the chain goes through the shared retry policy: a
    client that fails twice per prompt still completes all three
    turns (under local[N] one unretried failure fails the job)."""

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

    df = spark.createDataFrame([(1, "t")], "doc_id int, text string")
    out = self_verified_map(
        df,
        _stage(),
        LlmConfig(),
        keep_cols=["doc_id"],
        client_factory=lambda conf: _FlakyClient(conf, fail_times=2),
        with_transcript=True,
    ).collect()[0]
    assert out.facts == DEFAULT_EVIDENCE_PROMPT
    assert [m.content for m in out.facts__transcript if m.role == "assistant"] == [
        json.dumps({"text": "t"}, separators=(",", ":")),
        DEFAULT_OMISSION_PROMPT,
        DEFAULT_EVIDENCE_PROMPT,
    ]


def test_zero_concurrency_rejected_at_build(spark):
    """Same plan-time check as the LLM executor: concurrency=0 fails the
    build instead of reaching a worker pool with no workers."""
    df = spark.createDataFrame([(1, "t")], "doc_id int, text string")
    with pytest.raises(ValueError, match="concurrency must be an int >= 1, got 0"):
        self_verified_map(df, _stage(), LlmConfig(), concurrency=0)


def test_runs_on_the_shared_arrow_executor(spark):
    """Self-verify crosses into Python through the same mapInArrow
    boundary as the map and reduce operators — no second executor."""
    df = spark.createDataFrame([(1, "t")], "doc_id int, text string")
    out = self_verified_map(df, _stage(), LlmConfig(), keep_cols=["doc_id"], with_transcript=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan


def test_keep_cols_round_trip_unchanged(spark):
    """Keep columns cross the chain executor untouched, whatever their
    type: nullable bigint, decimal, timestamp, array and struct values
    (nulls included) come back equal, under the same Spark types; the
    transcript column is typed CHATML_TYPE."""
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
    out = self_verified_map(df, _stage(), LlmConfig(), keep_cols=keep, with_transcript=True)
    assert out.columns == keep + ["facts", "facts__transcript"]
    assert [out.schema[c] for c in keep] == [df.schema[c] for c in keep]
    assert out.schema["facts__transcript"].dataType == CHATML_TYPE
    got = sorted(out.collect(), key=lambda r: json.loads(r.facts__transcript[2].content)["text"])
    want = sorted(df.collect(), key=lambda r: r.text)
    assert [tuple(r[c] for c in keep) for r in got] == [
        tuple(r[c] for c in keep) for r in want
    ]
    assert [r.facts for r in got] == [DEFAULT_EVIDENCE_PROMPT] * 3


def test_chains_are_instruction_major(spark):
    """The prefix-cache contract of test_llm_map's
    test_fanout_calls_are_instruction_major, for chains: at
    concurrency=1 every chain of instruction 0 is issued before any
    chain of instruction 1, and each chain's three turns are issued
    back to back."""

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
    out = self_verified_map(
        docs,
        stage,
        LlmConfig(),
        keep_cols=["doc_id"],
        concurrency=1,
        client_factory=_SeqClient,
        with_transcript=True,
    ).collect()

    def replies(transcript):
        return [int(m.content) for m in transcript if m.role == "assistant"]

    first = [replies(r.first__transcript) for r in out]
    second = [replies(r.second__transcript) for r in out]
    assert all(seqs == [seqs[0], seqs[0] + 1, seqs[0] + 2] for seqs in first + second)
    assert max(max(seqs) for seqs in first) < min(min(seqs) for seqs in second)
    assert sorted(x for seqs in first + second for x in seqs) == list(range(1, 121))
    assert [int(r.first) for r in out] == [seqs[-1] for seqs in first]

"""Tests for the self-verified 4-phase chain (SURVEY.md §2.5)."""

from __future__ import annotations

import json

import pytest

from instructions_mr_spark.config import Instruction, LlmConfig, Stage
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

"""Self-verified mapper — the reference's only stateful operator
(SURVEY.md §2.5; bin/poc/self-verified-mr/self_verification_mr.py).

Reference semantics: per instruction, a 4-phase iterative refinement
chain where state is the growing ChatML transcript:

1. extract   — scoped input + "extract elements as a JSON array of
               string" system prompt -> LLM            (:229-275)
2. omission  — append "check which information was missed and
               complete it" user turn -> LLM            (:277-294)
3. evidence  — append "attach the supporting span for each item as
               JSON array of {content, evidence}" -> LLM (:296-316)
4. prune     — rule-based prune; a stub in the reference (it only
               marks finished=True, :387-393)

The reference runs a *global* gather barrier between phases
(:404-415).  Spark-first, the phases become sequential turns inside
ONE ``mapInPandas`` partition pass: each (instruction, row) chain
advances through all 4 phases with its own transcript, and a batch's
chains run on the LLM executor's bounded worker pool
(``llm_map._pool_map``, ``concurrency`` chains in flight).
Every turn goes through ``llm_map.call_with_retry``, so a transient
LLM failure backs off and retries as in every other LLM operator.
No global barrier — better pipelining than the reference, identical
per-record transcript semantics.

Phase prompts are configurable; defaults capture the reference's
intent in this engine's own wording (they are config data, not code).
In echo mode each phase returns its last user message, which makes
the full transcript deterministic and unit-checkable.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from instructions_mr_spark.config import LlmConfig, Stage
from instructions_mr_spark.llm.client import LlmClient, make_client
from instructions_mr_spark.operators.llm_map import (
    _PROMPT_PREFIX,
    _chatml,
    _check_llm_args,
    _pool_map,
    _project_prompts,
    call_with_retry,
)
from instructions_mr_spark.operators.prompts import build_sys_msg, user_msg_col

DEFAULT_EXTRACT_PROMPT = (
    "Extract the key elements from the given input. "
    "The output must be a JSON array of strings."
)
DEFAULT_OMISSION_PROMPT = (
    "Check the conversation above: which information from the input is "
    "missing from your extraction? Output the completed JSON array of strings."
)
DEFAULT_EVIDENCE_PROMPT = (
    "For each extracted item, find the span of the input text that "
    "supports it. Output a JSON array of {content, evidence} objects."
)


def self_verified_map(
    df: DataFrame,
    stage: Stage,
    llm_conf: LlmConfig | None = None,
    keep_cols: Sequence[str] | None = None,
    concurrency: int = 32,
    client_factory: Callable[[LlmConfig], LlmClient] = make_client,
    extract_prompt: str = DEFAULT_EXTRACT_PROMPT,
    omission_prompt: str = DEFAULT_OMISSION_PROMPT,
    evidence_prompt: str = DEFAULT_EVIDENCE_PROMPT,
    with_transcript: bool = False,
) -> DataFrame:
    """Run the 4-phase chain for every instruction in ``stage``.

    Output: one string column per instruction (the post-evidence
    response, phase-4 prune being identity per the reference's stub),
    plus optionally ``{name}__transcript`` array<struct<role,content>>
    columns for lineage/debug.
    """
    from instructions_mr_spark.shipping import ensure_shipped

    _check_llm_args(concurrency)
    ensure_shipped(df.sparkSession)
    conf = llm_conf or LlmConfig()
    available = [f.name for f in df.schema.fields]
    stage.validate_against(available)
    keep = list(keep_cols) if keep_cols else []
    names = stage.output_columns
    sys_msgs = {
        ins.name: build_sys_msg(ins) + extract_prompt for ins in stage.instructions
    }

    prompted = _project_prompts(
        df,
        keep,
        {ins.name: user_msg_col(ins.scope, available) for ins in stage.instructions},
    )

    fields = [prompted.schema[c] for c in keep] + [
        T.StructField(n, T.StringType()) for n in names
    ]
    if with_transcript:
        fields += [
            T.StructField(
                f"{n}__transcript",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("role", T.StringType()),
                            T.StructField("content", T.StringType()),
                        ]
                    )
                ),
            )
            for n in names
        ]
    out_schema = T.StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory(conf)

        def chain(call: tuple[str, str]) -> list[dict[str, str]]:
            name, user_msg = call
            msgs = _chatml(sys_msgs[name], user_msg, conf.model)
            for turn in (None, omission_prompt, evidence_prompt):
                if turn is not None:
                    msgs.append({"role": "user", "content": turn})
                resp = call_with_retry(client, msgs)
                msgs.append({"role": "assistant", "content": resp})
            # phase 4 (prune) is rule-based and an identity stub in the
            # reference (self_verification_mr.py:387-393)
            return msgs

        for pdf in batches:
            calls = [
                (name, um)
                for name in names
                for um in pdf[f"{_PROMPT_PREFIX}{name}"].tolist()
            ]
            flat = _pool_map(chain, calls, concurrency)
            n = len(pdf)
            transcripts = {name: flat[i * n : (i + 1) * n] for i, name in enumerate(names)}
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            for name in names:
                out[name] = [m[-1]["content"] for m in transcripts[name]]
            if with_transcript:
                for name in names:
                    out[f"{name}__transcript"] = [
                        [(m["role"], m["content"]) for m in msgs]
                        for msgs in transcripts[name]
                    ]
            yield out

    return prompted.mapInPandas(run, schema=out_schema)

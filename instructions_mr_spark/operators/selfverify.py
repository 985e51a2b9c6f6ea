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
               marks finished=True, :387-393), so identity here

The reference runs a *global* gather barrier between phases
(:404-415).  Spark-first, the phases become sequential turns of one
chain per (instruction, row), run by the same ``mapInArrow`` executor
as the map and reduce operators (``llm_map._llm_columns``): phase 1 is
the chain's opening call, phases 2-3 are its follow-up user turns, a
batch's chains share the executor's bounded worker pool
(``concurrency`` chains in flight), and every turn goes through
``llm_map.call_with_retry``.  No global barrier — better pipelining
than the reference, identical per-record transcript semantics.

The phase prompts capture the reference's intent in this engine's own
wording.  In echo mode each phase returns its last user message, which
makes the full transcript deterministic and unit-checkable.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from instructions_mr_spark.config import LlmConfig, Stage
from instructions_mr_spark.llm.client import LlmClient, make_client
from instructions_mr_spark.operators.llm_map import _llm_columns
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
    with_transcript: bool = False,
) -> DataFrame:
    """Run the 4-phase chain for every instruction in ``stage``.

    Output: one string column per instruction (the post-evidence
    response, phase-4 prune being identity per the reference's stub),
    plus optionally ``{name}__transcript`` array<struct<role,content>>
    columns for lineage/debug.
    """
    available = [f.name for f in df.schema.fields]
    stage.validate_against(available)
    return _llm_columns(
        df,
        keep_cols or [],
        {ins.name: user_msg_col(ins.scope, available) for ins in stage.instructions},
        {
            ins.name: build_sys_msg(ins) + DEFAULT_EXTRACT_PROMPT
            for ins in stage.instructions
        },
        llm_conf or LlmConfig(), concurrency, client_factory,
        max_retries=3,
        on_error="fail",
        follow_ups=(DEFAULT_OMISSION_PROMPT, DEFAULT_EVIDENCE_PROMPT),
        with_transcript=with_transcript,
    )

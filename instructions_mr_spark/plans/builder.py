"""Fluent PySpark-side pipeline builder (SURVEY.md §1.3: "We keep the
JSON config format as the primary API and add a fluent PySpark-side
builder").

The JSON config (reference ``bin/text_mr_pipe.json`` shape) stays the
canonical interchange format; this builder constructs the SAME
``PipelineConfig`` programmatically, so everything downstream —
``run_pipeline``, the CLI, parity tests — is shared:

    from instructions_mr_spark.plans.builder import Pipeline, instruction

    out = (
        Pipeline()
        .llm(api_type="echo", model="echo")
        .map(
            instruction("summary", content="Summarize.", scope=["text"]),
            instruction("keywords", content="List keywords.", scope=["text"]),
        )
        .reduce(instruction("report", content="Merge.", scope=["summary", "keywords"]))
        .run(df, keep_cols=["doc_id"])
    )

``to_config()`` returns the compiled ``PipelineConfig``;
``to_dict()`` round-trips to the reference's JSON shape, so a fluent
pipeline can be saved and re-run by the config-driven CLI unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame

from instructions_mr_spark.config import Instruction, LlmConfig, PipelineConfig, Stage


def instruction(
    name: str,
    content: str | None = None,
    role: str | None = None,
    input_desc: str | None = None,
    output_desc: str | None = None,
    scope: Sequence[str] | None = None,
) -> Instruction:
    """One derived-output spec (sugar over config.Instruction)."""
    return Instruction(
        name=name,
        content=content,
        role=role,
        input_desc=input_desc,
        output_desc=output_desc,
        scope=list(scope) if scope is not None else None,
    )


class Pipeline:
    """Fluent builder for instruction-MR pipelines; immutable-ish —
    each call returns self for chaining, ``run`` compiles lazily."""

    def __init__(self) -> None:
        self._stages: list[Stage] = []
        self._llm = LlmConfig()

    def llm(self, **kwargs: Any) -> "Pipeline":
        """Set LLM connection/sampling config (same keys as the JSON
        ``llm`` block: api_type, api_url, model, temperature, ...)."""
        self._llm = LlmConfig.from_dict({**self._llm.__dict__, **kwargs})
        return self

    def map(self, *instructions: Instruction) -> "Pipeline":
        """Append a map stage (one LLM-derived column per instruction)."""
        self._stages.append(Stage(list(instructions), kind="map"))
        return self

    def reduce(self, *instructions: Instruction) -> "Pipeline":
        """Append a reduce stage (regroup map outputs by scope, one
        rewrite per instruction)."""
        self._stages.append(Stage(list(instructions), kind="reduce"))
        return self

    def to_config(self) -> PipelineConfig:
        return PipelineConfig(llm=self._llm, stages=list(self._stages))

    def to_dict(self) -> dict[str, Any]:
        """The reference's JSON config shape — a fluent pipeline saved
        with this runs unchanged under the config-driven CLI."""
        return {
            "llm": {k: v for k, v in self._llm.__dict__.items() if v is not None},
            "pipe": [
                [
                    {
                        k: v
                        for k, v in ins.__dict__.items()
                        if v is not None and k != "msgs"
                    }
                    for ins in stage.instructions
                ]
                for stage in self._stages
            ],
        }

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        """Compile to one lazy DataFrame plan (plans.run_pipeline);
        kwargs pass through (keep_cols, client_factory, reduce_style, ...)."""
        from instructions_mr_spark.plans import run_pipeline

        return run_pipeline(df, self.to_config(), **kwargs)

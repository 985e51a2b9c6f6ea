"""Config -> DataFrame-plan compiler (SURVEY.md §2.4 ``mr_chain``).

The reference lifecycle (v0.py:26-56): init pseudo-stage stringifies
the input record (json2str_kv, v0.py:40-44), the map stage fans out
one LLM call per instruction, the reduce stage regroups map outputs by
scope and rewrites per group, and the final output carries the reduce
result plus a markdown rendering (instructions_to_md, v0.py:51-55).

Here the whole pipeline compiles to ONE lazy logical plan — a chain of
``DataFrame`` transforms — which Catalyst then optimizes end-to-end
(column pruning reaches the source scan through every stage; the
reference's hand-rolled ``scope`` optimization becomes automatic).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from instructions_mr_spark.config import LlmConfig, PipelineConfig, Stage
from instructions_mr_spark.llm.client import LlmClient, make_client
from instructions_mr_spark.operators.llm_map import group_concat_reduce, instr_fanout_map
from instructions_mr_spark.operators.scope import stringify_kv
from instructions_mr_spark.sources.io import md_sink


def run_stage(
    df: DataFrame,
    stage: Stage,
    llm_conf: LlmConfig,
    keep_cols: Sequence[str] | None = None,
    client_factory: Callable[[LlmConfig], LlmClient] = make_client,
    concurrency: int = 32,
    reduce_style: str = "serialize",
    pretty: bool = False,
) -> DataFrame:
    """Reduce styles: the LIBRARY pipeline's reducer reuses the same
    scope-project + JSON-serialize prompt path as the mapper
    (v0.py:48-50 -> instructions_runners.py:37-44), so ``"serialize"``
    is the default; ``"xmlwrap"`` is the POC RewritingReducer's
    tag-wrapped group concat (self_verification_mr.py:457-471)."""
    if stage.kind == "reduce" and reduce_style == "xmlwrap":
        return group_concat_reduce(
            df,
            stage,
            llm_conf,
            keep_cols=keep_cols,
            concurrency=concurrency,
            client_factory=client_factory,
        )
    return instr_fanout_map(
        df,
        stage,
        llm_conf,
        keep_cols=keep_cols,
        concurrency=concurrency,
        client_factory=client_factory,
        pretty=pretty,
    )


def run_pipeline(
    df: DataFrame,
    config: PipelineConfig,
    keep_cols: Sequence[str] | None = None,
    client_factory: Callable[[LlmConfig], LlmClient] = make_client,
    with_md: bool = True,
    concurrency: int = 32,
    reduce_style: str = "serialize",
    pretty: bool = False,
) -> DataFrame:
    """Compile + run: init(stringify) -> map -> reduce -> [md].

    ``keep_cols`` flow through every stage so outputs stay joinable to
    the input records (an engine extension; the reference loses record
    identity between stages).  ``pretty=True`` gives byte-parity with
    the reference's indent=2 serialization everywhere.
    """
    out = stringify_kv(df, pretty=pretty)  # init pseudo-stage (v0.py:40-44)
    for stage in config.stages:
        out = run_stage(
            out,
            stage,
            config.llm,
            keep_cols=keep_cols,
            client_factory=client_factory,
            concurrency=concurrency,
            reduce_style=reduce_style,
            pretty=pretty,
        )
    if with_md and config.stages:
        out = md_sink(out, config.stages[-1].output_columns, out_col="result_md")
    return out


def split_quarantine(
    df: DataFrame, output_cols: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """Split a stage's output into (good, quarantined): a row is
    quarantined when ANY instruction output is null — i.e. an LLM call
    exhausted its retries under on_error='null' (the configurable
    quarantine-sink semantics of SURVEY.md §4: fail task OR null-column
    + quarantine).  Route the second frame to a side sink for replay."""
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    any_null = _reduce(
        lambda a, b: a | b, [F.col(c).isNull() for c in output_cols]
    )
    return df.filter(~any_null), df.filter(any_null)


def record_schema(record, map_keys: frozenset[str] = frozenset()):
    """StructType mirroring a JSON record's own key order.  Spark's
    JSON schema inference sorts keys alphabetically, which changes
    nested serialization order vs the raw record and breaks prompt
    byte-parity (the reference iterates dicts in insertion order —
    instructions_runners.py:40).  Keys named in ``map_keys`` become
    string maps (for dict fields with per-row key sets)."""
    from pyspark.sql import types as T

    def build(value, key=None):
        if isinstance(value, dict):
            if key in map_keys:
                return T.MapType(T.StringType(), T.StringType())
            return T.StructType(
                [T.StructField(k, build(v, k), True) for k, v in value.items()]
            )
        if isinstance(value, list):
            elem = value[0] if value else ""
            return T.ArrayType(build(elem, key), True)
        if isinstance(value, bool):
            return T.BooleanType()
        if isinstance(value, int):
            return T.LongType()
        if isinstance(value, float):
            return T.DoubleType()
        return T.StringType()

    return build(record)


def run_with_configs(
    spark,
    llm,
    inputs: dict,
    map_conf: list[dict],
    reduce_conf: list[dict],
    reduce_style: str = "serialize",
    pretty: bool = True,
    map_keys: frozenset[str] = frozenset(),
) -> dict:
    """Drop-in twin of the reference library API
    (``instructionspipe.pipelines.mapreduce.run_with_configs``,
    v0.py:26-31): one record dict in, the reference's output dict out
    — ``{"map_results": {...}, "reduce_results": {...}, "result":
    markdown}`` (v0.py:51-55).  Synchronous (no event loop — Spark owns
    the concurrency); ``llm`` is the config's ``llm`` dict or an
    LlmConfig.  For datasets use run_pipeline — this single-record
    path exists so reference callers can migrate line-for-line.
    """
    import json as _json

    from instructions_mr_spark.config import PipelineConfig

    llm_dict = llm if isinstance(llm, dict) else None
    config = PipelineConfig.from_dict(
        {
            "llm": llm_dict or {"api_type": "echo", "model": "echo"},
            "pipe": [map_conf, reduce_conf],
        }
    )
    if not isinstance(llm, dict) and llm is not None:
        config = PipelineConfig(
            llm=llm, stages=config.stages,
            in_data_path=None, out_data_path=None,
        )

    schema = record_schema(inputs, map_keys=map_keys)
    rdd = spark.sparkContext.parallelize([_json.dumps(inputs)])
    df = spark.read.schema(schema).json(rdd)

    init = stringify_kv(df, pretty=pretty)
    mapped = run_stage(
        init, config.stages[0], config.llm, pretty=pretty
    ).persist()
    map_results = mapped.collect()[0].asDict()
    reduced = run_stage(
        mapped,
        config.stages[1],
        config.llm,
        reduce_style=reduce_style,
        pretty=pretty,
    )
    final = md_sink(
        reduced, config.stages[1].output_columns, out_col="result_md"
    )
    row = final.collect()[0].asDict()
    mapped.unpersist()
    md = row.pop("result_md")
    return {"map_results": map_results, "reduce_results": row, "result": md}

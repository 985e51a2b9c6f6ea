"""The LLM executor (SURVEY.md §2.3).

Reference execution model: per record, ALL map instructions run
concurrently (one gathered coroutine each), one LLM call per instruction,
each yielding one named output column
(instructions_runners.py:107-130); records themselves are processed
*sequentially* in a single process (bin/text_mr_pipe.py:51-58).

Spark-first re-expression — the scale-out win:

* Record parallelism comes from partitions (Spark schedules them
  across executors); call parallelism comes from one bounded pool of
  worker threads per Arrow batch (``_pool_map``) inside ONE executor
  (``_llm_columns``) that all three LLM operators share; it crosses
  into Python through the package's one ``mapInArrow`` boundary
  (``arrow_map.map_columns``).  Each unit of work is a chain: the
  ``(system, user)`` opening call, then zero or more follow-up user
  turns.  The map fan-out (``instr_fanout_map``) and the xml-wrap
  reduce (``group_concat_reduce``) send no follow-ups and differ only
  in their prompt columns; the self-verified map
  (``selfverify.self_verified_map``) sends two.
* Prompts are assembled JVM-side as columns *before* the Python
  boundary (system message is a plan-time literal, user message is
  ``to_json(struct(scope))``) so the Python stage only does the I/O
  fan-out — no per-row Python string assembly, and keep columns pass
  through as Arrow arrays untouched.
* Chains are issued instruction-major (all rows of instruction 0, then
  instruction 1, ...), so calls that share an identical system-prompt
  prefix are adjacent — the prefix-cache affinity the reference
  README recommends exploiting (README.md:19,85), done as batch
  ordering instead of server configuration.
* The LLM call is a plain blocking function: ``concurrency`` worker
  threads pull chains in list order, so at most ``concurrency`` calls
  are in flight and results keep their list positions.  Every call goes
  through ``call_with_retry`` (the only ``client.complete`` call site
  in the package).

At 100 TB the bottleneck is the LLM service, not Spark: this operator
keeps every deterministic step distributed and JVM-side, and makes
the service fan-out width (``concurrency`` × partitions) an explicit
knob.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from instructions_mr_spark.config import LlmConfig, Stage
from instructions_mr_spark.llm.client import LlmClient, make_client
from instructions_mr_spark.operators.arrow_map import map_columns
from instructions_mr_spark.operators.prompts import (
    CHATML_TYPE,
    build_sys_msg,
    user_msg_col,
    xml_tag_wrap,
)

def _chatml(sys_msg: str, user_msg: str, model: str) -> list[dict[str, str]]:
    """Python-side twin of prompts.chatml_col (instructions_runners.py:69-91),
    used at call time inside the partition."""
    if "mistral" in model.lower():
        return [
            {"role": "user", "content": sys_msg},
            {"role": "assistant", "content": "Ok."},
            {"role": "user", "content": user_msg},
        ]
    return [
        {"role": "system", "content": sys_msg},
        {"role": "user", "content": user_msg},
    ]


def call_with_retry(
    client: LlmClient,
    messages: list[dict[str, str]],
    max_retries: int = 3,
    backoff_base: float = 0.5,
    on_error: str = "fail",
) -> str | None:
    """LLM call with exponential backoff.

    Error semantics after retries are exhausted:
    * ``fail`` — re-raise: the Spark task fails and Spark's own task
      retry takes over (idempotent thanks to the reference's
      determinism pinning: temperature 0, fixed seed).
    * ``null`` — return None: mirrors the reference's short-circuit,
      which nulls the stage result when an instruction never finishes
      (instructions.py:43-45), but per-column instead of per-record so
      one bad call doesn't discard the other instructions' outputs.
    """
    attempt = 0
    while True:
        try:
            return client.complete(messages)
        except Exception:
            if attempt >= max_retries:
                if on_error == "null":
                    return None
                raise
            time.sleep(backoff_base * (2**attempt))
            attempt += 1


def _check_llm_args(concurrency: int, on_error: str = "fail") -> None:
    """Plan-time check of the knobs every LLM operator shares."""
    if not isinstance(concurrency, int) or concurrency < 1:
        raise ValueError(f"concurrency must be an int >= 1, got {concurrency!r}")
    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be 'fail' or 'null', got {on_error!r}")


def _pool_map(fn: Callable[[Any], Any], items: list, concurrency: int) -> list:
    """``[fn(x) for x in items]`` on ``min(concurrency, len(items))``
    worker threads (the caller is one).  Workers pull items from one
    shared iterator, so items start in list order (strictly sequential
    at ``concurrency=1``) — no future per call, whose scheduling costs
    more than an echo call.  After the first exception no worker
    starts another item; it is re-raised once in-flight calls finish."""
    results: list = [None] * len(items)
    errors: list[BaseException] = []
    # next() on a shared enumerate(list) iterator is atomic under
    # CPython's GIL (both are C iterators), so claiming an item needs
    # no lock; a lock per item costs more than an echo call
    todo = enumerate(items)

    def work() -> None:
        for i, item in todo:
            if errors:
                return
            try:
                results[i] = fn(item)
            except BaseException as e:  # re-raised in the caller below
                errors.append(e)
                return

    threads = [
        threading.Thread(target=work, daemon=True)
        for _ in range(min(concurrency, len(items)) - 1)
    ]
    for t in threads:
        t.start()
    work()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def _run_fanout(
    client: LlmClient,
    sys_msgs: dict[str, str],
    prompts: dict[str, list[str]],
    follow_ups: Sequence[str],
    model: str,
    concurrency: int,
    max_retries: int,
    on_error: str,
) -> dict[str, list[list[dict[str, str]]]]:
    """Run |prompts| × n_rows chains through one pool, instruction-major.

    A chain opens with ``_chatml(system, user)`` and then sends each of
    ``follow_ups`` as one more user turn; every reply goes through
    ``call_with_retry`` and is appended to the chain's transcript, which
    is what the chain returns.  With no follow-ups a chain is one call."""

    def chain(messages: list[dict[str, str]]) -> list[dict[str, str]]:
        for turn in (None, *follow_ups):
            if turn is not None:
                messages.append({"role": "user", "content": turn})
            reply = call_with_retry(
                client, messages, max_retries=max_retries, on_error=on_error
            )
            messages.append({"role": "assistant", "content": reply})
        return messages

    openings = [
        _chatml(sys_msgs[name], user_msg, model)
        for name, msgs in prompts.items()
        for user_msg in msgs
    ]
    flat = _pool_map(chain, openings, concurrency)
    n = len(next(iter(prompts.values()), []))
    return {name: flat[i * n : (i + 1) * n] for i, name in enumerate(prompts)}


def _llm_columns(
    df: DataFrame,
    keep: Sequence[str],
    prompts: dict[str, Column],
    sys_msgs: dict[str, str],
    conf: LlmConfig,
    concurrency: int,
    client_factory: Callable[[LlmConfig], LlmClient],
    max_retries: int,
    on_error: str,
    follow_ups: Sequence[str] = (),
    with_transcript: bool = False,
) -> DataFrame:
    """The one LLM executor: keep columns plus one string column per
    prompt, each cell the last reply of the chain that opens with
    (system message, prompt) and continues with ``follow_ups``; with
    ``with_transcript``, also one ``{name}__transcript`` column
    (``CHATML_TYPE``) per prompt holding the whole chain.  Runs on the
    shared ``arrow_map.map_columns`` boundary, one client per task."""
    _check_llm_args(concurrency, on_error)
    names = list(prompts)
    out = [T.StructField(n, T.StringType()) for n in names]
    if with_transcript:
        out += [T.StructField(f"{n}__transcript", CHATML_TYPE) for n in names]

    def make_fn() -> Callable[..., list[list]]:
        client = client_factory(conf)

        def fan_out(*prompt_lists: list[str]) -> list[list]:
            chains = _run_fanout(
                client, sys_msgs, dict(zip(names, prompt_lists)), follow_ups,
                conf.model, concurrency, max_retries, on_error,
            )
            replies = [[m[-1]["content"] for m in chains[n]] for n in names]
            return (replies + [chains[n] for n in names]) if with_transcript else replies

        return fan_out

    return map_columns(df, keep, list(prompts.values()), out, make_fn)


def instr_fanout_map(
    df: DataFrame,
    stage: Stage,
    llm_conf: LlmConfig | None = None,
    keep_cols: Sequence[str] | None = None,
    concurrency: int = 32,
    client_factory: Callable[[LlmConfig], LlmClient] = make_client,
    pretty: bool = False,
    max_retries: int = 3,
    on_error: str = "fail",
) -> DataFrame:
    """One LLM-derived output column per instruction in ``stage``.

    ``pretty=True`` serializes user messages with the reference's
    exact ``json.dumps(indent=2, ensure_ascii=False)`` formatting
    (byte-parity mode; compact JVM path otherwise).

    ``keep_cols`` are passed through (e.g. a record id so stage outputs
    can be joined back); the reference keeps nothing but the stage
    result dict (instructions.py:39-59) — pass ``keep_cols=None`` for
    exact reference semantics.
    """
    available = [f.name for f in df.schema.fields]
    stage.validate_against(available)
    return _llm_columns(
        df,
        keep_cols or [],
        {
            ins.name: user_msg_col(ins.scope, available, pretty=pretty)
            for ins in stage.instructions
        },
        {ins.name: build_sys_msg(ins) for ins in stage.instructions},
        llm_conf or LlmConfig(), concurrency, client_factory, max_retries, on_error,
    )


def group_concat_reduce(
    df: DataFrame,
    stage: Stage,
    llm_conf: LlmConfig | None = None,
    keep_cols: Sequence[str] | None = None,
    concurrency: int = 32,
    client_factory: Callable[[LlmConfig], LlmClient] = make_client,
    max_retries: int = 3,
    on_error: str = "fail",
) -> DataFrame:
    """The reference's reduce: regroup map-output columns by each reduce
    instruction's scope, concatenate the group into one tag-wrapped
    prompt, one rewrite call per group (self_verification_mr.py:440-521;
    generic path instructions_runners.py via v0.py:48-50).

    Deterministic part (regroup + wrap + concat) stays JVM-side via
    ``xml_tag_wrap``; only the rewrite call crosses into Python.
    """
    available = [f.name for f in df.schema.fields]
    stage.validate_against(available)
    return _llm_columns(
        df,
        keep_cols or [],
        {ins.name: xml_tag_wrap(ins.scope or available) for ins in stage.instructions},
        {ins.name: build_sys_msg(ins) for ins in stage.instructions},
        llm_conf or LlmConfig(), concurrency, client_factory, max_retries, on_error,
    )

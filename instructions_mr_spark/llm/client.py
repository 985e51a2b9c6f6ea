"""LLM clients (SURVEY.md §2.3 ``llm_call``).

The reference calls an OpenAI-compatible ``chat.completions.create``
with determinism pinning — temperature 0.0, top_p 0.01, fixed seed,
max_tokens cap, optional JSON-schema response format
(``src/python/instructionspipe/llm_cli.py:20-82``; Azure branch
:36-41).  Here:

* ``LlmClient`` — minimal blocking protocol: ``complete(messages) -> str``.
* ``EchoLlmClient`` — deterministic pure-function client used for the
  DuckDB-oracle checks of the *scaffolding* (scope, prompt assembly,
  fan-out, regroup, sinks): the "LLM" echoes the last user message,
  optionally tagged.  This is what makes the LLM-bound operators
  hash-checkable (SURVEY.md §2.7 note).
* ``HttpLlmClient`` (stdlib urllib) and ``OpenAILlmClient`` (import-
  gated ``openai``) — the real paths.

Every client blocks (or, like echo, returns at once), so one code path
serves all of them: clients are created *inside* the LLM executor's
partitions (``operators/llm_map.py``, one per ``mapInArrow`` task) via
``make_client`` (a picklable factory), never captured from the driver,
and shared by that task's ``concurrency`` worker threads.
"""

from __future__ import annotations

from typing import Any, Protocol

from instructions_mr_spark.config import LlmConfig


class LlmClient(Protocol):
    def complete(
        self, messages: list[dict[str, str]], json_schema: dict[str, Any] | None = None
    ) -> str: ...


def request_body(
    conf: LlmConfig,
    messages: list[dict[str, str]],
    json_schema: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """The chat-completions request with the reference's determinism
    knobs (llm_cli.py:60-82), in the key order both real clients send."""
    body: dict[str, Any] = dict(
        model=conf.model,
        messages=messages,
        seed=conf.seed,
        temperature=conf.temperature,
        top_p=conf.top_p,
        max_tokens=conf.max_tokens,
    )
    if json_schema is not None:
        body["response_format"] = {"type": "json_schema", "json_schema": json_schema}
    return body


class EchoLlmClient:
    """Deterministic stand-in: response = last user message content.

    ``tag=True`` prepends ``[model]`` so tests can distinguish the
    response from its prompt.  No I/O, so a call costs microseconds and
    runs through the same worker pool as a network client.
    """

    def __init__(self, conf: LlmConfig | None = None, tag: bool = False):
        self.conf = conf or LlmConfig()
        self.tag = tag

    def complete(
        self, messages: list[dict[str, str]], json_schema: dict[str, Any] | None = None
    ) -> str:
        users = [m["content"] for m in messages if m["role"] == "user"]
        body = users[-1] if users else ""
        return f"[{self.conf.model}] {body}" if self.tag else body


class OpenAILlmClient:
    """OpenAI/Azure chat-completions client with the reference's knobs.

    Mirrors llm_cli.py:60-82: model, seed, temperature (default 0.0),
    top_p, max_tokens, optional ``response_format`` JSON schema.  Uses
    the blocking ``OpenAI`` / ``AzureOpenAI`` clients; the executor's
    worker threads provide the concurrency.
    """

    def __init__(self, conf: LlmConfig):
        try:
            import openai  # noqa: F401
        except ImportError as e:  # pragma: no cover - env without openai
            raise ImportError(
                "openai package not installed; use api_type='echo' or install openai"
            ) from e
        from openai import AzureOpenAI, OpenAI

        self.conf = conf
        if conf.api_type == "azure":
            self.cli = AzureOpenAI(
                api_key=conf.api_key,
                api_version=conf.api_version,
                azure_endpoint=conf.api_url,
            )
        else:
            self.cli = OpenAI(api_key=conf.api_key, base_url=conf.api_url)

    def complete(
        self, messages: list[dict[str, str]], json_schema: dict[str, Any] | None = None
    ) -> str:
        resp = self.cli.chat.completions.create(
            **request_body(self.conf, messages, json_schema)
        )
        return resp.choices[0].message.content or ""


class HttpLlmClient:
    """Dependency-free OpenAI-compatible client (stdlib urllib only).

    Speaks the same ``POST {base}/chat/completions`` JSON protocol as
    llm_cli.py:60-82 but without requiring the ``openai`` package —
    the path that actually runs inside Spark Python workers in minimal
    executor images.  ``complete`` blocks on the POST; the executor's
    worker threads keep ``concurrency`` requests in flight.  HTTP
    errors raise and flow into ``call_with_retry``'s backoff.
    """

    def __init__(self, conf: LlmConfig):
        if not conf.api_url:
            raise ValueError("api_type='http' requires api_url")
        self.conf = conf
        self.url = conf.api_url.rstrip("/") + "/chat/completions"

    def _post(self, payload: dict[str, Any]) -> str:
        import json
        import urllib.request

        req = urllib.request.Request(
            self.url,
            data=json.dumps(payload).encode("utf-8"),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.conf.api_key or 'unused'}",
            },
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            body = json.loads(resp.read().decode("utf-8"))
        return body["choices"][0]["message"]["content"] or ""

    def complete(
        self, messages: list[dict[str, str]], json_schema: dict[str, Any] | None = None
    ) -> str:
        return self._post(request_body(self.conf, messages, json_schema))


def make_client(conf: LlmConfig) -> LlmClient:
    """Picklable factory — call inside the executor partition."""
    if conf.api_type == "echo":
        return EchoLlmClient(conf)
    if conf.api_type == "http":
        return HttpLlmClient(conf)
    return OpenAILlmClient(conf)

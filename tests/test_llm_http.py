"""Smoke tests for the real (network) LLM client path against a local
OpenAI-compatible mock server — the protocol the reference speaks
(llm_cli.py:60-82: POST chat/completions with model/seed/temperature/
top_p/max_tokens), served by stdlib http.server so no external deps.

Covers: payload shape on the wire, response parsing, retry/backoff on
a 500, the full Spark path (make_client inside mapInArrow workers
reaching the server over HTTP), the fan-out width (``concurrency``
requests in flight) and fail-fast on a permanent error.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from instructions_mr_spark.config import Instruction, LlmConfig, Stage
from instructions_mr_spark.llm.client import HttpLlmClient, make_client
from instructions_mr_spark.operators.llm_map import instr_fanout_map


class _MockOpenAI(BaseHTTPRequestHandler):
    """Upper-cases the last user message after ``delay_s``; 500s the
    first ``fail_first`` requests (every request if ``fail_all``) and
    records the peak number of requests in flight."""

    def do_POST(self):  # noqa: N802 - http.server API
        srv = self.server
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        with srv.lock:
            srv.payloads.append(body)
            fail = srv.fail_all or srv.fail_first > 0
            if srv.fail_first > 0:
                srv.fail_first -= 1
            srv.inflight += 1
            srv.inflight_max = max(srv.inflight_max, srv.inflight)
        try:
            time.sleep(srv.delay_s)
        finally:
            with srv.lock:
                srv.inflight -= 1
        if fail:
            self.send_response(500)
            self.end_headers()
            self.wfile.write(b"boom")
            return
        users = [m["content"] for m in body["messages"] if m["role"] == "user"]
        out = {
            "choices": [{"message": {"role": "assistant", "content": users[-1].upper()}}]
        }
        data = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):  # silence
        pass


class _Server(ThreadingHTTPServer):
    request_queue_size = 128  # room for every concurrent connect


@pytest.fixture()
def mock_server():
    srv = _Server(("127.0.0.1", 0), _MockOpenAI)
    srv.payloads = []
    srv.fail_first = 0
    srv.fail_all = False
    srv.delay_s = 0.0
    srv.inflight = 0
    srv.inflight_max = 0
    srv.lock = threading.Lock()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


def _conf(srv, **kw) -> LlmConfig:
    return LlmConfig(
        api_type="http",
        api_url=f"http://127.0.0.1:{srv.server_address[1]}/v1",
        model="mock-model",
        **kw,
    )


def test_http_client_roundtrip_and_payload(mock_server):
    cli = make_client(_conf(mock_server))
    assert isinstance(cli, HttpLlmClient)
    out = cli.complete(
        [
            {"role": "system", "content": "sys"},
            {"role": "user", "content": "hello"},
        ]
    )
    assert out == "HELLO"
    sent = mock_server.payloads[-1]
    # determinism pinning crosses the wire exactly as configured
    assert sent["model"] == "mock-model"
    assert sent["temperature"] == 0.0
    assert sent["seed"] == LlmConfig().seed
    assert sent["max_tokens"] == LlmConfig().max_tokens
    assert [m["role"] for m in sent["messages"]] == ["system", "user"]


def test_http_client_json_schema_passthrough(mock_server):
    cli = HttpLlmClient(_conf(mock_server))
    schema = {"name": "arr", "schema": {"type": "array"}}
    cli.complete([{"role": "user", "content": "x"}], json_schema=schema)
    sent = mock_server.payloads[-1]
    assert sent["response_format"] == {"type": "json_schema", "json_schema": schema}


def test_http_client_retry_after_500(mock_server):
    from instructions_mr_spark.operators.llm_map import call_with_retry

    mock_server.fail_first = 1
    cli = HttpLlmClient(_conf(mock_server))
    out = call_with_retry(
        cli,
        [{"role": "user", "content": "retry me"}],
        max_retries=2,
        backoff_base=0.01,
    )
    assert out == "RETRY ME"
    assert len(mock_server.payloads) == 2  # one failure + one success


def test_fanout_map_over_http(spark, mock_server):
    """End-to-end: Spark workers call the mock server through the
    picklable make_client factory (api_type='http')."""
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id int, text string"
    )
    stage = Stage([Instruction(name="up", content="Upper.", scope=["text"])])
    out = instr_fanout_map(
        df, stage, _conf(mock_server), keep_cols=["doc_id"], max_retries=1
    )
    rows = {r.doc_id: r.up for r in out.collect()}
    # JVM to_json is compact (no spaces), then upper-cased by the mock
    assert rows[1] == '{"TEXT":"ALPHA"}'
    assert rows[2] == '{"TEXT":"BETA"}'


def test_fanout_width_is_concurrency(spark, mock_server):
    """``concurrency`` bounds AND reaches the calls in flight: 64 calls
    in one task at concurrency=32 against a ~50 ms server peak at
    exactly 32 concurrent requests."""
    mock_server.delay_s = 0.05
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(64)], "doc_id int, text string"
    ).coalesce(1)
    stage = Stage([Instruction(name="up", content="Upper.", scope=["text"])])
    out = instr_fanout_map(
        df, stage, _conf(mock_server), keep_cols=["doc_id"], concurrency=32
    ).collect()
    assert len(out) == 64
    assert len(mock_server.payloads) == 64
    assert mock_server.inflight_max == 32


def test_permanent_error_fails_fast(spark, mock_server):
    """After the first exhausted call under on_error='fail', no further
    call starts: at concurrency=1 the server sees exactly one request
    and the job fails with the HTTP error."""
    mock_server.fail_all = True
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], "doc_id int, text string"
    ).coalesce(1)
    stage = Stage([Instruction(name="up", content="Upper.", scope=["text"])])
    out = instr_fanout_map(
        df, stage, _conf(mock_server), concurrency=1, max_retries=0, on_error="fail"
    )
    with pytest.raises(Exception, match="HTTP Error 500"):
        out.collect()
    assert len(mock_server.payloads) == 1

"""Mock OpenAI-compatible chat-completions server for ``instr_mr_http``.

Run as its own process:

    python3 perfbench/mock_llm.py --salt 7

It prints ``PORT <n>`` once it listens on 127.0.0.1.  Endpoints:

* ``POST .../chat/completions`` — the reply is a pure function of the
  request (see :func:`reply`), served after a deterministic sleep of
  ``BASE_MS + PER_CHAR_MS * len(user message)``.
* ``POST /reset`` — clear the counters and the set of faulted requests.
* ``GET /stats`` — counters since the last reset, as JSON.

Fault injection is keyed on content: a request fails with HTTP 500 on
its first attempt when its system message contains ``FAULT_ON`` and
``md5(salt, user message)`` falls under ``FAULT_PER_MILLE``; its
retry succeeds.  The same inputs and salt therefore give the same
number of retries on every run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


BASE_MS = 10.0  # service time = BASE_MS + PER_CHAR_MS * len(user message)
PER_CHAR_MS = 0.03
FAULT_PER_MILLE = 20
# Only the first map instruction of instr_mr_http is faulted: its calls
# come first in the batch, so a retry's back-off overlaps the other
# calls instead of extending the pass.
FAULT_ON = "Summarize the document."


def _md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def reply(system: str, user: str) -> str:
    """The mock model: ``<md5(system)[:8]>:<len(user)>:<md5(user)[:16]>``.

    perfbench/workloads.py holds the DuckDB twin of this rule."""
    return f"{_md5(system)[:8]}:{len(user)}:{_md5(user)[:16]}"


class Counters:
    """Server-side counters; every update holds ``lock``."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.calls = 0
        self.faults = 0
        self.retries = 0
        self.prefix_hits = 0
        self.last_system: str | None = None
        self.faulted: set[str] = set()
        self.service_ms: list[float] = []
        self.inflight = 0
        self.inflight_max = 0
        self.area = 0.0  # integral of inflight over time, in request-seconds
        self.t_first: float | None = None
        self.t_last = 0.0
        self.t_mark = 0.0

    def _advance(self, now: float) -> None:
        self.area += self.inflight * (now - self.t_mark)
        self.t_mark = now

    def begin(self, system: str) -> None:
        now = time.perf_counter()
        self._advance(now)
        if self.t_first is None:
            self.t_first = now
        self.calls += 1
        self.prefix_hits += system == self.last_system
        self.last_system = system
        self.inflight += 1
        self.inflight_max = max(self.inflight_max, self.inflight)

    def end(self, service_ms: float) -> None:
        now = time.perf_counter()
        self._advance(now)
        self.inflight -= 1
        self.t_last = now
        self.service_ms.append(service_ms)

    def snapshot(self) -> dict:
        ms = sorted(self.service_ms)

        def pct(q: float) -> float:
            return ms[min(len(ms) - 1, int(q * len(ms)))] if ms else 0.0

        span = (self.t_last - self.t_first) if self.t_first is not None else 0.0
        return {
            "calls": self.calls,
            "faults": self.faults,
            "retries": self.retries,
            "inflight_max": self.inflight_max,
            "inflight_mean": self.area / span if span > 0 else 0.0,
            "service_p50_ms": pct(0.50),
            "service_p99_ms": pct(0.99),
            "prefix_hit_ratio": self.prefix_hits / self.calls if self.calls else 0.0,
        }


def make_handler(args: argparse.Namespace, counters: Counters) -> type:
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *_a) -> None:  # keep stderr quiet
            pass

        def _send(self, code: int, body: dict) -> None:
            data = json.dumps(body).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self) -> None:
            if self.path != "/stats":
                self._send(404, {"error": "not found"})
                return
            with counters.lock:
                snap = counters.snapshot()
            self._send(200, snap)

        def do_POST(self) -> None:
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path == "/reset":
                with counters.lock:
                    counters.reset()
                self._send(200, {"ok": True})
                return
            if not self.path.endswith("/chat/completions"):
                self._send(404, {"error": "not found"})
                return
            t0 = time.perf_counter()
            msgs = json.loads(body)["messages"]
            system = "".join(m["content"] for m in msgs if m["role"] == "system")
            user = [m["content"] for m in msgs if m["role"] == "user"][-1]
            key = _md5(f"{args.salt}\x00{system}\x00{user}")
            with counters.lock:
                counters.begin(system)
                if key in counters.faulted:
                    counters.retries += 1
                    counters.faulted.discard(key)
                    fault = False
                else:
                    fault = (
                        FAULT_ON in system
                        and int(key[:8], 16) % 1000 < FAULT_PER_MILLE
                    )
                    if fault:
                        counters.faults += 1
                        counters.faulted.add(key)
            if not fault:
                time.sleep((BASE_MS + PER_CHAR_MS * len(user)) / 1000.0)
                content = reply(system, user)
            # a request stops being in flight once its reply is ready, so
            # the count never includes a reply the client already holds
            with counters.lock:
                counters.end((time.perf_counter() - t0) * 1000.0)
            if fault:
                self._send(500, {"error": "injected fault"})
            else:
                self._send(200, {"choices": [{"message": {"role": "assistant", "content": content}}]})

    return Handler


class Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 128


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--salt", type=int, default=0)
    args = ap.parse_args(argv)
    server = Server(("127.0.0.1", 0), make_handler(args, Counters()))
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.1)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())

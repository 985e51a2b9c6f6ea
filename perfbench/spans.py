"""Outside-in tracing: spans around the engine's public layer functions
and per-stage Spark counters read from the status store.

Nothing inside ``instructions_mr_spark`` changes.  :meth:`Tracer.wrap`
replaces a public function *and every module binding of it* (a
``from x import f`` copies the reference into the importing module) with
a wrapper that records a span while tracing is on and is a plain call
while it is off.  Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import Counter
from contextlib import contextmanager

PKG = "instructions_mr_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
            "child_s": 0.0,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += sp["t1"] - sp["t0"]

    @staticmethod
    def dur(sp: dict) -> float:
        return sp["t1"] - sp["t0"]

    @classmethod
    def self_s(cls, sp: dict) -> float:
        """Duration minus the time covered by direct children (spans of
        one thread never overlap, so their durations add up)."""
        return cls.dur(sp) - sp["child_s"]

    def descendants(self, sp: dict) -> list[dict]:
        # spans are appended in start order, so a span's subtree is a
        # contiguous run right after it
        out, ids = [], {sp["id"]}
        for s in self.spans[sp["id"] + 1:]:
            if s["parent"] not in ids:
                break
            ids.add(s["id"])
            out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)

    # --------------------------------------------------------- wrapping
    def wrap(self, module, attr: str, span_name: str, on_result=None) -> int:
        """Wrap ``module.attr`` and rebind every engine module attribute
        that holds the same function.  Returns the number of bindings
        replaced.  ``on_result(span, result)`` may annotate the span."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(span_name) as sp:
                res = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, res)
                return res

        n = 0
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    n += 1
        return n


STAGE_FIELDS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes",
)


def stage_metrics(sc, group: str) -> Counter:
    """Sum the per-stage counters of every job run under job group
    ``group``, read from the status store (works with the UI off)."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out: Counter = Counter({k: 0 for k in STAGE_FIELDS})
    out["jobs"] = 0
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
    return out

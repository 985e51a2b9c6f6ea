"""Self-test of the per-layer tracing on the sf0.001 test tables.

    python3 perfbench/selftest.py

In one Spark session, runs each workload once untraced and once traced,
then checks that every per-layer metric BENCHMARK.json names is emitted,
that each wrapper replaced every binding it must, and that counts are
non-zero where an item is known to use a layer.  Prints one line per
check and exits 1 if any fails.
"""

from __future__ import annotations

import os
import sys
import time

import run as R
from spans import Tracer

DATA = os.path.join(R.HERE, "testdata", "sf0.001")


def main() -> int:
    sys.path.insert(0, R.ROOT)
    import workloads

    units = R.per_layer_units()
    failures: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            failures.append(what)

    tracer = Tracer()
    bench = R.Bench(DATA, tracer, cores=len(os.sched_getaffinity(0)))
    try:
        bench.start()
        bindings = R.install_wrappers(tracer)
        # a from-import copies the function into the importing module
        check(bindings["sources.tables.load_table"] >= 2, "load_table: tables + queries._util bindings wrapped")
        check(bindings["plans.guard.certified_local_checkpoint"] >= 2,
              "certified_local_checkpoint: plans.guard + operators.graph bindings wrapped")
        check(bindings["queries._util.shared_checkpoint"] >= 1, "shared_checkpoint wrapped")
        check(bindings["queries._util.free_staged_checkpoints"] >= 1, "free_staged_checkpoints wrapped")

        per_item: dict[str, dict[str, float]] = {}
        whole: dict[str, dict[str, float]] = {}
        for name in ("curation_session", "instr_mr_http"):
            wl = workloads.make(name, bench, seed=1)
            try:
                wl.stage()
                t0 = time.perf_counter()
                wl.run_pass()
                untraced = time.perf_counter() - t0
                tracer.enabled = True
                first = len(tracer.spans)
                t0 = time.perf_counter()
                wl.run_pass()
                traced = time.perf_counter() - t0
                tracer.enabled = False
            finally:
                wl.close()
            check(not wl.errors, f"{name}: no item raised {wl.errors}")
            spans = tracer.spans[first:]
            m = R.pass_layers(tracer, spans, getattr(wl, "stats", {}))
            m.update(bench.timings)
            m["trace.overhead_s"] = traced - untraced
            missing = sorted(set(units) - set(m))
            check(not missing, f"{name}: every per-layer metric emitted {missing or ''}")
            whole[name] = m
            for sp in spans:
                if sp["name"] == "item":
                    per_item[sp["item"]] = R.pass_layers(tracer, [sp] + tracer.descendants(sp), {})

        c, h = whole["curation_session"], whole["instr_mr_http"]
        check(c["sources.tables.load_table.calls"] > 0, "curation_session: load_table.calls > 0")
        check(c["spark.exec.tasks"] > 0 and c["spark.exec.stages"] > 0,
              "curation_session: exec stages and tasks counted")
        check(c["spark.exec.input_bytes"] > 0, "curation_session: exec input_bytes > 0")
        check(per_item["semdedup_cells"]["plans.guard.certified_local_checkpoint.calls"] > 0,
              "semdedup_cells: certified_local_checkpoint.calls > 0")
        g = per_item["graph_conductance_brand"]
        check(g["queries._util.shared_checkpoint.hits"] == 0,
              "graph_conductance_brand: builds the shared edge stage (0 hits)")
        check(g["operators.llm_map.tasks"] == 0, "graph_conductance_brand: no Python map tasks")
        check(per_item["graph_hits_unnormalized"]["queries._util.shared_checkpoint.hits"] > 0,
              "graph_hits_unnormalized: shared_checkpoint.hits > 0 after graph_conductance_brand")
        check(c["queries._util.free_staged_checkpoints.freed"] > 0, "curation_session: staged checkpoints freed")
        check(c["queries.build.self_s"] > 0, "curation_session: build self time > 0")
        check(h["plans.run_pipeline_s"] > 0 and h["sources.io.jsonl_scan_s"] > 0
              and h["sources.io.jsonl_sink_s"] > 0, "instr_mr_http: pipeline, scan and sink spans")
        check(h["operators.llm_map.tasks"] == 1, "instr_mr_http: one Python map task (single JSONL split)")
        with open(wl.in_path, encoding="utf-8") as fh:
            records = sum(1 for _ in fh)
        check(h["llm.client.calls"] == 3 * records + h["llm.client.retries"],
              "instr_mr_http: calls = 3 per record + retries")
        # the worker's event loop runs blocking HTTP calls on asyncio's
        # default thread pool, which caps concurrency below concurrency=32
        cap = min(32, (os.cpu_count() or 1) + 4)
        check(0 < h["llm.client.inflight_max"] <= cap, f"instr_mr_http: 0 < inflight_max <= {cap}")
    finally:
        bench.close()
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

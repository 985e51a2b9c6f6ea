"""Layered benchmark for instructions_mr_spark.

    python3 perfbench/run.py --workload curation_session --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  One process, one client, a closed
loop: the workload's items run one after another on ``local[<cores>]``,
pass after pass: at least ``MIN_PASSES`` timed passes (untraced runs),
then more until the next one would end after ``--seconds``; it reports
their median.  Before the timed passes, set-up starts Spark, loads the
query registry, stages the inputs and runs ``WARMUP_PASSES`` warm-up
passes; the first also collects every output, which is checked against
its DuckDB oracle after the timed passes.  The query items read the
fixed sf0.01 test tables in ``perfbench/testdata/``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, including
the tracing overhead (median traced pass minus median untraced pass);
its spans go to ``.perfbench_cache/traces/``.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records parallelism, per-item times and check results.

perfbench/README.md lists the workloads, the seed semantics and which
end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
DATA = os.path.join(HERE, "testdata", "sf0.01")
WARMUP_PASSES = 2  # untimed: the first pass alone runs 2-3x slower (class loading, JIT)
MIN_PASSES = 5  # timed passes an untraced run takes its median of

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "item_geomean_s": "s"}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    """One Spark session plus the directories and tracer a run uses."""

    def __init__(self, data_dir: str, tracer, cores: int) -> None:
        self.data_dir = data_dir
        self.tracer = tracer
        self.cores = cores
        self.work = os.path.join(CACHE, f"run-{os.getpid()}")
        self.spark = None
        self.timings: dict[str, float] = {}

    def start(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        # keep Spark's, the workers' and the package zip's scratch files
        # inside the checkout
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        from instructions_mr_spark import registry, session

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        t1 = time.perf_counter()
        registry.load_all()
        t2 = time.perf_counter()
        self.timings = {"session.get_spark_s": t1 - t0, "registry.load_all_s": t2 - t1}
        sc = self.spark.sparkContext
        self.parallelism = {
            "nproc": self.cores,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
        }
        if sc.defaultParallelism != self.cores:
            raise RuntimeError(
                f"Spark runs with defaultParallelism={sc.defaultParallelism}, "
                f"not the requested {self.cores} cores: {self.parallelism}"
            )

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


def install_wrappers(tracer) -> dict[str, int]:
    """Wrap each layer's public functions (and every binding of them)."""
    from instructions_mr_spark import plans
    from instructions_mr_spark.plans import guard
    from instructions_mr_spark.queries import _util
    from instructions_mr_spark.sources import io as sio
    from instructions_mr_spark.sources import tables

    def freed(sp, n):
        sp["freed"] = n

    return {
        "sources.tables.load_table": tracer.wrap(tables, "load_table", "sources.tables.load_table"),
        "plans.guard.certified_local_checkpoint": tracer.wrap(
            guard, "certified_local_checkpoint", "plans.guard.certified_local_checkpoint"),
        "queries._util.shared_checkpoint": tracer.wrap(
            _util, "shared_checkpoint", "queries._util.shared_checkpoint"),
        "queries._util.free_staged_checkpoints": tracer.wrap(
            _util, "free_staged_checkpoints", "queries._util.free_staged_checkpoints", freed),
        "plans.run_pipeline": tracer.wrap(plans, "run_pipeline", "plans.run_pipeline"),
        "sources.io.jsonl_scan": tracer.wrap(sio, "jsonl_scan", "sources.io.jsonl_scan"),
        "sources.io.jsonl_sink": tracer.wrap(sio, "jsonl_sink", "sources.io.jsonl_sink"),
    }


STAGE_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "input_bytes")
LLM_KEYS = ("calls", "retries", "inflight_max", "inflight_mean", "service_p50_ms",
            "service_p99_ms", "prefix_hit_ratio")


def pass_layers(tracer, spans: list[dict], llm_stats: dict) -> dict[str, float]:
    """Per-layer numbers of one traced pass, from its spans."""
    dur, self_s = tracer.dur, tracer.self_s
    by: dict[str, list[dict]] = {}
    for sp in spans:
        by.setdefault(sp["name"], []).append(sp)

    def total(name: str) -> float:
        return sum(dur(s) for s in by.get(name, []))

    shared = by.get("queries._util.shared_checkpoint", [])
    hits = sum(
        not any(d["name"] == "plans.guard.certified_local_checkpoint" for d in tracer.descendants(s))
        for s in shared
    )
    m = {
        "sources.tables.load_table.calls": len(by.get("sources.tables.load_table", [])),
        "sources.tables.load_table.s": total("sources.tables.load_table"),
        "queries.build.self_s": sum(self_s(s) for s in by.get("build", [])),
        "plans.guard.certified_local_checkpoint.calls": len(by.get("plans.guard.certified_local_checkpoint", [])),
        "plans.guard.certified_local_checkpoint.s": total("plans.guard.certified_local_checkpoint"),
        "queries._util.shared_checkpoint.calls": len(shared),
        "queries._util.shared_checkpoint.hits": hits,
        "queries._util.shared_checkpoint.hit_ratio": hits / len(shared) if shared else 0.0,
        "queries._util.free_staged_checkpoints.freed": sum(
            s.get("freed", 0) for s in by.get("queries._util.free_staged_checkpoints", [])),
        "queries._util.free_staged_checkpoints.s": total("queries._util.free_staged_checkpoints"),
        "spark.plan.s": total("plan"),
        "spark.exec.s": total("exec"),
        "plans.run_pipeline_s": total("plans.run_pipeline"),
        "sources.io.jsonl_scan_s": total("sources.io.jsonl_scan"),
        "sources.io.jsonl_sink_s": total("sources.io.jsonl_sink"),
    }
    execs = by.get("exec", [])
    for k in STAGE_KEYS:
        m[f"spark.exec.{k}"] = sum(s.get("stage", {}).get(k, 0) for s in execs)
    m["spark.exec.busy_cores"] = m["spark.exec.task_run_s"] / m["spark.exec.s"] if m["spark.exec.s"] else 0.0
    # tasks of the exec stages of items whose plan crosses into Python
    # (exact for instr_mr_http, whose plan is one stage)
    python_items = {s["parent"] for s in by.get("plan", []) if s.get("python")}
    m["operators.llm_map.tasks"] = sum(
        s.get("stage", {}).get("tasks", 0) for s in execs if s["parent"] in python_items)
    for k in LLM_KEYS:
        m[f"llm.client.{k}"] = llm_stats.get(k, 0)
    return m


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Layered benchmark for instructions_mr_spark.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import instructions_mr_spark  # noqa: F401  fail fast outside a checkout

    import workloads
    from spans import Tracer

    units = per_layer_units() if args.trace else E2E_UNITS
    tracer = Tracer()
    bench = Bench(DATA, tracer, cores=len(os.sched_getaffinity(0)))
    wl = None
    try:
        bench.start()
        wl = workloads.make(args.workload, bench, args.seed)
        wl.stage()
        bindings = install_wrappers(tracer)
        # warm-up passes; the first also collects the outputs for the check
        wl.run_pass(collect=True)
        for _ in range(WARMUP_PASSES - 1):
            wl.run_pass()

        t_loop = time.perf_counter()
        setup_s = t_loop - T_START
        walls: dict[bool, list[float]] = {False: [], True: []}
        items: dict[str, list[float]] = {}
        layers: list[dict[str, float]] = []
        n = 0
        while True:
            # traced runs go untraced, traced, traced, untraced, ... so a
            # steady drift (JIT warm-up) cancels out of the overhead
            traced = bool(args.trace) and n % 4 in (1, 2)
            n += 1
            tracer.enabled = traced
            first_span = len(tracer.spans)
            p0 = time.perf_counter()
            item_walls = wl.run_pass()
            wall = time.perf_counter() - p0
            tracer.enabled = False
            walls[traced].append(wall)
            if traced:
                layers.append(pass_layers(tracer, tracer.spans[first_span:], getattr(wl, "stats", {})))
            else:
                for k, v in item_walls.items():
                    items.setdefault(k, []).append(v)
            elapsed = time.perf_counter() - t_loop
            # a traced run stops only after a whole U T T U group
            done = n % 4 == 0 if args.trace else len(walls[False]) >= MIN_PASSES
            if done and elapsed + wall > args.seconds:
                break
        rss_mb = bench.peak_rss_mb()

        attempted, failed, problems = wl.verify()
        item_med = {k: statistics.median(v) for k, v in items.items()}
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "parallelism": bench.parallelism,
            "untraced_passes_s": walls[False],
            "traced_passes_s": walls[True],
            "item_median_s": item_med,
            "setup": {**bench.timings, "setup_s": setup_s},
            "peak_rss_mb": rss_mb,
            "fail_ratio": failed / attempted if attempted else 1.0,
            "problems": problems,
            "llm_stats": getattr(wl, "stats", {}),
        }
        if args.trace:
            metrics = {k: statistics.median(p[k] for p in layers) for k in layers[0]}
            metrics.update(bench.timings)
            metrics["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
            info["wrapped_bindings"] = bindings
            os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
            tracer.dump(os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(walls[False]),
                "item_geomean_s": math.exp(statistics.fmean(math.log(v) for v in item_med.values())),
            }
    finally:
        if wl is not None:
            wl.close()
        bench.close()

    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The two workloads: what each runs, how a pass runs, how it is checked.

Every item goes through the engine's public entry points:
``registry.QUERIES[name](spark, data_dir)`` for ``curation_session``, and
``jsonl_scan -> plans.run_pipeline -> jsonl_sink`` (the path
``instructions_mr_spark.cli.main`` takes) for ``instr_mr_http``.  Engine
functions are looked up on their modules at call time, so the tracer's
wrappers see every call.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
import urllib.request

from instructions_mr_spark import plans, registry
from instructions_mr_spark.config import PipelineConfig
from instructions_mr_spark.queries import _util
from instructions_mr_spark.sources import io as sio
from instructions_mr_spark.sources.tables import TABLE_NAMES

from check import diff, duck_con
from mock_llm import _md5
from spans import stage_metrics

# The build-heavy, checkpointing semdedup_cells and a pair sharing the
# copurchase edge stage (the second reuses what the first staged).  The
# other curation queries are left out to keep every run of the benchmark
# inside its time budget on a 4-core host (a pass of these three takes
# 4-7 s; embedding_top_pc would add 2-3 s, and the first, cold pass of
# dedup_minhash_lsh alone takes ~7 s).
CURATION_SESSION = ["semdedup_cells", "graph_conductance_brand", "graph_hits_unnormalized"]


class ItemRunner:
    """Runs one item as spans item -> build -> plan -> exec.

    ``plan`` (``executedPlan()`` on the built DataFrame) runs only while
    tracing; untraced, planning happens inside the action.  While
    tracing, each phase runs under its own Spark job group and the exec
    span carries that phase's stage counters."""

    def __init__(self, bench) -> None:
        self.bench = bench
        self.n = 0

    def run(self, name: str, build, action):
        tr = self.bench.tracer
        self.n += 1
        sc = self.bench.spark.sparkContext
        with tr.span("item", item=name):
            group = f"pb{self.n}"
            if tr.enabled:
                sc.setJobGroup(f"{group}.build", name)
            with tr.span("build"):
                df = build()
            if tr.enabled:
                with tr.span("plan") as sp:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    sp["python"] = "MapInPandas" in plan or "MapInArrow" in plan
                sc.setJobGroup(f"{group}.exec", name)
            with tr.span("exec") as sp:
                out = action(df)
            if tr.enabled:
                sc._jsc.clearJobGroup()
                sp["stage"] = dict(stage_metrics(sc, f"{group}.exec"))
        return out


def _noop(df) -> None:
    # noop sink: materialises every output column and row
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """Registered queries run back to back in a fixed order.  Staged
    checkpoints are freed only at the end of the pass, so items share
    staged tables within a pass."""

    def __init__(self, bench, items: list[str]) -> None:
        self.bench = bench
        self.items = items
        self.runner = ItemRunner(bench)
        self.results: dict = {}
        self.errors: dict[str, str] = {}

    def stage(self) -> None:
        pass

    def run_pass(self, collect: bool = False) -> dict[str, float]:
        b = self.bench
        walls: dict[str, float] = {}
        for name in self.items:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            try:
                out = self.runner.run(
                    name,
                    lambda: fn(b.spark, b.data_dir),
                    (lambda df: df.toPandas()) if collect else _noop,
                )
            except Exception as exc:  # one failing item must not stop the run
                self.errors[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
                continue
            walls[name] = time.perf_counter() - t0
            if collect:
                self.results[name] = out
        _util.free_staged_checkpoints()
        return walls

    def verify(self) -> tuple[int, int, dict[str, str]]:
        """Each item against its DuckDB oracle twin: (attempted, failed, problems)."""
        con = duck_con(self.bench.data_dir, TABLE_NAMES)
        problems = dict(self.errors)
        for name in self.items:
            if name in problems or name not in self.results:
                problems.setdefault(name, "no result")
                continue
            try:
                oracle = con.sql(registry.ORACLES[name]).df()
            except Exception as exc:
                problems[name] = f"oracle error: {str(exc).splitlines()[0][:200]}"
                continue
            d = diff(self.results[name], oracle)
            if d:
                problems[name] = d
        con.close()
        return len(self.items), len(problems), problems

    def close(self) -> None:
        pass


# ------------------------------------------------------------ instr_mr_http

INSTR_DOCS = 400  # sampled from the 5000 sf0.1 documents
DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.1", "documents.parquet")
INPUT_DDL = "doc_id BIGINT, text STRING, lang STRING, source STRING"
MAP_STAGE = [
    {"name": "summary", "content": "Summarize the document.", "role": "Analyst.", "scope": ["text"]},
    {"name": "keywords", "content": "List keywords.", "scope": ["lang", "source"]},
]
REDUCE_STAGE = [
    {"name": "report", "content": "Merge the analyses.", "input_desc": "Summary and keywords.",
     "output_desc": "A merged report.", "scope": ["summary", "keywords"]},
]


class LlmWorkload:
    """The paper's job: a 2-map / 1-reduce instruction pipeline over a
    JSONL sample, calling a mock OpenAI-compatible server over HTTP that
    faults a seed-chosen few requests once each."""

    def __init__(self, bench, seed: int) -> None:
        self.bench = bench
        self.seed = seed
        self.items = ["instr_mr_http"]
        self.runner = ItemRunner(bench)
        self.errors: dict[str, str] = {}
        self.proc: subprocess.Popen | None = None
        self.stats: dict = {}
        d = os.path.join(bench.work, "instr")
        self.in_path = os.path.join(d, "input.jsonl")
        self.out_path = os.path.join(d, "output")

    def stage(self) -> None:
        """Export the seed's document sample to JSONL; start the mock."""
        import pyarrow.parquet as pq

        docs = pq.read_table(DOCS, columns=["doc_id", "text", "lang", "source"]).to_pylist()
        sample = random.Random(self.seed).sample(docs, INSTR_DOCS)
        os.makedirs(os.path.dirname(self.in_path), exist_ok=True)
        with open(self.in_path, "w", encoding="utf-8") as fh:
            for rec in sample:
                fh.write(json.dumps(rec, ensure_ascii=False) + "\n")
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "mock_llm.py"), "--salt", str(self.seed)],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            raise RuntimeError(f"mock LLM server did not start: {line}")
        self.url = f"http://127.0.0.1:{line[1]}"
        self.config = PipelineConfig.from_dict({
            "llm": {"api_type": "http", "api_url": f"{self.url}/v1", "model": "mock-llm"},
            "pipe": [MAP_STAGE, REDUCE_STAGE],
        })

    def _mock(self, path: str, post: bool = False) -> dict:
        req = urllib.request.Request(self.url + path, data=b"{}" if post else None,
                                     method="POST" if post else "GET")
        with urllib.request.urlopen(req, timeout=10) as resp:
            return json.loads(resp.read())

    def run_pass(self, collect: bool = False) -> dict[str, float]:
        b = self.bench
        self._mock("/reset", post=True)

        def build():
            df = sio.jsonl_scan(b.spark, self.in_path, schema=INPUT_DDL)
            return plans.run_pipeline(df, self.config, keep_cols=["doc_id"])

        t0 = time.perf_counter()
        try:
            self.runner.run("instr_mr_http", build, lambda out: sio.jsonl_sink(out, self.out_path))
        except Exception as exc:
            self.errors["instr_mr_http"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            return {}
        wall = time.perf_counter() - t0
        self.stats = self._mock("/stats")
        return {"instr_mr_http": wall}

    def oracle_sql(self) -> str:
        from instructions_mr_spark.config import Instruction
        from instructions_mr_spark.operators.prompts import build_sys_msg

        tag = {d["name"]: _md5(build_sys_msg(Instruction.from_dict(d)))[:8]
               for d in MAP_STAGE + REDUCE_STAGE}

        def rule(name: str, user: str) -> str:
            return f"'{tag[name]}:' || length({user}) || ':' || substr(md5({user}), 1, 16)"

        return f"""
        WITH d AS (
          SELECT * FROM read_json('{self.in_path}', format='newline_delimited',
            columns={{doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR', source: 'VARCHAR'}})),
        m AS (SELECT doc_id,
                     to_json(struct_pack(text := text))::VARCHAR AS us,
                     to_json(struct_pack(lang := lang, source := source))::VARCHAR AS uk
              FROM d),
        r AS (SELECT doc_id, {rule('summary', 'us')} AS summary, {rule('keywords', 'uk')} AS keywords
              FROM m),
        u AS (SELECT doc_id,
                     to_json(struct_pack(summary := summary, keywords := keywords))::VARCHAR AS ur
              FROM r)
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, {rule('report', 'ur')} AS report FROM u
        """

    def verify(self) -> tuple[int, int, dict[str, str]]:
        """Every record of the last pass's output against the oracle: a
        record fails if it is missing, null, wrong or duplicated."""
        import duckdb

        con = duckdb.connect()
        expected = dict(con.sql(self.oracle_sql()).fetchall())
        problems = dict(self.errors)
        if problems:
            return len(expected), len(expected), problems
        got = con.sql(f"""
            SELECT doc_id, report, result_md FROM read_json('{self.out_path}/*.json',
              format='newline_delimited',
              columns={{doc_id: 'VARCHAR', report: 'VARCHAR', result_md: 'VARCHAR'}})
        """).fetchall()
        con.close()
        seen: set[str] = set()
        bad = 0
        for doc_id, report, md in got:
            ok = (
                doc_id in expected and doc_id not in seen and report is not None
                and report == expected[doc_id] and md == f"# report\n{report}\n\n"
            )
            if not ok:
                bad += 1
                problems.setdefault("first_bad_record", f"{doc_id}: {report!r}")
            seen.add(doc_id)
        missing = len(set(expected) - seen)
        if missing:
            problems["missing_records"] = str(missing)
        return len(expected), bad + missing, problems

    def close(self) -> None:
        if self.proc is not None:
            self.proc.terminate()
            self.proc.wait(timeout=30)
            self.proc.stdout.close()
            self.proc = None


def make(name: str, bench, seed: int):
    if name == "curation_session":
        # fixed order: the shared-stage reuse depends on it
        return QueryWorkload(bench, list(CURATION_SESSION))
    if name == "instr_mr_http":
        return LlmWorkload(bench, seed)
    raise SystemExit(f"unknown workload {name!r}; choose curation_session or instr_mr_http")

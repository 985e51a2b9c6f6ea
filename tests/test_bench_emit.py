"""Regression tests for bench.py's emission contract (round 12).

Round 11 shipped two coupled measurement-plumbing defects (VERDICT r11
"What's wrong" #1/#2):

1. bench.py crashed at head: BENCH_r11.json carries ``"parsed": null``
   and ``prev.get("parsed", prev)`` kept the null, so the delta pass
   raised AttributeError before any timing ran.
2. The final stdout JSON line grew past the driver's ~2000-char tail
   capture (three heavies dicts + per-query A/A bands inlined into the
   headline object), so the driver recorded ``parsed: null`` — the
   r11 headline is unreadable in the driver series.

These tests pin both fixes: prev_queries() tolerates every bad shape a
previous record can have, and final_line() stays compact (< 1500 chars
under worst-case-width timings) because the heavies/band detail now
travels on separate earlier stdout lines.
"""

import json
import os
import subprocess
import sys

import bench


class TestPrevQueries:
    def test_parsed_null_falls_back_to_top_level(self):
        # the exact BENCH_r11.json shape that crashed head
        prev = {"n": 11, "rc": 0, "tail": "...", "parsed": None}
        assert bench.prev_queries(prev) == {}

    def test_parsed_null_with_top_level_queries(self):
        prev = {"parsed": None, "queries": {"q1": 1.0}}
        assert bench.prev_queries(prev) == {"q1": 1.0}

    def test_parsed_dict_wins(self):
        prev = {"parsed": {"queries": {"q1": 2.0}}, "queries": {"q1": 9.0}}
        assert bench.prev_queries(prev) == {"q1": 2.0}

    def test_bare_bench_line_record(self):
        prev = {"metric": "headline_total_sec", "queries": {"q1": 1.5}}
        assert bench.prev_queries(prev) == {"q1": 1.5}

    def test_non_dict_parsed_and_queries_shapes(self):
        assert bench.prev_queries({"parsed": "garbage"}) == {}
        assert bench.prev_queries({"parsed": {"queries": [1, 2]}}) == {}
        assert bench.prev_queries({}) == {}

    def test_delta_pass_survives_real_r11_record(self):
        """The committed BENCH_r11.json (the record that crashed head)
        must parse to {} through the helper, not raise."""
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.path.join(here, "BENCH_r11.json")
        if not os.path.exists(path):
            return
        with open(path, encoding="utf-8") as fh:
            prev = json.load(fh)
        assert bench.prev_queries(prev) == {}


class TestDeltaLines:
    PREV = {"sf": 0.1, "cpus": 32, "parsed": {"sf": 0.1, "queries": {"q1": 2.0}}}

    def test_other_sf_record_gives_no_delta_lines(self):
        # an sf0.001 run against the sf0.1 round record: the ratio would
        # read the data size, not the code
        assert bench.delta_lines("BENCH_r13.json", self.PREV, {"q1": 0.5}, "0.001", 32) == []

    def test_other_cpus_record_gives_no_delta_lines(self):
        # a 4-core run against the 32-core round record: the ratio would
        # read the machine, not the code
        assert bench.delta_lines("BENCH_r13.json", self.PREV, {"q1": 4.0}, "0.1", 4) == []

    def test_same_sf_record_gives_delta_lines(self):
        lines = bench.delta_lines("BENCH_r13.json", self.PREV, {"q1": 4.0, "q9": 1.0}, "0.1", 32)
        assert lines == [
            "# delta vs BENCH_r13.json q1: 2.000s -> 4.000s (2.00x)  <-- REGRESSION"
        ]

    def test_committed_record_against_other_sf_run(self):
        # the committed round records keep sf at the top level
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "BENCH_r13.json"), encoding="utf-8") as fh:
            prev = json.load(fh)
        timings = {name: 1.0 for name in bench.prev_queries(prev)}
        assert timings
        assert bench.delta_lines("BENCH_r13.json", prev, timings, "0.001", 32) == []
        assert bench.delta_lines("BENCH_r13.json", prev, timings, "0.1", 4) == []
        assert len(bench.delta_lines("BENCH_r13.json", prev, timings, "0.1", 32)) == len(timings)


class TestFinalLineLength:
    def _worst_case_timings(self):
        # every headline query at max realistic width: 4-digit seconds
        # with 3 decimals (9999.999) — wider than any sf0.1 number ever
        # recorded (r1 total was 13.013s).
        return {name: 9999.999 for name in bench.HEADLINE}

    def test_final_line_under_1500_chars(self):
        timings = self._worst_case_timings()
        line = bench.final_line(
            timings,
            total=99999.999,
            noise_band={"median": 1.999, "max": 9.999,
                        "per_query": {n: 9.999 for n in bench.HEADLINE}},
            sf="0.1",
            sf_dir="/root/testdata/sf0.1",
            master="local[9999]",
            default_parallelism=9999,
        )
        assert len(line) < 1500, (
            f"final bench line is {len(line)} chars; the driver tail "
            "capture is ~2000 — keep well under it (r11 incident)"
        )

    def test_final_line_is_parseable_headline(self):
        timings = self._worst_case_timings()
        obj = json.loads(bench.final_line(timings, 1.0, {}, "0.1", "x", "local[4]", 4))
        assert obj["metric"] == "headline_total_sec"
        assert obj["value"] == 1.0
        # parallelism travels in-band: a record without it cannot show
        # which core count its timings were measured at
        assert obj["master"] == "local[4]"
        assert obj["default_parallelism"] == 4
        assert set(obj["queries"]) == set(bench.HEADLINE)
        assert obj["harness"] == bench.HARNESS
        # per-query band detail must NOT be inlined here — it travels
        # on the earlier headline_noise_detail line
        assert "per_query" not in obj["noise_band"]
        for heavy_key in ("heavies", "heavies_r8", "heavies_r11"):
            assert heavy_key not in obj

    def test_final_line_band_summary_only(self):
        nb = {"median": 1.03, "max": 1.07, "per_query": {"q1": 1.03}}
        obj = json.loads(bench.final_line({"q1": 1.0}, 1.0, nb, "0.1", "x", "local[4]", 4))
        assert obj["noise_band"] == {"median": 1.03, "max": 1.07}


class TestBenchHeadRuns:
    def test_bench_imports_and_delta_block_is_crashproof(self):
        """Smoke the module-level import path in a subprocess (the r11
        crash happened before any Spark work, in pure-python code; a
        full bench run is too slow for unit tests, so pin the failing
        expression shape instead)."""
        code = (
            "import sys; sys.path.insert(0, %r); import bench; "
            "print(bench.prev_queries({'parsed': None}))"
            % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.strip() == "{}"


class TestAuxLines:
    """Round 13 (VERDICT r12 "What's wrong" #2): aux series lines must
    emit least-to-most important, slimmed to the band summary, so the
    oldest series survive the driver's ~2000-char tail capture."""

    def _series(self):
        wide = {f"query_name_{i}": 9999.999 for i in range(8)}
        ab = {f"query_name_{i}": 9.999 for i in range(8)}
        return [
            ("heavies_r12", dict(list(wide.items())[:2]), dict(list(ab.items())[:2])),
            ("heavies_r11", dict(list(wide.items())[:3]), dict(list(ab.items())[:3])),
            ("heavies_r8", wide, ab),
            ("heavies", dict(list(wide.items())[:6]), dict(list(ab.items())[:6])),
        ]

    def test_order_detail_first_then_newest_to_oldest(self):
        nb = {"median": 1.0, "max": 1.1, "per_query": {"q": 1.1}}
        lines = bench.aux_lines(nb, self._series())
        metrics = [json.loads(x)["metric"] for x in lines]
        assert metrics == [
            "headline_noise_detail", "heavies_r12", "heavies_r11",
            "heavies_r8", "heavies",
        ]

    def test_series_lines_have_no_per_query_band(self):
        lines = bench.aux_lines({}, self._series())
        for x in lines:
            obj = json.loads(x)
            assert "per_query" not in obj["noise_band"], obj["metric"]

    def test_tail_budget_series_plus_final_fit_2000(self):
        """The driver keeps the LAST ~2000 chars: the four series
        lines plus the final line (worst-case widths, newline-joined)
        must fit, so heavies/heavies_r8 can never be eaten again."""
        lines = bench.aux_lines({}, self._series())
        final = bench.final_line(
            {name: 9999.999 for name in bench.HEADLINE},
            total=99999.999,
            noise_band={"median": 1.999, "max": 9.999},
            sf="0.1",
            sf_dir="/root/testdata/sf0.1",
            master="local[9999]",
            default_parallelism=9999,
        )
        tail = "\n".join(lines + [final])
        assert len(tail) < 2000, len(tail)

    def test_empty_series_skipped(self):
        lines = bench.aux_lines({}, [("heavies", {}, {})])
        assert lines == []

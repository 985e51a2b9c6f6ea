"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers the engine's main plan shapes: scan-agg,
star-join-agg, window, as-of join, dedup (exact + LSH), similarity
search, text analysis, sessionization, and the echo-mode LLM MR
pipeline.  Each query runs once after a warmup query primes the JVM.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from instructions_mr_spark import registry
from instructions_mr_spark.queries._util import free_staged_checkpoints
from instructions_mr_spark.session import codegen_compiles, get_spark

# Estimator/harness version, recorded in the output line so cross-round
# deltas are only read within one harness (the r3->r4 min-of-2 ->
# min-of-3 change inflated the apparent r4 win; never again).
# v2-abnoise (round 10, r9 verdict item #5): the headline estimator is
# UNCHANGED (min of 3 noop-sink runs), but each headline query now runs
# 2x3 interleaved A/B slots of the SAME code and the output carries a
# noise_band block — the A/A min-vs-min ratio distribution IS the
# session noise floor, so a per-query round-over-round delta smaller
# than the band is unreadable by construction (r9's text_stats "1.27x
# regression" sat inside a measured 8.73-11.26s same-code session
# spread; now the band is measured in-process, per run).
# v3-abnoise-heavies (round 11, r10 verdict item #4): headline
# estimator again UNCHANGED; the two heavies lists now get the same
# interleaved A/A treatment (their reported number stays min over 3
# cold slot-A runs) and the output carries heavies_noise_band /
# heavies_r8_noise_band — r10's dedup_span_cut read 2.864s in the
# recorded bench and 2.107s in a same-session preview, a 36% spread
# that was unreadable without a per-query band.  Round 11 also adds a
# fourth tracked series (heavies_r11, same estimator + band) — a new
# series, so no existing series' comparability changes.
HARNESS = "min3-noop-warmup-v3-abnoise-heavies"

HEADLINE = [
    "q1_pricing_summary",
    "join_broadcast",
    "join_inner_eq",
    "topk_per_group",
    "window_running_sum",
    "join_asof",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_search_topk",
    "text_stats",
    "stream_session",
    "llm_echo_mapreduce",
    "llm_echo_mapreduce_fused",
    "q9_product_profit",
    "q21_waiting_supplier",
]

# Tracked heavies series, one (metric, queries) row each in the order
# they are timed, oldest first.  Each runs with the SAME min-3 harness
# as HEADLINE plus its own interleaved A/A band and is emitted on its
# own stdout line, kept apart from HEADLINE so the headline_total_sec
# series stays comparable across rounds.
# - heavies (r7): the heaviest round-7 operator families.
# - heavies_r8: iterative graph oracles, the wedge/banded self-joins
#   and the corpus-scan regex batch.
# - heavies_r11: the shingle-winnowing fingerprint scan, the cold
#   conductance query (the shared copurchase stage build) and the
#   salted-LSH skew twin.
# - heavies_r12: the HOF-fold MMR selection and the LSH candidate
#   join-back with hoisted pair-cosine norms.
SERIES = (
    (
        "heavies",
        [
            "embedding_top_pc",
            "semdedup_cells",
            "dedup_span_cut",
            "rolling_retention_7d",
            "greedy_set_cover_sources",
            "copurchase_lift",
        ],
    ),
    (
        "heavies_r8",
        [
            "k_core_peel3",
            "attribution_markov_removal",
            "graph_resource_allocation",
            "event_cooccurrence_60s",
            "embedding_covariance_terms",
            "interval_merge_overlaps",
            "doc_truncation_loss",
            "repeat_purchase_rate_by_brand",
        ],
    ),
    (
        "heavies_r11",
        [
            "winnowing_fingerprints",
            "graph_conductance_brand",
            "dedup_minhash_lsh_salted",
        ],
    ),
    ("heavies_r12", ["mmr_diverse_topk", "dedup_embedding_cosine"]),
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    spark = get_spark("bench")
    # Warmup: prime JVM/codegen/parquet-reader paths with a real
    # aggregate at the smallest sf (first-query JIT tax is ~2.5s and
    # would otherwise be charged to the first timed query).
    registry.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001").collect()

    # min over SPARK_GRAFT_BENCH_RUNS (default 3) runs per query: the
    # JIT/GC/page-cache noise on a busy host is one-sided (only slows),
    # so the min is the stable estimator of the plan's cost.  Measured
    # run-to-run spread with 2 runs was up to 2.3x on a single query
    # (join_broadcast 1.17s..2.76s, identical code); 3 runs tightens it.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Scale-curve runs (tools/gen_sf.py) override the query set; the
    # driver's per-round record always uses the stable HEADLINE list.
    names_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    names = [n for n in names_env.split(",") if n] or HEADLINE

    def _one_run(fn) -> float:
        t0 = time.time()
        df = fn(spark, sf_dir)
        # noop sink: materializes every output column/row (count()
        # would let Catalyst prune the projections away).
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        # free staged/shared checkpoints PER RUN, not per query: the
        # round-10 session-shared stages (copurchase edges, the
        # order-part distinct) would otherwise serve runs 2..k from
        # cache and min-of-3 would record a warm number the r1-r9
        # series never measured — the exact cross-harness misread the
        # HARNESS note forbids.  Bench measures the COLD query cost;
        # the sharing win is measured separately (BENCH_sf1.json
        # round10_heavies_sf1 note) and benefits real sessions.
        free_staged_checkpoints()
        return dt

    def time_set(
        set_names: list[str], ab_noise: bool = False
    ) -> tuple[dict[str, float], dict[str, float]]:
        out: dict[str, float] = {}
        ab: dict[str, float] = {}
        compiled_before = codegen_compiles(spark)
        for name in set_names:
            fn = registry.QUERIES[name]
            if ab_noise:
                # interleaved A/A: 2x runs alternating slots of the
                # SAME code.  The reported timing is min over slot-A
                # runs (the historical min-of-3 estimator); the A-vs-B
                # min ratio is a same-code, same-process measurement
                # of the session noise floor.
                slot_a, slot_b = [], []
                for i in range(2 * max(1, runs)):
                    (slot_a if i % 2 == 0 else slot_b).append(_one_run(fn))
                out[name] = round(min(slot_a), 3)
                lo, hi = sorted((min(slot_a), min(slot_b)))
                ab[name] = round(hi / lo, 3) if lo > 0 else 1.0
            else:
                out[name] = round(
                    min(_one_run(fn) for _ in range(max(1, runs))), 3
                )
            print(
                f"# {name}: {out[name]:.3f}s"
                + (f" (A/A noise {ab[name]:.3f}x)" if ab_noise else ""),
                file=sys.stderr,
            )
        compiled = codegen_compiles(spark) - compiled_before
        print(f"# codegen: {compiled} classes compiled", file=sys.stderr)
        return out, ab

    # A/A noise pass only on the default headline invocation — an env
    # override is a one-off scale/curve run and never reads noise_band
    timings, ab_ratios = time_set(names, ab_noise=not names_env)
    # the heavies series only run on a default invocation (an env
    # override is a one-off scale/curve run, keep it minimal), each with
    # its own A/A band
    series = [] if names_env else [
        (metric, *time_set(queries, ab_noise=True)) for metric, queries in SERIES
    ]

    total = round(sum(timings.values()), 3)
    noise_band = band(ab_ratios)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # Per-query deltas vs the previous round's recorded bench (if any):
    # regressions must be visible per query, not hidden in the total.
    # Only canonical per-round records qualify (BENCH_r<NN>.json) —
    # suffixed variants like the 8-core BENCH_r12_c8.json sort after
    # the round file and would silently become the comparison base
    # (round 13: the stderr deltas read against the 8-core record).
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    prev_files = sorted(
        f for f in os.listdir(here)
        if _re.fullmatch(r"BENCH_r\d+\.json", f)
    )
    if prev_files:
        try:
            with open(os.path.join(here, prev_files[-1]), encoding="utf-8") as fh:
                prev = json.load(fh)
            for line in delta_lines(
                prev_files[-1], prev, timings, sf,
                spark.sparkContext.defaultParallelism,
            ):
                print(line, file=sys.stderr)
        except (OSError, ValueError, AttributeError, TypeError, KeyError):
            pass

    # Auxiliary metric lines FIRST (each its own JSON line): the
    # driver's per-round capture keeps only the last ~2000 chars of
    # stdout, and round 11's single fat line (heavies + three per-query
    # band dicts inlined into the headline object) overflowed it and
    # left BENCH_r11.json with parsed: null.  The heavies series and
    # the per-query band detail still need to be machine-readable, so
    # they go out as separate earlier lines; the FINAL line is the
    # compact headline object the driver parses, length-pinned by
    # tests/test_bench_emit.py.
    #
    # Round 13 (VERDICT r12 "What's wrong" #2: the r12 tail still ate
    # the OLDEST aux series): aux lines now emit least-to-most
    # important — per-query band detail first (it also lives on
    # stderr), then the series newest-to-oldest so the longest-lived
    # series (heavies, heavies_r8) sit nearest the pinned final line —
    # and each series line carries only the band SUMMARY (median/max;
    # per-query A/A ratios stay on stderr), roughly halving its width
    # so all five lines + the final line fit a ~2000-char tail.
    for line in aux_lines(noise_band, reversed(series)):
        print(line)
    sc = spark.sparkContext
    print(final_line(timings, total, noise_band, sf, sf_dir, sc.master, sc.defaultParallelism))


def aux_lines(noise_band: dict, series) -> list[str]:
    """The auxiliary stdout JSON lines, least-to-most important (the
    driver keeps only the last ~2000 chars; see the emission comment
    in main).  ``series`` is (metric, timings, ab_ratios) tuples in
    the order they should print; series lines carry the band summary
    only."""
    out = []
    if noise_band:
        out.append(json.dumps(
            {"metric": "headline_noise_detail", "noise_band": noise_band}
        ))
    for metric, vals, ab in series:
        if vals:
            b = band(ab)
            b.pop("per_query", None)
            out.append(json.dumps(
                {"metric": metric, "queries": vals, "noise_band": b}
            ))
    return out


def prev_queries(prev: dict) -> dict:
    """Per-query timings from a previous round's bench record.

    Driver records wrap the bench line under "parsed"; r11's record
    carries parsed: null (the oversized-line incident), so fall back
    on FALSY, not just on absence — `prev.get("parsed", prev)` kept
    the null and crashed every fresh bench at head (r11 post-mortem,
    bench.py's one hard outage).  Returns {} for any non-dict shape:
    an unreadable previous record must never block a fresh bench.
    """
    parsed = prev.get("parsed") or prev
    if not isinstance(parsed, dict):
        return {}
    q = parsed.get("queries", {})
    return q if isinstance(q, dict) else {}


def delta_lines(
    prev_name: str, prev: dict, timings: dict, sf: str, cpus: int
) -> list[str]:
    """Per-query ``# delta vs <record>`` lines against a previous
    round's bench record.  None when the record was taken at another
    scale factor or on another core count: an sf0.001 run read against
    an sf0.1 record shows only the data size, and a 4-core run read
    against a 32-core record shows only the machine."""
    if float(prev["sf"]) != float(sf) or prev.get("cpus") != cpus:
        return []
    prev_q = prev_queries(prev)
    out = []
    for name, cur in timings.items():
        if name in prev_q and prev_q[name] > 0:
            ratio = cur / prev_q[name]
            flag = "  <-- REGRESSION" if ratio > 1.5 else ""
            out.append(
                f"# delta vs {prev_name} {name}: "
                f"{prev_q[name]:.3f}s -> {cur:.3f}s ({ratio:.2f}x){flag}"
            )
    return out


def band(ratios: dict[str, float]) -> dict:
    """A/A noise band: the distribution of same-code A/A min ratios
    across a query set.  A per-query cross-round delta below band.max
    is inside the measured session noise."""
    srt = sorted(ratios.values())
    if not srt:
        return {}
    return {
        "median": round(srt[len(srt) // 2], 3),
        "max": round(srt[-1], 3),
        "per_query": ratios,
    }


def final_line(
    timings: dict[str, float],
    total: float,
    noise_band: dict,
    sf: str,
    sf_dir: str,
    master: str,
    default_parallelism: int,
) -> str:
    """The ONE final stdout line the driver parses.  Compact by
    contract: headline metric + per-query timings + band summary
    (median/max only — the per-query band detail travels on an earlier
    headline_noise_detail line) + the effective master and
    ``sc.defaultParallelism``, so every number carries its core count.
    tests/test_bench_emit.py pins the emitted length < 1500 chars so
    a 2000-char tail capture of stdout can never truncate it again
    (the r11 incident)."""
    return json.dumps(
        {
            "metric": "headline_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "noise_band": {
                k: noise_band[k] for k in ("median", "max") if k in noise_band
            },
            "sf": float(sf) if sf else sf_dir,
            "harness": HARNESS,
            "master": master,
            "default_parallelism": default_parallelism,
        }
    )


if __name__ == "__main__":
    main()

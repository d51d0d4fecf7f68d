#!/usr/bin/env python
"""Benchmark harness (driver contract, BASELINE.md).

Runs the headline query set on $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) with local[$SPARK_GRAFT_CPUS], forcing full
computation through the noop sink (the reference benchmarks the same way:
TPCDSQueryBenchmark.scala:100 `spark.sql(q).noop()`), and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

from spark_cherry_shuffle_service_spark.plans.measure import (
    HEADLINE,
    calibration_probe,
    measure_query,
    warm_up,
)
from spark_cherry_shuffle_service_spark.session import get_spark
from spark_cherry_shuffle_service_spark.sources.catalog import DEFAULT_SF_DIR

#: Machine-readable per-query baselines (median-of-3, fresh process,
#: sf0.1) — the single canonical table BASELINE.md points at. bench.py
#: uses it to auto-adjudicate host stalls in-run (see below); absent or
#: unlisted queries simply skip the re-time check.
_REPO = os.path.dirname(os.path.abspath(__file__))
BASELINE_FILE = os.path.join(_REPO, "BASELINE_QUERIES.json")


def baseline_file_for(sf_dir: str) -> str | None:
    """Baseline table keyed by the fixture dir's SF tag (VERDICT r9 item
    2): the canonical BASELINE_QUERIES.json holds sf0.1 numbers, so
    benching another SF against it manufactures phantom "violations" out
    of expected data scale-ups (BENCH_sf1 carried 5 such). Other SFs use
    BASELINE_QUERIES_<tag>.json (e.g. _sf1) when committed, else NO
    baseline (n_baselined 0, zero violations — honest, not green-washed).
    """
    if _is_canonical_sf01(sf_dir):
        return BASELINE_FILE
    tag = os.path.basename(os.path.normpath(sf_dir))
    cand = os.path.join(_REPO, f"BASELINE_QUERIES_{tag}.json")
    return cand if os.path.exists(cand) else None


#: The one fixture dir the canonical baselines (and COLD_BASELINE.json)
#: describe. A generated .genscale/sf0.1 shares the basename but not the
#: data distribution (ADVICE r10): it must neither be graded against the
#: canonical table nor overwrite the committed cold baseline — keying on
#: the RESOLVED path, not the basename, prevents both.
CANONICAL_SF01 = "/root/testdata/sf0.1"


def _is_canonical_sf01(sf_dir: str) -> bool:
    return os.path.realpath(sf_dir) == os.path.realpath(CANONICAL_SF01)


#: One run per query is stall-fragile: a single bad host-scheduling window
#: poisons the committed artifact with numbers that read as 2x-gate
#: failures (BENCH_r03: agg_correlation 16.5 s recorded vs 3.5 s fresh).
#: Median-of-3 absorbs one bad window; any query still >2x its baseline is
#: re-timed up to RETIME_RUNS more times in the same process and records
#: its best observed time with a `retimed` flag, so the artifact needs no
#: manual adjudication. The reference harness re-runs queries the same way
#: (TPCDSQueryBenchmark.scala:88-100, numIters).
RUNS_PER_QUERY = 3
RETIME_RUNS = 2
STALL_FACTOR = 2.0
#: A query is stall-suspect only when it breaches the 2x window by at
#: least this many ABSOLUTE seconds too: for sub-second queries the 2x
#: window is narrower than ordinary host jitter (a 0.28 s query reading
#: 0.58 s in a busy window is noise, not a regression — BASELINE.md's
#: round-3 adjudications treated exactly this class as noise), while any
#: real regression on a query that matters clears half a second easily.
STALL_ABS_SLACK = 0.5


def drift_factor(cal_now: float | None, cal_base: float | None) -> float:
    """Host-window drift multiplier for the stall gate (VERDICT r7 item 2).

    The calibration probe is code-independent, so cal_now/cal_base measures
    pure host-state drift between the baseline epoch's window and this run's
    window. Baselines are scaled UP by it in a slower window (so uniform VM
    slowness stops flagging sub-second queries as 2x violations — BENCH_r07
    carried 4 such phantoms) but never DOWN in a faster one (a genuinely
    faster window must not mask a real regression)."""
    if not cal_now or not cal_base:
        return 1.0
    return max(1.0, cal_now / cal_base)


def is_violation(
    t: float, base: float | None, drift: float, factor: float = STALL_FACTOR,
    abs_slack: float = STALL_ABS_SLACK,
) -> bool:
    """The single stall/violation predicate (shared by the in-run re-time
    trigger and the artifact's violations list; unit-tested against a
    synthetic uniformly-slowed window in tests/test_bench_contract.py)."""
    if base is None:
        return False
    eff = base * drift
    return t > factor * eff and t - eff > abs_slack


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="cherry-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    baselines: dict[str, float] = {}
    cal_base: float | None = None
    baseline_file = baseline_file_for(sf_dir)
    try:
        with open(baseline_file) as fh:
            base_doc = json.load(fh)
        baselines = {k: float(v) for k, v in base_doc["queries"].items()}
        cal_base = float(base_doc["calibration_sec"]) if "calibration_sec" in base_doc else None
    except (OSError, KeyError, ValueError, TypeError):
        pass

    warm_up(spark, sf_dir)
    # Host-calibration probe (BENCH_AB_HOSTDRIFT lesson): total/calibration
    # is comparable across host windows where raw totals are not.
    cal_probes = calibration_probe(spark)
    calibration = min(cal_probes)
    drift = round(drift_factor(calibration, cal_base), 3)
    print(
        f"  [calibration: {calibration:.3f}s; baseline epoch "
        f"{cal_base if cal_base is not None else 'n/a'}; drift x{drift:.3f}]",
        file=sys.stderr,
    )

    timings: dict[str, float] = {}
    details: dict[str, dict] = {}
    for name in HEADLINE:
        # Each run rebuilds the query, so the timing covers plan
        # construction too; runs[0] is cold and later runs re-hit the
        # query's own pinned frames, which measure_query releases at the
        # end — no query inherits another query's cached blocks.
        ms = [measure_query(spark, name, sf_dir, RUNS_PER_QUERY)]
        t = statistics.median(ms[0].runs)
        if is_violation(t, baselines.get(name), drift):
            # Stall suspect: re-time in the same process and keep the best
            # observed run — a genuine plan regression stays slow across
            # all runs; a host stall does not. The re-time is a second
            # measure_query call, so its first run is cold again.
            ms.append(measure_query(spark, name, sf_dir, RETIME_RUNS))
            t = min(r for m in ms for r in m.runs)
        timings[name] = round(t, 3)
        details[name] = {
            "t": timings[name],
            "runs": [round(r, 3) for m in ms for r in m.runs],
            "build_s": [round(b, 3) for m in ms for b in m.build_s],
            "executor_cpu_s": round(sum(m.cpu_s for m in ms), 3),
            "retimed": len(ms) > 1,
        }
        flag = " [retimed]" if len(ms) > 1 else ""
        print(f"  {name}: {timings[name]:.3f}s{flag}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # Per-query baseline verdicts, computed in-run so the artifact is
    # self-adjudicating: a query "violates" only past BOTH the 2x factor
    # and the absolute slack (the round-3/4 adjudication rule).
    # Each violation carries its OWN raw runs + retimed flag so a
    # truncated artifact is still self-adjudicating: BENCH_r05's 2,000-char
    # tail cut off the `details` map and the one committed violation could
    # not be checked against its re-time evidence (VERDICT r5 item 3).
    violations = [
        {
            "query": n,
            "t": t,
            "baseline": baselines[n],
            "runs": details[n]["runs"],
            "retimed": details[n]["retimed"],
        }
        for n, t in timings.items()
        if is_violation(t, baselines.get(n), drift)
    ]
    # Key order matters: the driver's BENCH_r{N}.json keeps only a ~2000
    # char TAIL of stdout, so the bulky queries map goes FIRST and the
    # compact summary (violations WITH their runs, total, sf) goes LAST on
    # the one JSON line — BENCH_r03/r04 committed with the headline total
    # truncated away (VERDICT r4 item 3). The per-run `details` map is NOT
    # printed at all (VERDICT r11 item 2: BENCH_r10's capture was tail-only
    # and unparseable because details tripled the line); it lives in
    # BENCH_FULL.json (repo root, overwritten per run) together with the
    # complete line.
    payload = {
        "metric": "headline_query_set_wall_clock",
        "unit": "sec",
        "protocol": {
            "runs_per_query": RUNS_PER_QUERY,
            "stat": "median",
            "stall_factor": STALL_FACTOR,
            "retime_runs": RETIME_RUNS,
        },
        "queries": timings,
        "n_queries": len(timings),
        "n_baselined": sum(1 for n in timings if n in baselines),
        "full_copy": "BENCH_FULL.json",
        "violations": violations,
        "n_violations": len(violations),
        "calibration_sec": calibration,
        "calibration_probes": cal_probes,
        "calibration_stat": "min",
        "calibration_baseline_sec": cal_base,
        "baseline_file": os.path.basename(baseline_file) if baseline_file else None,
        "drift_factor": drift,
        "value": total,
        "sf": sf,
    }
    line = json.dumps(payload)
    try:
        full = dict(payload)
        full["details"] = details
        with open(os.path.join(_REPO, "BENCH_FULL.json"), "w") as fh:
            fh.write(json.dumps(full) + "\n")
    except OSError:
        pass  # read-only checkout: stdout carries everything but details
    # Cold-path record for every headline query (runs[0]: nothing pinned
    # yet), refreshed only by canonical sf0.1 runs so the committed file
    # stays one protocol.
    if _is_canonical_sf01(sf_dir):
        cold = {
            "_protocol": "runs[0] of the canonical sf0.1 bench (cold persisted caches)",
            "_sf_dir": CANONICAL_SF01,
            "_calibration_sec": calibration,
            "queries": {n: details[n]["runs"][0] for n in HEADLINE},
        }
        try:
            with open(os.path.join(_REPO, "COLD_BASELINE.json"), "w") as fh:
                json.dump(cold, fh, indent=1)
        except OSError:
            pass
    print(line)


if __name__ == "__main__":
    main()

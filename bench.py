#!/usr/bin/env python
"""Benchmark harness (driver contract, BASELINE.md).

Runs the headline query set on $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) with local[$SPARK_GRAFT_CPUS], forcing full
computation through the noop sink (the reference benchmarks the same way:
TPCDSQueryBenchmark.scala:100 `spark.sql(q).noop()`), and prints ONE JSON
line: {"queries": {name: median_sec}, ..., "value": total_sec, "sf": ...}.
The timing protocol is plans/measure.py::bench.
"""

from __future__ import annotations

import json
import os
import re

from spark_cherry_shuffle_service_spark.plans.measure import HEADLINE, bench
from spark_cherry_shuffle_service_spark.session import get_spark
from spark_cherry_shuffle_service_spark.sources.catalog import DEFAULT_SF_DIR

_REPO = os.path.dirname(os.path.abspath(__file__))

#: The one fixture dir the committed BENCH_FULL.json and COLD_BASELINE.json
#: describe. A generated .genscale/sf0.1 shares the basename but not the
#: data distribution (ADVICE r10): it must not overwrite them — keying on
#: the RESOLVED path, not the basename, prevents that.
CANONICAL_SF01 = "/root/testdata/sf0.1"

#: Runs per query; each query reports the median of its runs.
RUNS_PER_QUERY = 3


def _is_canonical_sf01(sf_dir: str) -> bool:
    return os.path.realpath(sf_dir) == os.path.realpath(CANONICAL_SF01)


def _write(name: str, text: str) -> None:
    try:
        with open(os.path.join(_REPO, name), "w") as fh:
            fh.write(text)
    except OSError:
        pass  # read-only checkout: stdout carries everything but details


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="cherry-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    run = bench(spark, HEADLINE, sf_dir, RUNS_PER_QUERY)
    details, value = run.pop("details"), run.pop("value")
    # Key order matters: the driver's BENCH_r{N}.json keeps only a ~2000
    # char TAIL of stdout, so the bulky queries map goes FIRST and the
    # compact summary (total, sf) goes LAST on the one JSON line — BENCH_r03/r04
    # committed with the headline total truncated away (VERDICT r4 item 3).
    # The per-run `details` map is NOT printed at all (VERDICT r11 item 2:
    # BENCH_r10's capture was tail-only and unparseable because details
    # tripled the line); it lives in BENCH_FULL.json.
    # The committed artifacts describe the canonical sf0.1 run only, so any
    # other SF leaves them alone and names no `full_copy`. COLD_BASELINE.json
    # is runs[0] of every headline query: its cold path, nothing pinned yet.
    canonical = _is_canonical_sf01(sf_dir)
    payload = {
        **run,
        "metric": "headline_query_set_wall_clock",
        "unit": "sec",
        "n_queries": len(run["queries"]),
        **({"full_copy": "BENCH_FULL.json"} if canonical else {}),
        "value": value,
        "sf": sf,
    }
    if canonical:
        _write("BENCH_FULL.json", json.dumps(dict(payload, details=details)) + "\n")
        cold = {
            "_protocol": "runs[0] of the canonical sf0.1 bench (cold persisted caches)",
            "_sf_dir": CANONICAL_SF01,
            "_calibration_sec": payload["calibration_sec"],
            "queries": {n: details[n]["runs"][0] for n in HEADLINE},
        }
        _write("COLD_BASELINE.json", json.dumps(cold, indent=1))
    print(json.dumps(payload))


if __name__ == "__main__":
    main()

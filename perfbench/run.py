"""Benchmark entry point.

    python3 perfbench/run.py --workload spine_shuffle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the fixtures inside
the checkout (`.bench_build/data`, see prepare.py). Every run then starts a
fresh measuring process (child.py), a single closed-loop client on local[4],
that times the workload with tracing off and checks every query against its
oracle digest, untimed, after the query's timed executions. With `--trace 1`
a second process runs the same executions with spans and per-stage metrics;
its total_s minus the untraced total_s is the tracing overhead.

The work is fixed by `--seconds` through the seconds budgeted per pass
(`spec.PASS_S`), not by the clock, so total_s compares across commits. Output: a line with
all end-to-end metrics and the run's context, then, as the last line, the
result object with the `--trace 0` end-to-end or `--trace 1` per-layer
metrics. Full records and spans go to `.bench_build/out`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from common import BUILD, FIXTURES, OUT, PACKAGE, ROOT, TMP, child_env, ready_marker
from spec import END_TO_END, GATED, LAYERS, PASS_S, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
PREPARE_TIMEOUT_S = 700
CHILD_TIMEOUT_S = 150


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def spawn(script: str, args: list[str], timeout: float) -> None:
    """Run one benchmark process in its own process group and return only
    once every process of the group, the Spark JVM included, has ended."""
    env = child_env()
    env["PERFBENCH_T0"] = repr(time.time())
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, script), *args],
        cwd=ROOT,
        env=env,
        stdout=sys.stderr,
        stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    # The child has stopped Spark or failed. The JVM would exit by itself once
    # the child's pipe closes, but its shutdown hooks take about 2 s; what they
    # would delete under TMP is cleared at the start of the next run instead.
    if _group_alive(proc.pid):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()  # reap the leader, which would otherwise keep the group alive
        while _group_alive(proc.pid):
            time.sleep(0.1)
    if code is None:
        raise RuntimeError(f"{script} {args[0]} timed out after {timeout:.0f}s")
    if code != 0:
        raise RuntimeError(f"{script} {args[0]} exited with code {code}")


def fixtures_ready(tag: str) -> bool:
    """True when the fixture set is built and has an oracle digest for
    every workload query."""
    try:
        with open(ready_marker(tag)) as fh:
            have = set(json.load(fh)["oracles"])
    except FileNotFoundError:
        return False
    return all(set(w["queries"]) <= have for w in WORKLOADS.values())


def run_child(mode: str, a, reps: int) -> dict:
    path = os.path.join(OUT, f"{mode}_{a.workload}_{a.fixtures}_{a.seed}_{reps}.json")
    spawn("child.py", [mode, a.workload, str(a.seed), str(reps), a.fixtures, path], CHILD_TIMEOUT_S)
    with open(path) as fh:
        return json.load(fh)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", default="sf0.1", choices=sorted(FIXTURES))
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout of the repo", file=sys.stderr)
        return 2
    shutil.rmtree(TMP, ignore_errors=True)
    for d in (BUILD, OUT, TMP):
        os.makedirs(d, exist_ok=True)

    reps = max(1, round(a.seconds / PASS_S))
    if not fixtures_ready(a.fixtures):
        spawn("prepare.py", [a.fixtures], PREPARE_TIMEOUT_S)
    with open(ready_marker(a.fixtures)) as fh:
        fixture_digest = json.load(fh)["fixture_digest"]

    timed = run_child("time", a, reps)
    runs = [timed]
    traced = None
    if a.trace:
        traced = run_child("trace", a, reps)
        runs.append(traced)

    failures = {
        f"{r['mode']}:{k}": v for r in runs for k, v in {**r["errors"], **r["failures"]}.items()
    }
    attempted = sum(r["executions"] + len(r["errors"]) + r["checked"] for r in runs)
    failed = len(failures)
    values = {
        "setup_s": statistics.median(r["setup"]["setup_s"] for r in runs),
        **{k: timed[k] for k in END_TO_END if k in timed},
        "failed_frac": failed / attempted,
    }
    e2e = {k: metric(v, END_TO_END[k][0]) for k, v in values.items()}
    context = {
        "workload": a.workload,
        "seed": a.seed,
        "fixtures": a.fixtures,
        "fixture_digest": fixture_digest,
        "reps": reps,
        "order": timed["order"],
        "warm_n": timed["warm_n"],
        "cold_n": timed["cold_n"],
        "tail_percentile": timed["tail_percentile"],
        "setup_samples": [r["setup"]["setup_s"] for r in runs],
        "calibration_s": timed["calibration_s"],
        "check_s": timed["check_s"],
        "wall_s": time.time() - t_start,
        "cores": timed["cores"],
        "heap": timed["heap"],
        "pyspark": timed["pyspark"],
        "failures": failures,
        "per_query_s": timed["per_query_s"],
    }
    if traced is not None:
        layers = dict(traced["layers"])
        layers["trace.overhead_s"] = traced["total_s"] - timed["total_s"]
        context["spans"] = os.path.join(OUT, f"spans_{a.workload}_{a.fixtures}_{a.seed}.jsonl")
        with open(context["spans"], "w") as fh:
            for s in traced["spans"]:
                fh.write(json.dumps(s) + "\n")
        shown = {k: metric(layers[k], LAYERS[k][0]) for k in LAYERS}
    else:
        shown = {k: e2e[k] for k in GATED}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": shown,
    }
    with open(os.path.join(OUT, f"result_{a.workload}_{a.fixtures}_{a.seed}_{a.trace}.json"), "w") as fh:
        json.dump({"end_to_end": e2e, "context": context, "result": result}, fh, indent=1)
    print(json.dumps({"end_to_end": e2e, "context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

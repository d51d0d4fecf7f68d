"""Self-test of the benchmark on the small fixture set.

    python3 perfbench/selftest.py

Runs every workload traced at sf0.01 with one execution per query and checks:
every metric is printed by name with its unit, and BENCHMARK.json names the
same metrics; failed_frac is 0; the spans nest as query -> build / plan /
exec with shared ids; every span's self time is >= 0. It also checks that the
benchmark refuses to run, printing no result, in a directory that holds only
BENCHMARK.json and the benchmark's own files. Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from common import BUILD, ROOT
from spec import END_TO_END, GATED, LAYERS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
BOUND_KEYS = {"name", "unit", "better", "bound"}


def run(cwd: str, workload: str) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", "1", "--fixtures", "sf0.01",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def self_times(spans: list[dict]) -> dict[str, float]:
    covered: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - covered.get(s["id"], 0.0) for s in spans}


def check_workload(workload: str) -> list[str]:
    errs: list[str] = []
    proc = run(ROOT, workload)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return [f"{workload}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    e2e_line, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{workload}: result keys {sorted(result)}")
    e2e = e2e_line["end_to_end"]
    for name, (unit, _) in END_TO_END.items():
        if e2e.get(name, {}).get("unit") != unit:
            errs.append(f"{workload}: end-to-end {name} missing or not in {unit}")
    layers = result["metrics"]
    if set(layers) != set(LAYERS):
        errs.append(f"{workload}: per-layer names differ from spec.LAYERS")
    for name, (unit, _, _) in LAYERS.items():
        if layers.get(name, {}).get("unit") != unit:
            errs.append(f"{workload}: per-layer {name} missing or not in {unit}")
    if e2e["failed_frac"]["value"] != 0 or not result["correct"]:
        errs.append(f"{workload}: failures {e2e_line['context']['failures']}")

    with open(e2e_line["context"]["spans"]) as fh:
        spans = [json.loads(line) for line in fh]
    by_id = {s["id"]: s for s in spans}
    if len(by_id) != len(spans):
        errs.append(f"{workload}: duplicate span ids")
    queries = [s for s in spans if s["name"] == "query"]
    if len(queries) != len(WORKLOADS[workload]["queries"]):
        errs.append(f"{workload}: {len(queries)} query spans for one execution per query")
    for q in queries:
        kids = sorted(s["name"] for s in spans if s["parent"] == q["id"])
        if kids != ["catalyst.plan", "exec.write_noop", "operators.build"]:
            errs.append(f"{workload}: query span {q['id']} has children {kids}")
    for s in spans:
        parent = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and parent is None:
            errs.append(f"{workload}: span {s['id']} names unknown parent {s['parent']}")
        elif parent is not None and not parent["start"] <= s["start"] <= s["end"] <= parent["end"]:
            errs.append(f"{workload}: span {s['id']} lies outside its parent")
    errs += [f"{workload}: span {k} self time {v}" for k, v in self_times(spans).items() if v < 0]
    return errs


def check_refuses_without_repo() -> list[str]:
    bare = os.path.join(BUILD, "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(bare, next(iter(WORKLOADS)))
    shutil.rmtree(bare)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errs = check_refuses_without_repo()
    if [w["name"] for w in bench["workloads"]] != list(WORKLOADS):
        errs.append("BENCHMARK.json workloads differ from spec.WORKLOADS")
    if [m["name"] for m in bench["end_to_end"]] != list(GATED):
        errs.append("BENCHMARK.json end-to-end metrics differ from spec.GATED")
    for m in bench["end_to_end"]:
        if set(m) != BOUND_KEYS or m["unit"] != END_TO_END[m["name"]][0]:
            errs.append(f"BENCHMARK.json end-to-end entry {m}")
    if bench["per_layer"] != [
        {"name": k, "unit": u, "better": b} for k, (u, b, _) in LAYERS.items()
    ]:
        errs.append("BENCHMARK.json per-layer metrics differ from spec.LAYERS")
    for workload in WORKLOADS:
        errs += check_workload(workload)
        print(f"selftest: {workload} done", file=sys.stderr)
    for e in errs:
        print("FAIL", e)
    print("selftest:", "FAILED" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())

"""One measuring process: set up a session, time a workload, check it.

run.py starts it with the benchmark's environment (`common.child_env`):
`child.py <time|trace> <workload> <seed> <reps> <fixtures> <out.json>`.

`time` runs the workload's timed executions with nothing but a clock and a
job group around each call. `trace` runs the same executions with spans
around each call into a layer and per-stage metrics read from Spark's
in-process status store. In both, after a query's timed repetitions and
outside the timed region, the query runs once more through the differential
harness's row normalization and is compared with the oracle digest recorded
by prepare.py. Both finally time the host calibration probe.

Every execution follows the public path bench.py takes:
`registry.all_specs()[name].builder(spark, sf_dir)`, then
`catalog.write_noop(df)`, and `ranking.release_persisted()` after the
query's repetitions and its check.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback

from common import fixture_dir, ready_marker, redirect_star_root, rows_digest, spark_conf
from spec import WORKLOADS

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))


class Tracer:
    """In-memory spans: id, parent, name, start, end (perf_counter seconds)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def span(self, sid: str, name: str, parent: str | None, start: float, end: float, **attrs):
        self.spans.append(
            dict(id=sid, parent=parent, name=name, start=start, end=end, **attrs)
        )


def setup(fixtures: str, star: bool, tracer: Tracer) -> tuple:
    """Session, registry, warm-up and view registration: everything before
    the first query can run. Returns (spark, specs, sf_dir, setup record)."""
    t = time.perf_counter()
    from spark_cherry_shuffle_service_spark.session import get_spark

    t_import = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf())
    t_spark = time.perf_counter()
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    specs = all_specs()
    redirect_star_root()
    t_registry = time.perf_counter()
    sf_dir = fixture_dir(fixtures)
    # Engine warm-up, as bench.py does it: the first jobs pay JIT and codegen.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    t_warm = time.perf_counter()
    from spark_cherry_shuffle_service_spark.sources.catalog import register_views
    from spark_cherry_shuffle_service_spark.sources.tpcds_star import register_star_views

    register_views(spark, sf_dir)
    t_views = time.perf_counter()
    if star:
        register_star_views(spark, sf_dir)
    t_star = time.perf_counter()
    setup_s = time.time() - T0
    for sid, start, end in (
        ("session.import", t, t_import),
        ("session.get_spark", t_import, t_spark),
        ("operators.registry", t_spark, t_registry),
        ("session.warmup", t_registry, t_warm),
        ("sources.register_views", t_warm, t_views),
        ("sources.star_views", t_views, t_star),
    ):
        tracer.span(sid, sid, "setup", start, end)
    tracer.span("setup", "setup", None, t, t_star)
    rec = {
        "setup_s": setup_s,
        "session.get_spark_s": t_spark - t_import,
        "session.warmup_s": t_warm - t_registry,
        "sources.register_views_s": t_views - t_warm,
        "sources.star_views_s": t_star - t_views,
    }
    return spark, specs, sf_dir, rec


def calibration_probe(spark) -> float:
    """bench.py's code-independent host probe (generator + md5 + small
    shuffle) at 1/16 of its rows and 1/4 of its partitions, to fit the run's
    time budget."""
    t0 = time.perf_counter()
    (
        spark.range(0, 1_000_000, 1, 8)
        .selectExpr("substring(md5(cast(id AS string)), 1, 4) AS k")
        .groupBy("k")
        .count()
        .selectExpr("sum(count) AS s", "count(*) AS n")
        .collect()
    )
    return time.perf_counter() - t0


def query_order(workload: str, seed: int) -> list[str]:
    order = list(WORKLOADS[workload]["queries"])
    random.Random(seed).shuffle(order)
    return order


def check_query(spark, specs, sf_dir: str, name: str, oracle: dict) -> str | None:
    """Run the query once more, untimed, and compare its rows, normalized by
    the differential harness, with the oracle digest. None when they match."""
    from spark_cherry_shuffle_service_spark.plans.differential import spark_rows

    try:
        cols, rows = spark_rows(specs[name].builder(spark, sf_dir))
    except Exception as ex:  # noqa: BLE001 - a failing query is a result
        return f"ERROR: {type(ex).__name__}: {str(ex)[:300]}"
    if rows_digest(cols, rows) != oracle["digest"]:
        return f"MISMATCH: {len(rows)} rows, oracle {oracle['rows']}"
    return None


class StageStore:
    """Reads finished stages and jobs from the in-process status store,
    which works with the UI off."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_ids(self, job_ids: list[int]) -> set[int]:
        ids: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return ids

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every stage the store holds, keyed by stage id."""
        empty = self.jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self.jvm.double, 0)
        seq = self.store.stageList(empty, False, False, no_q, empty)
        out: dict[int, dict] = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid in out and out[sid]["attempt"] > s.attemptId():
                continue
            out[sid] = {
                "attempt": s.attemptId(),
                "status": s.status().toString(),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "input_records": s.inputRecords(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.diskBytesSpilled(),
            }
        return out

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def _tail(warm: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest order statistic with at least ten
    samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(warm)
    n = len(xs)
    k = n - 10 if n > 10 else n
    return xs[k - 1], 100.0 * k / n


def run_timed(
    spark, specs, sf_dir: str, order: list[str], reps: int, oracles: dict, tracer: Tracer | None
) -> dict:
    from spark_cherry_shuffle_service_spark.functions.ranking import release_persisted
    from spark_cherry_shuffle_service_spark.plans.explain import executed_plan
    from spark_cherry_shuffle_service_spark.plans.shufflestats import plan_exchange_counts
    from spark_cherry_shuffle_service_spark.sources.catalog import write_noop

    sc = spark.sparkContext
    st = StageStore(spark)
    execs: list[dict] = []
    errors: dict[str, str] = {}
    layer = dict.fromkeys(
        ("build_s", "exec_s", "release_s", "analysis_ms", "optimization_ms",
         "planning_ms", "shuffle_exchanges", "broadcast_exchanges"), 0
    )
    failures: dict[str, str] = {}
    check_s = 0.0
    persisted_end = 0
    mb_peak = 0.0
    for qi, name in enumerate(order):
        builder = specs[name].builder
        for rep in range(reps):
            qid = f"{qi}.{rep}"
            rec = {"query": name, "rep": rep, "groups": (f"pb.{qid}.b", f"pb.{qid}.x")}
            try:
                sc.setJobGroup(rec["groups"][0], name)
                t0 = time.perf_counter()
                df = builder(spark, sf_dir)
                t_build = time.perf_counter()
                if tracer is not None:
                    executed_plan(df)
                    phases = df._jdf.queryExecution().tracker().phases()
                    for ph in ("analysis", "optimization", "planning"):
                        if phases.contains(ph):
                            layer[f"{ph}_ms"] += phases.apply(ph).durationMs()
                    counts = plan_exchange_counts(df)
                    layer["shuffle_exchanges"] += counts["plan_shuffle_exchanges"]
                    layer["broadcast_exchanges"] += counts["plan_broadcast_exchanges"]
                t_plan = time.perf_counter()
                sc.setJobGroup(rec["groups"][1], name)
                write_noop(df)
                t_end = time.perf_counter()
            except Exception as ex:  # noqa: BLE001 - a failing query is a result
                errors[f"{name}#{rep}"] = f"{type(ex).__name__}: {str(ex)[:300]}"
                traceback.print_exc(file=sys.stderr)
                continue
            rec["latency_s"] = t_end - t0
            execs.append(rec)
            if tracer is not None:
                layer["build_s"] += t_build - t0
                layer["exec_s"] += t_end - t_plan
                rec["build_ms"] = 1000 * (t_build - t0)
                tracer.span(qid, "query", None, t0, t_end, query=name, rep=rep)
                tracer.span(qid + "/build", "operators.build", qid, t0, t_build)
                tracer.span(qid + "/plan", "catalyst.plan", qid, t_build, t_plan)
                tracer.span(qid + "/exec", "exec.write_noop", qid, t_plan, t_end)
                mb_peak = max(mb_peak, st.cached_mb())
        sc.setJobGroup("pb.check", name)
        t_check = time.perf_counter()
        failure = check_query(spark, specs, sf_dir, name, oracles[name])
        check_s += time.perf_counter() - t_check
        if failure is not None:
            failures[name] = failure
        t_rel = time.perf_counter()
        release_persisted()
        t_rel_end = time.perf_counter()
        if tracer is not None:
            layer["release_s"] += t_rel_end - t_rel
            tracer.span(f"{qi}.release", "cache.release_persisted", None, t_rel, t_rel_end, query=name)
            persisted_end += st.persisted_rdds()
    sc.setJobGroup("pb.after", "after")
    cached_mb_end = st.cached_mb()

    stages = st.stages()
    build_stages: set[int] = set()
    exec_stages: set[int] = set()
    build_jobs = exec_jobs = 0
    for rec in execs:
        bj, xj = st.jobs(rec["groups"][0]), st.jobs(rec["groups"][1])
        build_jobs += len(bj)
        exec_jobs += len(xj)
        build_stages |= st.stage_ids(bj)
        exec_stages |= st.stage_ids(xj)
    all_stages = build_stages | exec_stages

    def total(ids, key):
        return sum(stages[s][key] for s in ids if s in stages)

    lat = [r["latency_s"] for r in execs]
    cold = [r["latency_s"] for r in execs if r["rep"] == 0]
    warm = [r["latency_s"] for r in execs if r["rep"] > 0] or cold
    tail, tail_pct = _tail(warm)
    out = {
        "executions": len(execs),
        "errors": errors,
        "checked": len(order),
        "failures": failures,
        "check_s": check_s,
        "total_s": sum(lat),
        "query_p50_s": statistics.median(warm),
        "query_tail_s": tail,
        "tail_percentile": tail_pct,
        "warm_n": len(warm),
        "cold_s": sum(cold),
        "cold_n": len(cold),
        "executor_cpu_s": total(all_stages, "cpu_ns") / 1e9,
        "cached_mb_end": cached_mb_end,
        "per_query_s": {
            q: [r["latency_s"] for r in execs if r["query"] == q]
            for q in dict.fromkeys(r["query"] for r in execs)
        },
    }
    if tracer is None:
        return out
    executed = [s for s in exec_stages if s in stages and stages[s]["status"] != "SKIPPED"]
    skipped = [s for s in exec_stages if s in stages and stages[s]["status"] == "SKIPPED"]
    task_s = total(executed, "run_ms") / 1e3
    mb = 1e6
    out["layers"] = {
        "sources.input_records": total(all_stages, "input_records"),
        "operators.build_s": layer["build_s"],
        "operators.build_p50_ms": statistics.median(r["build_ms"] for r in execs),
        "operators.build_share": layer["build_s"] / out["total_s"],
        "operators.build_jobs": build_jobs,
        "catalyst.analysis_ms": layer["analysis_ms"],
        "catalyst.optimization_ms": layer["optimization_ms"],
        "catalyst.planning_ms": layer["planning_ms"],
        "catalyst.shuffle_exchanges": layer["shuffle_exchanges"],
        "catalyst.broadcast_exchanges": layer["broadcast_exchanges"],
        "exec.wall_s": layer["exec_s"],
        "exec.jobs": exec_jobs,
        "exec.stages": len(executed),
        "exec.tasks": total(executed, "tasks"),
        "exec.sched_gap_s": layer["exec_s"] - task_s / sc.defaultParallelism,
        "exec.task_s": task_s,
        "exec.cpu_s": total(executed, "cpu_ns") / 1e9,
        "exec.gc_s": total(executed, "gc_ms") / 1e3,
        "exec.shuffle_write_mb": total(executed, "shuffle_write") / mb,
        "exec.shuffle_read_mb": total(executed, "shuffle_read") / mb,
        "exec.spill_mb": total(executed, "spill") / mb,
        "exec.failed_tasks": total(executed, "failed_tasks"),
        "cache.persisted_rdds_end": persisted_end,
        "cache.mb_peak": mb_peak,
        "cache.mb_end": cached_mb_end,
        "cache.stage_skip_ratio": len(skipped) / max(1, len(skipped) + len(executed)),
        "cache.release_s": layer["release_s"],
        "trace.total_s": out["total_s"],
    }
    return out


def main() -> int:
    mode, workload, seed, reps, fixtures, out_path = sys.argv[1:7]
    tracer = Tracer()
    spark, specs, sf_dir, rec = setup(fixtures, WORKLOADS[workload]["star"], tracer)
    order = query_order(workload, int(seed))
    result = {"mode": mode, "order": order, "setup": rec}
    with open(ready_marker(fixtures)) as fh:
        oracles = json.load(fh)["oracles"]
    try:
        traced = tracer if mode == "trace" else None
        result.update(run_timed(spark, specs, sf_dir, order, int(reps), oracles, traced))
        if traced is not None:
            result["layers"].update({k: v for k, v in rec.items() if k != "setup_s"})
            result["spans"] = tracer.spans
        result["calibration_s"] = calibration_probe(spark)
        result["cores"] = spark.sparkContext.defaultParallelism
        result["heap"] = spark.conf.get("spark.driver.memory")
        result["pyspark"] = spark.version
    finally:
        spark.stop()
    with open(out_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Fault-injection smoke (VERDICT r3 item #6): a checkpointed iterative job
killed mid-stream and restarted from durable state must produce a result
identical to an uninterrupted run.

The reference's headline is shuffle output surviving executor loss with
constant re-computation overhead (/root/reference/README.md:21). Local mode
can't kill one executor, so this kills the WHOLE process (`os._exit(137)`,
SIGKILL semantics — no cleanup, no JVM shutdown) after round 2 of 4 commits,
then restarts in a fresh process. Recovery must (a) resume from round 2, not
round 0, and (b) converge to the exact uninterrupted result. Cluster recipe:
SCALE.md §"Failure recovery".
"""

from __future__ import annotations

import os
import subprocess
import sys

from spark_cherry_shuffle_service_spark.plans import recovery
from spark_cherry_shuffle_service_spark.plans.recovery import (
    latest_committed_round,
    resumable_min_label_rounds,
)
from tests.conftest import SF_SMOKE
from tests.test_graph import _leaves

ROUNDS = 4

# Runs the same resumable job in a separate process (its own JVM): the only
# way to exercise a real process death + cold restart under local mode.
_CHILD = """
import sys
from pyspark.sql import SparkSession
from spark_cherry_shuffle_service_spark.plans.recovery import resumable_min_label_rounds
from tests.test_recovery import build_edges

state_dir, die_after = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
resumable_min_label_rounds(
    spark, build_edges(spark), state_dir, rounds={rounds},
    die_after_round=None if die_after == "none" else int(die_after))
spark.stop()
""".format(rounds=ROUNDS)


def build_edges(spark):
    """Small deterministic graph derived from the fixtures: supplier→nation
    membership edges plus a supplier chain, giving multi-node components
    that need several propagation rounds to converge."""
    from pyspark.sql import functions as F

    from spark_cherry_shuffle_service_spark.sources.catalog import table

    sup = table(spark, SF_SMOKE, "supplier")
    membership = sup.select(
        F.col("s_suppkey").alias("src"), (F.col("s_nationkey") + 10_000).alias("dst")
    )
    chain = sup.filter(F.col("s_suppkey") % 3 == 0).select(
        F.col("s_suppkey").alias("src"), (F.col("s_suppkey") + 1).alias("dst")
    )
    return membership.union(chain)


def _run_child(state_dir: str, die_after: str) -> subprocess.CompletedProcess:
    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo" + os.pathsep + env.get("PYTHONPATH", "")
    return subprocess.run(
        [sys.executable, "-c", _CHILD, state_dir, die_after],
        cwd="/root/repo",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_killed_iterative_job_resumes_to_identical_result(spark, tmp_path):
    # Uninterrupted reference run, in-process.
    ref_dir = str(tmp_path / "ref")
    expected = sorted(
        (r["node"], r["label"])
        for r in resumable_min_label_rounds(
            spark, build_edges(spark), ref_dir, rounds=ROUNDS
        ).collect()
    )
    assert expected, "reference run produced no labels"

    # Fault run: process hard-killed (exit 137) after round 2 of 4 commits.
    crash_dir = str(tmp_path / "crash")
    dead = _run_child(crash_dir, die_after="2")
    assert dead.returncode == 137, f"expected kill rc 137, got {dead.returncode}: {dead.stderr[-500:]}"
    assert latest_committed_round(crash_dir) == 2, "round-2 state must be durable at death"

    # Fresh process resumes from the committed round and finishes.
    resumed = _run_child(crash_dir, die_after="none")
    assert resumed.returncode == 0, f"resume failed: {resumed.stderr[-1000:]}"
    assert latest_committed_round(crash_dir) == ROUNDS

    got = sorted(
        (r["node"], r["label"])
        for r in spark.read.parquet(f"{crash_dir}/round={ROUNDS:04d}").collect()
    )
    assert got == expected, "resumed result differs from uninterrupted run"


def test_resume_skips_completed_rounds(spark, tmp_path):
    """Recovery cost is bounded by ONE round: resuming a finished state dir
    re-computes nothing (no new round dirs, mtimes untouched)."""
    state_dir = str(tmp_path / "full")
    resumable_min_label_rounds(spark, build_edges(spark), state_dir, rounds=2)
    assert latest_committed_round(state_dir) == 2
    marker = os.path.join(state_dir, "round=0002", "_SUCCESS")
    before = os.path.getmtime(marker)
    resumable_min_label_rounds(spark, build_edges(spark), state_dir, rounds=2)
    assert os.path.getmtime(marker) == before, "completed round was rewritten on resume"


def _min_labels(edges: list[tuple[int, int]], rounds: int) -> dict[int, int]:
    """Pure-Python min-label propagation over the symmetric closure of
    `edges`: label_0(v) = v; each round every node takes the min of its own
    and its neighbours' previous labels."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label = {v: v for v in nbrs}
    for _ in range(rounds):
        label = {v: min([label[v]] + [label[u] for u in nbrs[v]]) for v in nbrs}
    return label


def test_labels_match_a_pure_python_propagation(spark, tmp_path):
    """The committed round-ROUNDS labels equal an independent min-label
    computation over the collected edge rows, not only a second run of the
    same code."""
    edges = [(r["src"], r["dst"]) for r in build_edges(spark).collect()]
    got = resumable_min_label_rounds(
        spark, build_edges(spark), str(tmp_path / "state"), rounds=ROUNDS
    ).collect()
    want = _min_labels(edges, ROUNDS)
    assert sorted((r["node"], r["label"]) for r in got) == sorted(want.items())


def test_each_round_reads_its_state_once(spark, monkeypatch, tmp_path):
    """Every committed round plans the edges plus ONE read of the previous
    round's committed state, so a round's plan never grows with the round
    count."""
    real = recovery._min_relax
    plans = []

    def spy(edges, state, col, step=None):
        out = real(edges, state, col, step)
        plans.append((_leaves(edges), _leaves(state), _leaves(out)))
        return out

    monkeypatch.setattr(recovery, "_min_relax", spy)
    resumable_min_label_rounds(spark, build_edges(spark), str(tmp_path / "state"), rounds=3)
    edge_leaves = plans[0][0]
    assert plans == [(edge_leaves, 1, edge_leaves + 1)] * 3

"""Fault-tolerant iterative execution: durable per-round state + resume.

The reference's headline capability is shuffle output that survives executor
loss, bounding recovery to constant task-time re-computation
(/root/reference/README.md:21; IndexShuffleBlockResolver.scala:417-483 keeps
index/data blocks resolvable from the remote Cherry service after the
producing executor dies). Spark-native equivalent at the application level:
an iterative job persists its per-round state to a DURABLE store (parquet +
atomic `_SUCCESS` commit marker), so a lost driver/executor set resumes from
the last committed round instead of round 0 — recovery cost is one round,
not the whole lineage.

Local mode cannot kill individual executors, so the test
(tests/test_recovery.py) approximates executor loss at the coarsest grain
available: it hard-kills the whole Python/JVM process (`os._exit`) mid-job
after round k commits, then restarts in a fresh process and proves the
resumed result is bit-identical to an uninterrupted run. The cluster-mode
recipe (external shuffle service + node-loss semantics) is documented in
SCALE.md §"Failure recovery".
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.operators.dedup import _min_relax
from spark_cherry_shuffle_service_spark.sources.catalog import read_parquet

__all__ = ["latest_committed_round", "resumable_min_label_rounds"]


def _round_path(state_dir: str, k: int) -> str:
    return os.path.join(state_dir, f"round={k:04d}")


def latest_committed_round(state_dir: str) -> int:
    """Highest round whose parquet commit completed (`_SUCCESS` present),
    or -1 if none. Half-written round dirs (process died mid-write, no
    marker) are ignored — the atomicity unit is Spark's own job commit."""
    best = -1
    if not os.path.isdir(state_dir):
        return best
    for entry in os.listdir(state_dir):
        if entry.startswith("round=") and os.path.exists(
            os.path.join(state_dir, entry, "_SUCCESS")
        ):
            best = max(best, int(entry.split("=", 1)[1]))
    return best


def resumable_min_label_rounds(
    spark: SparkSession,
    edges: DataFrame,
    state_dir: str,
    rounds: int,
    die_after_round: int | None = None,
) -> DataFrame:
    """Run `rounds` rounds of min-label propagation (`_min_relax`, the
    connected-components round of operators/graph.py) with each round's
    label state committed to `state_dir/round=k` before the next starts.
    On entry, resumes from the latest committed round — a process killed
    after round k re-computes only rounds k+1.., never 0..k (the
    constant-overhead recovery the reference claims for shuffle data;
    README.md:21).

    `edges` must have columns (src, dst); propagation is symmetric. State
    schema: (node bigint, label bigint), label_0(v) = v.

    `die_after_round` (tests only): after committing that round, hard-exit
    the process with `os._exit(137)` — no cleanup, no JVM shutdown, the
    closest local-mode analog to a killed executor/driver.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    start = latest_committed_round(state_dir)
    if start < 0:
        labels = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
        )
        labels.write.mode("overwrite").parquet(_round_path(state_dir, 0))
        start = 0
        if die_after_round == 0:
            os._exit(137)

    labels = read_parquet(spark, _round_path(state_dir, start))
    for k in range(start + 1, rounds + 1):
        labels = _min_relax(sym, labels, "label")
        # Durable commit = the write itself (parquet + _SUCCESS). Reading the
        # committed state back also cuts lineage, so round k+1 plans against
        # the file, not the k-round shuffle chain (the iterative-loop gotcha:
        # without this, round k recomputes rounds 1..k-1).
        labels.write.mode("overwrite").parquet(_round_path(state_dir, k))
        labels = read_parquet(spark, _round_path(state_dir, k))
        if die_after_round == k:
            os._exit(137)
    return labels

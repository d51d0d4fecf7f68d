"""Measured shuffle accounting per registered query.

SCALE.md's "shuffle inventory per operator family" states how many
exchanges each operator family pays and what stays map-side. This module
turns those claims into MEASUREMENTS: run each query once through
plans/measure.py and keep its stages' shuffle-write / shuffle-read /
input bytes from Spark's in-process status store (the numbers the Spark
UI and its REST API show, read with the UI off; the reference's
metrics-monitor scrapes the equivalent executor endpoints). The committed
artifact (SHUFFLE_STATS.json) makes "this operator shuffles once / never" a
checked property at data scale, not prose — `measure, don't guess`.

Static exchange counts come from the pre-execution physical plan
(AdaptiveSparkPlan's initial plan): shuffle exchanges
(hash/range/single-partition) are counted separately from broadcast
exchanges; AQE may still downgrade a shuffle to broadcast at runtime,
which is exactly why the BYTE numbers come from stage metrics instead
of the plan.

Usage (CLI):  python -m spark_cherry_shuffle_service_spark shufflestats
              [--queries a,b,c] [--out SHUFFLE_STATS.json]
"""

from __future__ import annotations

import re
import sys

from pyspark.sql import SparkSession

_SHUFFLE_EXCHANGE = re.compile(r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)")
_BROADCAST_EXCHANGE = re.compile(r"\bBroadcastExchange\b")


def plan_exchange_counts(df) -> dict[str, int]:
    """Static counts from the initial physical plan: shuffle vs broadcast
    exchanges (ReusedExchange references are neither — the exchange they
    point at is already counted once where it is defined)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "plan_shuffle_exchanges": len(_SHUFFLE_EXCHANGE.findall(plan)),
        "plan_broadcast_exchanges": len(_BROADCAST_EXCHANGE.findall(plan)),
    }


def measure_queries(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, dict]:
    """Run each named query once and attribute its new stages' byte
    metrics to it. Stages SKIPPED because a persisted or reused exchange
    served them report zero bytes — which is the point: the artifact
    shows what each query actually paid."""
    from spark_cherry_shuffle_service_spark.plans.measure import measure_query
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted

    specs = all_specs()
    results: dict[str, dict] = {}
    for name in names or sorted(specs):
        print(f"  [shufflestats] {name} ...", file=sys.stderr, flush=True)
        m = measure_query(spark, name, sf_dir, 1)
        print(f"  [shufflestats] {name} done in {m.runs[0]:.1f}s", file=sys.stderr, flush=True)
        row = dict(m.bytes, stages=m.stages)
        # Exchange counts come from a fresh, unexecuted build: planned
        # after its run, the measured frame would print the final plans of
        # its materialized pinned frames instead of the initial plan.
        row.update(plan_exchange_counts(specs[name].builder(spark, sf_dir)))
        release_persisted()
        results[name] = row
    return results


def summarize(results: dict[str, dict]) -> dict:
    by_shuffle = sorted(
        results.items(), key=lambda kv: kv[1]["shuffleWriteBytes"], reverse=True
    )
    return {
        "n_queries": len(results),
        "total_shuffle_write_bytes": sum(r["shuffleWriteBytes"] for r in results.values()),
        "total_input_bytes": sum(r["inputBytes"] for r in results.values()),
        # truly shuffle-free: zero measured bytes AND zero shuffle
        # exchanges in the plan — the structural claim SCALE.md makes
        "zero_shuffle_queries": sorted(
            n
            for n, r in results.items()
            if r["shuffleWriteBytes"] == 0 and r["plan_shuffle_exchanges"] == 0
        ),
        # zero bytes but the plan DOES shuffle: this run's stages were
        # served by persisted intermediates / reused exchanges built by
        # earlier queries — the look-ahead-cache effect, order-dependent,
        # NOT a structural zero-shuffle claim
        "cache_served_queries": sorted(
            n
            for n, r in results.items()
            if r["shuffleWriteBytes"] == 0 and r["plan_shuffle_exchanges"] > 0
        ),
        "top_shufflers": [
            {"query": n, "shuffleWriteBytes": r["shuffleWriteBytes"]}
            for n, r in by_shuffle[:10]
        ],
    }

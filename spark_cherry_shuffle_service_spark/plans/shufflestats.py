"""Measured shuffle accounting per registered query.

SCALE.md's "shuffle inventory per operator family" states how many
exchanges each operator family pays and what stays map-side. This module
turns those claims into MEASUREMENTS: run each query through the noop
sink in a UI-enabled session and pull its stages' shuffle-write /
shuffle-read / input bytes from Spark's REST status API (the same
numbers the Spark UI shows; the reference's metrics-monitor scrapes the
equivalent executor endpoints). The committed artifact
(SHUFFLE_STATS.json) makes "this operator shuffles once / never" a
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

import json
import re
import urllib.request

from pyspark.sql import SparkSession

#: stage fields summed per query (REST /applications/{id}/stages names)
_BYTE_FIELDS = (
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "inputBytes",
    "outputBytes",
)

_SHUFFLE_EXCHANGE = re.compile(r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)")
_BROADCAST_EXCHANGE = re.compile(r"\bBroadcastExchange\b")


def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.loads(r.read())


def _api_base(spark: SparkSession) -> str:
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        raise RuntimeError(
            "Spark UI is disabled — shufflestats needs spark.ui.enabled=true "
            "(the REST status API serves the stage metrics)"
        )
    return f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}"


def _stage_key(s: dict) -> tuple:
    return (s["stageId"], s.get("attemptId", 0))


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
    """Run each named query through the noop sink and attribute the new
    stages' byte metrics to it. Stages SKIPPED because a persisted or
    reused exchange served them report zero bytes — which is the point:
    the artifact shows what each query actually paid."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted, write_noop

    specs = all_specs()
    base = _api_base(spark)
    results: dict[str, dict] = {}
    seen = {_stage_key(s) for s in _rest(base, "/stages")}
    for name in names or sorted(specs):
        import sys
        import time

        t0 = time.perf_counter()
        print(f"  [shufflestats] {name} ...", file=sys.stderr, flush=True)
        df = specs[name].builder(spark, sf_dir)
        static = plan_exchange_counts(df)
        write_noop(df)
        print(
            f"  [shufflestats] {name} done in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
            flush=True,
        )
        stages = _rest(base, "/stages")
        new = [
            s
            for s in stages
            if _stage_key(s) not in seen and s.get("status") in ("COMPLETE", "SKIPPED")
        ]
        seen |= {_stage_key(s) for s in stages}
        row = {f: int(sum(s.get(f, 0) for s in new)) for f in _BYTE_FIELDS}
        row["stages"] = len(new)
        row.update(static)
        results[name] = row
        release_persisted()
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

"""Semantic tests for the behavioral/statistics batch (events_before_after,
events_twap, dq_outlier_iqr, orders_interpurchase_gap, supplier_hhi,
graph_jaccard_ppm). Value correctness is covered by the auto-parametrized
DuckDB differential; these pin order-independence and each operator's
defining invariant."""

from __future__ import annotations

from spark_cherry_shuffle_service_spark.plans.registry import all_specs
from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted
from tests.conftest import SF_SMOKE

SPECS = all_specs()

NEW_OPS = [
    "events_before_after",
    "events_twap",
    "dq_outlier_iqr",
    "orders_interpurchase_gap",
    "supplier_hhi",
    "graph_jaccard_ppm",
]


def test_behavioral_ops_are_parallelism_invariant(spark):
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results: dict[str, list] = {}
        for parts in ("1", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in NEW_OPS:
                rows = sorted(map(repr, SPECS[n].builder(spark, SF_SMOKE).collect()))
                results.setdefault(n, []).append(rows)
                release_persisted()
        for n, (a, b) in results.items():
            assert a == b, f"{n} differs between 1 and 32 shuffle partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_twap_weights_conserve_day_span(spark):
    """Σ holding time per (user, day) equals last-minus-first event time —
    the defining identity of the zero-tail TWAP weighting."""
    from pyspark.sql import functions as F

    from spark_cherry_shuffle_service_spark.sources.catalog import table

    out = {
        (r["user_id"], r["d"]): (r["den_sec"], r["n_holds"])
        for r in SPECS["events_twap"].builder(spark, SF_SMOKE).collect()
    }
    span = {
        (r["user_id"], r["d"]): r["span"]
        for r in table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id") < 300)
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000").alias("span"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .collect()
    }
    assert set(out) <= set(span)
    for k, (den, n_holds) in out.items():
        # den sums floor-divided per-gap seconds: each gap floors away
        # < 1 s, so den ∈ [span − n_holds, span].
        assert 0 <= span[k] - den <= n_holds, (k, den, span[k])


def test_iqr_fences_are_ordered_and_bound_counts(spark):
    rows = SPECS["dq_outlier_iqr"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["lo_fence"] <= r["hi_fence"], r
        assert r["n_low"] + r["n_high"] <= r["n"], r


def test_jaccard_is_normalized(spark):
    rows = SPECS["graph_jaccard_ppm"].builder(spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 < r["jaccard_ppm"] <= 1_000_000, r


def test_hhi_bounded_by_full_concentration(spark):
    rows = SPECS["supplier_hhi"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r["hhi"] <= 10_000 * 10_000, r
        assert r["n_suppliers"] >= 1, r


def test_before_after_partitions_user_events(spark):
    """n_before + n_after must equal the user's total event count (the
    pivot split is exhaustive and exclusive)."""
    from pyspark.sql import functions as F

    from spark_cherry_shuffle_service_spark.sources.catalog import table

    out = {r["user_id"]: (r["n_before"], r["n_after"]) for r in SPECS["events_before_after"].builder(spark, SF_SMOKE).collect()}
    totals = {
        r["user_id"]: r["n"]
        for r in table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id") < 500)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for u, (nb, na) in out.items():
        assert nb + na == totals[u], (u, nb, na, totals[u])

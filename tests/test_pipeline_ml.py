"""Semantic + plan tests for operators/pipeline_ml.py (the DuckDB
differential in test_oracle_parity covers value correctness; these pin
the properties the oracle can't see: plan shape, parallelism invariance,
and the operators' defining invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.plans.explain import (
    count_ops,
    formatted_plan,
    uses_python_eval,
)
from spark_cherry_shuffle_service_spark.plans.registry import all_specs
from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted
from tests.conftest import SF_SMOKE

SPECS = all_specs()

NEW_OPS = [
    "events_ewma",
    "text_hash_classifier",
    "graph_common_neighbors",
    "er_blocked_linkage",
    "events_attribution",
    "events_winsorized_revenue",
    # same-round additions living in their natural modules:
    "dedup_lsh_recall",
    "events_rolling_dau",
    "dq_k_anonymity",
    "text_keywords",
    "orders_yoy_growth",
]


def test_pipeline_ml_ops_are_parallelism_invariant(spark):
    """Identical result sets at 1 and 32 shuffle partitions — the
    fixed-point EWMA, integer classifier, and count-valued graph/ER ops
    must not depend on aggregation order anywhere."""
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


def test_hash_classifier_is_pure_projection(spark):
    """The scoring pass must be aggregation-free and Python-free: split →
    transform → aggregate HOFs, no explode/groupBy. Allowed exchanges:
    the presentational ORDER BY's rangepartitioning plus the ONE
    deliberate input-spread repartition (round-6: the single-file
    fixture scans as one partition, so the per-token md5 HOF work is
    spread across cores first — the repo's repartition-before-CPU
    convention; a naturally multi-partition 100 TB scan makes it a
    near-no-op)."""
    df = SPECS["text_hash_classifier"].builder(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "HashAggregate" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert not uses_python_eval(df), plan
    assert count_ops(df, "Exchange") <= 2, plan  # input spread + ORDER BY only


def test_ewma_first_row_is_half_value(spark):
    """Kernel pin: a user's first event has no history, so its EWMA is
    exactly m >> 1 (half the micro-unit value, floor)."""
    df = SPECS["events_ewma"].builder(spark, SF_SMOKE)
    firsts = (
        df.groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "value", "ewma_micro")).alias("s"))
        .select("user_id", "s.value", "s.ewma_micro")
        .collect()
    )
    assert firsts
    for r in firsts:
        assert r.ewma_micro == int(round(r.value * 1_000_000)) >> 1, r


def test_ewma_is_bounded_by_running_max(spark):
    """The kernel weights sum to < 1, so EWMA never exceeds the max
    micro-value seen in its 8-row frame (coarse bound: global max)."""
    df = SPECS["events_ewma"].builder(spark, SF_SMOKE)
    mx = df.agg(F.max(F.round(F.col("value") * 1_000_000).cast("long"))).collect()[0][0]
    over = df.filter(F.col("ewma_micro") > mx).count()
    assert over == 0


def test_common_neighbors_bounded_by_degrees(spark):
    """CN invariant: |Γ(a) ∩ Γ(b)| ≤ min(deg a, deg b); pair key ordered."""
    rows = SPECS["graph_common_neighbors"].builder(spark, SF_SMOKE).collect()
    assert rows, "empty CN result at smoke SF"
    for r in rows:
        assert r.common <= min(r.deg1, r.deg2), r
        assert r.s1 < r.s2, r


def test_er_matches_subset_of_candidates(spark):
    rows = SPECS["er_blocked_linkage"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_matches <= r.n_candidates, r
        assert r.min_dist >= 1, r  # c_name is unique per customer

"""Semantics pins for the differential-testing traps SURVEY.md §7.3 lists:
NOT IN with NULLs (three-valued logic) and decimal division/rounding.
Fixture keys are non-null, so these build their own literal inputs and run
the SAME SQL text on Spark and DuckDB."""

from __future__ import annotations

import duckdb

from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted
from tests.conftest import SF_SMOKE


def _both(spark, sql: str):
    s = [tuple(r) for r in spark.sql(sql).collect()]
    d = duckdb.connect().execute(sql).fetchall()
    return sorted(map(repr, s)), sorted(map(repr, d))


def test_not_in_with_null_matches_duckdb(spark):
    """x NOT IN (subquery containing NULL) is never TRUE — both engines
    must agree on the empty result (the classic anti-join trap)."""
    sql = """
    WITH t(x) AS (VALUES (1), (2), (4)),
         s(y) AS (VALUES (1), (NULL))
    SELECT x FROM t WHERE x NOT IN (SELECT y FROM s)
    """
    s, d = _both(spark, sql)
    assert s == d == []


def test_not_in_without_null_matches_duckdb(spark):
    sql = """
    WITH t(x) AS (VALUES (1), (2), (4)),
         s(y) AS (VALUES (1), (3))
    SELECT x FROM t WHERE x NOT IN (SELECT y FROM s)
    """
    s, d = _both(spark, sql)
    assert s == d and len(s) == 2


def test_null_comparisons_three_valued_logic(spark):
    """NULL = NULL is NULL (filtered); IS NOT DISTINCT FROM treats NULLs
    as equal — both engines agree on both operators."""
    sql = """
    WITH t(a, b) AS (VALUES (1, 1), (NULL, NULL), (1, NULL))
    SELECT COUNT(*) FILTER (WHERE a = b) AS eq,
           COUNT(*) FILTER (WHERE a IS NOT DISTINCT FROM b) AS ndeq
    FROM t
    """
    s, d = _both(spark, sql)
    assert s == d
    assert s == ["(1, 2)"]


def test_decimal_division_and_rounding_matches_duckdb(spark):
    """The engine's money convention: compute ratios in DOUBLE, round
    explicitly (tpcds/q2.sql `round(ws/ss,2)` shape). Verifies the exact
    convention every registered query uses survives cross-engine."""
    sql = """
    WITH t(a, b) AS (VALUES
      (CAST(123.45 AS DOUBLE), CAST(67.89 AS DOUBLE)),
      (CAST(0.01 AS DOUBLE),   CAST(3.00 AS DOUBLE)),
      (CAST(99999.99 AS DOUBLE), CAST(0.07 AS DOUBLE)))
    SELECT ROUND(a / b, 2) AS ratio,
           CAST(ROUND(a * b, 6) AS DECIMAL(18,6)) AS product_exact
    FROM t
    """
    s, d = _both(spark, sql)
    assert s == d


def test_integer_division_and_modulo_match_duckdb(spark):
    """/ on integers is engine-divergent (Spark: integer div; DuckDB 1.0:
    float div) — the engine therefore always casts or uses % carefully.
    Pin the SAFE forms used by registered queries: explicit CAST + %."""
    sql = """
    WITH t(a, b) AS (VALUES (7, 2), (-7, 2))
    SELECT CAST(a AS DOUBLE) / b AS fdiv, a % b AS mod FROM t
    """
    s, d = _both(spark, sql)
    assert s == d


def test_limited_queries_are_parallelism_invariant(spark):
    """LIMIT determinism audit (CLAUDE.md hard rule): every query whose
    plan takes a limit must order by keys that uniquely identify rows —
    an ambiguous ORDER BY returns different rows at different shuffle
    parallelism and flakes the driver's value hash. Checked EMPIRICALLY:
    run each limited query at three shuffle-partition settings and demand
    identical result sets (shuffle.partitions is runtime-settable, so the
    same session re-plans each time)."""
    from spark_cherry_shuffle_service_spark.plans.explain import formatted_plan
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from tests.compare import spark_rows

    specs = all_specs()
    limited = []
    for n in sorted(specs):
        plan = formatted_plan(specs[n].builder(spark, SF_SMOKE))
        release_persisted()
        if any(op in plan for op in ("TakeOrderedAndProject", "GlobalLimit")):
            limited.append(n)
    assert len(limited) >= 8, f"limit sweep lost coverage: {limited}"
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("8", "3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in limited:
                results.setdefault(n, []).append(
                    spark_rows(specs[n].builder(spark, SF_SMOKE))
                )
                release_persisted()
        for n, runs in results.items():
            assert runs[0] == runs[1] == runs[2], (
                f"{n}: LIMIT result depends on parallelism — ambiguous ORDER BY"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_round3_ops_are_parallelism_invariant(spark):
    """The round-3 operators must produce identical result sets at 1 and
    32 shuffle partitions — the md5/tiebreak/deterministic-fold discipline
    every registered query follows (plans/registry.py docstring). The
    bucketed cogroup (udf_cogrouped_asof) and window-rank ops are the
    interesting cases: per-group pandas merges and rank tiebreaks must
    not depend on partitioning."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    specs = all_specs()
    names = [
        "udf_cogrouped_asof",
        "corpus_curriculum",
        "embedding_pq",
        "similarity_pq_adc",
        "search_hybrid_rrf",
        "zorder_block_stats",
        "cdc_merge_apply",
        "events_user_sequences",
        "agg_mode",
    ]
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("1", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                df = specs[n].builder(spark, SF_SMOKE)
                rows = sorted(map(repr, df.collect()))
                results.setdefault(n, []).append(rows)
                release_persisted()
        for n, (a, b) in results.items():
            assert a == b, f"{n} differs between 1 and 32 shuffle partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_round4_ops_are_parallelism_invariant(spark):
    """Round-4 operators: identical result sets at 1 and 32 shuffle
    partitions. The interesting cases are the md5-rank window in
    contrastive negatives (rank ties must break deterministically), the
    directional LSH candidate join in incremental dedup, and the
    sequential double folds in the JL projection (array fold order is
    per-row, not partition-dependent)."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    specs = all_specs()
    names = [
        "dedup_incremental",
        "corpus_stratified_sample",
        "similarity_contrastive_negatives",
        "embedding_random_projection",
    ]
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("1", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                df = specs[n].builder(spark, SF_SMOKE)
                rows = sorted(map(repr, df.collect()))
                results.setdefault(n, []).append(rows)
                release_persisted()
        for n, (a, b) in results.items():
            assert a == b, f"{n} differs between 1 and 32 shuffle partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_histogram_percentile_equals_exact_percentile(spark):
    """The count-by-value histogram percentile (the SCALE.md production
    path for bounded domains) must be BIT-identical to Spark's exact
    `percentile` on the same data — it mirrors Percentile.scala's
    interpolation ((higher−pos)·lo + (pos−lower)·hi over position =
    (n−1)·p in double) over cumulative value counts."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from tests.conftest import SF_CORRECT

    specs = all_specs()
    exact = {
        r["l_returnflag"]: (r["qty_median"], r["qty_p90"])
        for r in specs["agg_percentiles"].builder(spark, SF_CORRECT).collect()
    }
    hist = {
        r["l_returnflag"]: (r["qty_median"], r["qty_p90"])
        for r in specs["agg_percentiles_histogram"].builder(spark, SF_CORRECT).collect()
    }
    assert set(exact) == set(hist)
    for flag in exact:
        assert exact[flag] == hist[flag], (flag, exact[flag], hist[flag])


def test_tdigest_percentile_within_accuracy_of_exact(spark):
    """agg_percentiles_tdigest (the SCALE.md production path for UNBOUNDED
    double domains — fixed-size mergeable sketch per group) must honor
    approx_percentile's documented accuracy contract. Round 8 moved the
    bracket INSIDE the query (the raw sketch estimates are
    parallelism-dependent past the sketch capacity, so the output is now
    exact quantiles + per-quantile contract verdicts, py-oracle-checked);
    this test asserts the verdicts hold on the fixtures AND independently
    recomputes one bracket so the in-query booleans can't go vacuous."""
    from pyspark.sql import functions as F

    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from spark_cherry_shuffle_service_spark.sources.catalog import table
    from tests.conftest import SF_CORRECT

    specs = all_specs()
    rows = specs["agg_percentiles_tdigest"].builder(spark, SF_CORRECT).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["sketch_ok_p25"] and r["sketch_ok_p50"] and r["sketch_ok_p75"], r
        assert r["p25_exact"] <= r["p50_exact"] <= r["p75_exact"], r
        assert r["n"] > 0
    # Independent re-derivation of the p50 bracket for one group: the
    # sketch estimate really sits between the exact q±0.001 quantiles.
    eps = 0.001
    chk = (
        table(spark, SF_CORRECT, "events")
        .groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, 0.5, 10000)").alias("est"),
            F.percentile("value", 0.5 - eps).alias("lo"),
            F.percentile("value", 0.5 + eps).alias("hi"),
        )
        .collect()
    )
    assert all(c["lo"] <= c["est"] <= c["hi"] for c in chk), chk


def test_sessionize_gap_is_microsecond_exact(spark, tmp_path):
    """Regression for the sub-second sessionize trap found by the ~sf1
    differential: the 30-min gap test must compare integer MICROSECONDS on
    both engines. A 1800.4 s gap truncated to whole seconds reads as 1800
    (not > 1800) and wrongly merges a session; a gap of exactly 1800 s must
    merge (strict >), 1800.000001 s must split."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    us = dt.timedelta(microseconds=1)
    rows = [
        # user 1: exact-1800s gap (merge), then +1800s+1µs (split)
        (1, t0),
        (1, t0 + dt.timedelta(seconds=1800)),
        (1, t0 + dt.timedelta(seconds=3600) + us),
        # user 2: the truncation trap — 1800.4 s gap must SPLIT
        (2, t0),
        (2, t0 + dt.timedelta(seconds=1800, microseconds=400_000)),
    ]
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            }
        ),
        tmp_path / "events.parquet",
    )
    spec = all_specs()["events_sessionize"]
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"], r["total_session_seconds"])
        for r in spec.builder(spark, str(tmp_path)).collect()
    }
    assert got[1] == (2, 3, 1800)  # exact gap merged, +1µs split
    assert got[2] == (2, 2, 0)  # 1800.4s gap split: two 1-event sessions

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'"
    )
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(spec.oracle).fetchall()
    }
    assert oracle == got


def test_sessionize_boundary_parity_with_session_window(spark):
    """Boundary parity between the batch gaps-and-islands (strict `>`:
    merge at exactly the threshold, split one microsecond past it) and
    Spark's built-in session_window, PROBED rather than assumed: an
    event arriving exactly at the previous window's end (last + gap)
    EXTENDS the session — session_window's boundary is inclusive, the
    same semantics as the batch twin and the DuckDB oracle. So the
    batch↔stream parity tests hold even on boundary-aligned data. If
    this test ever fails, Spark changed session_window's gap semantics —
    revisit the streaming parity tests."""
    import datetime as dt

    import pyspark.sql.functions as F

    t0 = dt.datetime(2024, 1, 1)
    us = dt.timedelta(microseconds=1)

    def n_sessions(rows):
        df = spark.createDataFrame(rows, ["user_id", "ts"])
        return len(
            df.groupBy(F.session_window("ts", "30 minutes"), "user_id").count().collect()
        )

    exactly = [(1, t0), (1, t0 + dt.timedelta(seconds=1800))]
    just_past = [(1, t0), (1, t0 + dt.timedelta(seconds=1800) + us)]
    assert n_sessions(exactly) == 1  # exactly-at-gap MERGES (inclusive end)
    assert n_sessions(just_past) == 2  # one microsecond past SPLITS

    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
        "user_id"
    ).orderBy("ts")

    def batch_sessions(rows):
        df = spark.createDataFrame(rows, ["user_id", "ts"])
        return (
            df.withColumn(
                "is_new",
                F.when(
                    F.lag("ts").over(w).isNull()
                    | (
                        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                        > 1_800_000_000
                    ),
                    1,
                ).otherwise(0),
            )
            .agg(F.sum("is_new"))
            .first()[0]
        )

    assert batch_sessions(exactly) == 1
    assert batch_sessions(just_past) == 2


def test_agg_percentiles_branches_bit_identical(spark):
    """agg_percentiles is input-size-adaptive (r12): below
    spark.cherry.percentile.exactMapMaxBytes it runs Spark's in-map exact
    `percentile`, above it the count-by-value cum-count form (the only
    shape that survives 100 TB — bounded memory, no serial map merge).
    Both branches must produce BIT-identical rows on the same data, so the
    declared query's result is independent of which branch fires."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from tests.conftest import SF_CORRECT

    specs = all_specs()
    cols = ["l_returnflag", "qty_median", "qty_p90", "price_p25",
            "price_p75", "price_iqr", "n"]

    def rows(df):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    conf_key = "spark.cherry.percentile.exactMapMaxBytes"
    map_form = rows(specs["agg_percentiles"].builder(spark, SF_CORRECT))
    spark.conf.set(conf_key, "0")  # force the cum-count branch
    try:
        cum_form = rows(specs["agg_percentiles"].builder(spark, SF_CORRECT))
    finally:
        spark.conf.unset(conf_key)
    assert map_form == cum_form, (map_form, cum_form)

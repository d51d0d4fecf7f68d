"""Statistical process-control / observability operators over the events
feed: CUSUM drift alarms, Benford first-digit audit, cohort distribution
drift, local peak detection, and hour-of-day seasonality.

The reference exercises the underlying machinery (windows, grouped
aggregates, scalar subqueries — SURVEY.md §2.4/§2.5); these package it as
the monitoring surface a production feed owner runs daily at 100 TB.

Determinism notes (CLAUDE.md conventions):
- CUSUM runs ENTIRELY in DECIMAL(18,6): per-row `money()` rounding, then
  exact decimal window sums/mins — bit-identical at any parallelism and
  across engines. The per-type target mean is rounded to decimal ONCE per
  type (5 values), not per row, so the ratio-ROUND tie risk flagged in
  CLAUDE.md is bounded by the type vocabulary, not the row count.
- The max(0, S_{i-1} + dev_i) recurrence is NOT expressed recursively
  (SQL can't, and a stateful UDF would leave the JVM): the closed form
  S_i = P_i - min(0, min_{j<=i} P_j) over prefix sums P turns it into two
  window passes — the 100 TB shape is one shuffle on event_type, no
  iteration.
- Benford / drift / seasonality emit INTEGER basis points (n*10000 DIV
  total) — no float ratio ever reaches the result.

Scale: every window partitions by the 5-value event_type vocabulary with
(ts, event_id) unique tiebreaks. Per-type partitions are the one skew
concern: at 100 TB a single event_type's ordered scan is a single-task
sort. Prefix sums admit a (type, day) decomposition with per-day carry-in
offsets; events_cusum's docstring says why it is not used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.functions.aggregates import davg, dsum, money
from spark_cherry_shuffle_service_spark.plans.oracle import davg_sql, dsum_sql
from spark_cherry_shuffle_service_spark.plans.registry import query
from spark_cherry_shuffle_service_spark.sources.catalog import table

_CUSUM_H = "500.000000"  # alarm threshold, exact decimal literal


@query(
    "events_cusum",
    oracle=f"""
    WITH mu AS (
      SELECT event_type, CAST(ROUND({davg_sql('value')}, 6) AS DECIMAL(18,6)) AS mu
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.ts, e.event_id,
             CAST(ROUND(e.value, 6) AS DECIMAL(18,6)) - mu.mu AS dev
      FROM events e JOIN mu ON e.event_type = mu.event_type
    ), pre AS (
      SELECT event_type, ts, event_id,
             SUM(dev) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM dev
    ), s AS (
      SELECT event_type,
             p - LEAST(MIN(p) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       CAST(0 AS DECIMAL(18,6))) AS cusum
      FROM pre
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN cusum > {_CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
           CAST(MAX(cusum) * 1000000 AS BIGINT) AS peak_cusum_micros
    FROM s GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "monitoring", "cusum", "window"),
)
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift alarm per event type, target = per-type mean.

    S_i = max(0, S_{i-1} + (x_i - mu)) via the closed form
    S_i = P_i - min(0, min_{j<=i} P_j); alarms where S_i > H.

    One (event_type) sort shared by two window passes. A per-(type, day)
    decomposition with exact-decimal day carry-ins, meant to split each
    type's single-task sort at scale, was built, lost every interleaved A/B
    to this form (sf0.1 and ~sf1, wall and executor CPU) and was removed
    (SCALE.md §Branch and memo ledger); the code is at 6ad153d.
    """
    ev = table(spark, sf_dir, "events")
    mu = ev.groupBy("event_type").agg(
        F.round(davg(F.col("value"), "mu_d"), 6).cast("decimal(18,6)").alias("mu")
    )
    h = F.lit(_CUSUM_H).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    dev = ev.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        (money(F.col("value")) - F.col("mu")).alias("dev"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dev.select("event_type", "ts", "event_id", F.sum("dev").over(w).alias("p"))
    s = pre.select(
        "event_type",
        (F.col("p") - F.least(F.min("p").over(w), zero)).alias("cusum"),
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("cusum") > h, 1).otherwise(0)).alias("n_alarms"),
            # Micro-unit BIGINT, not CAST(AS DOUBLE): the engines'
            # decimal->double conversions differ by 1 ulp on wide
            # decimals (observed 3064.89035); integer fixed-point has
            # no conversion at all.
            (F.max("cusum") * 1000000).cast("bigint").alias("peak_cusum_micros"),
        )
        .orderBy("event_type")
    )


# Benford expected shares log10(1+1/d), hardcoded in basis points so both
# engines compare against identical integer literals (no transcendentals
# in either plan).
_BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669, 7: 580, 8: 512, 9: 458}


@query(
    "dq_benford",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INTEGER) AS d
      FROM orders WHERE o_totalprice >= 1
    ), total AS (
      SELECT COUNT(*) AS n FROM digits
    ), expected(d, expected_bp) AS (
      VALUES {", ".join(f"({d}, {bp})" for d, bp in _BENFORD_BP.items())}
    )
    SELECT e.d AS leading_digit,
           CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(COALESCE(c.n_obs, 0) * 10000 // t.n AS BIGINT) AS observed_bp,
           CAST(e.expected_bp AS BIGINT) AS expected_bp,
           CAST(ABS(COALESCE(c.n_obs, 0) * 10000 // t.n - e.expected_bp) AS BIGINT) AS dev_bp
    FROM expected e
    LEFT JOIN (SELECT d, COUNT(*) AS n_obs FROM digits GROUP BY d) c ON c.d = e.d
    CROSS JOIN total t
    ORDER BY e.d
    """,
    tags=("dq", "benford", "audit"),
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals, deviation in
    integer basis points vs the hardcoded log10(1+1/d) expectation.

    Money doubles are <=2-dp rationals, so ROUND(x,2)->DECIMAL is exact in
    both engines (CLAUDE.md safe-round case); decimal->string formatting
    is canonical in both, so the leading character is engine-identical.
    """
    # Examined for a spread() + total-from-counts rewrite (r11 opt): A/B
    # NEGATIVE — the two independent digit scans already run concurrently
    # inside one job, and chaining total behind counts serializes them;
    # the spread exchange costs more than the 150k-row extraction saves.
    # Left in the original two-subtree shape.
    od = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = od.select(
        F.substring(F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)").cast("string"), 1, 1)
        .cast("int")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n_obs"))
    total = digits.agg(F.count(F.lit(1)).alias("n"))
    expected = spark.createDataFrame(
        [(d, bp) for d, bp in _BENFORD_BP.items()], "d INT, expected_bp INT"
    )
    # counts: <=9 digit rows; total: 1-row scalar — both SF-invariant.
    # (expected is a 9-row local relation, the preserved side of the left
    # join — only the right side is broadcastable there.)
    return (
        expected.join(F.broadcast(counts), "d", "left")
        .join(F.broadcast(total))
        .select(
            F.col("d").alias("leading_digit"),
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            F.expr("CAST(COALESCE(n_obs, 0) * 10000 DIV n AS BIGINT)").alias("observed_bp"),
            F.col("expected_bp").cast("bigint").alias("expected_bp"),
            F.expr("CAST(ABS(COALESCE(n_obs, 0) * 10000 DIV n - expected_bp) AS BIGINT)").alias(
                "dev_bp"
            ),
        )
        .orderBy("leading_digit")
    )


@query(
    "dq_distribution_drift",
    oracle="""
    WITH binned AS (
      SELECT user_id % 2 AS cohort,
             CAST(LEAST(GREATEST(FLOOR(value / 50), 0), 9) AS INTEGER) AS bin
      FROM events
    ), per AS (
      SELECT bin,
             SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS n_b
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM per
    )
    SELECT bin,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_a * 10000 // ta AS BIGINT) AS share_a_bp,
           CAST(n_b * 10000 // tb AS BIGINT) AS share_b_bp,
           CAST(ABS(n_a * 10000 // ta - n_b * 10000 // tb) AS BIGINT) AS drift_bp
    FROM per CROSS JOIN tot
    ORDER BY bin
    """,
    tags=("dq", "drift", "distribution"),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin distribution drift between two deterministic user cohorts
    (user_id parity), in integer basis points — the schema-stability check
    run before promoting a new ingest batch. Total-variation distance is
    SUM(drift_bp)/2 downstream.

    One map-side-combined groupBy over a 10-bin key, one 1-row totals
    broadcast: two tiny shuffles regardless of SF.
    """
    ev = table(spark, sf_dir, "events")
    binned = ev.select(
        (F.col("user_id") % 2).alias("cohort"),
        F.least(F.greatest(F.floor(F.col("value") / 50), F.lit(0)), F.lit(9))
        .cast("int")
        .alias("bin"),
    )
    per = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("n_b"),
    )
    tot = per.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    return (
        per.join(F.broadcast(tot))
        .select(
            "bin",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("CAST(n_a * 10000 DIV ta AS BIGINT)").alias("share_a_bp"),
            F.expr("CAST(n_b * 10000 DIV tb AS BIGINT)").alias("share_b_bp"),
            F.expr("CAST(ABS(n_a * 10000 DIV ta - n_b * 10000 DIV tb) AS BIGINT)").alias(
                "drift_bp"
            ),
        )
        .orderBy("bin")
    )


@query(
    "events_local_peaks",
    oracle=f"""
    WITH lagged AS (
      SELECT event_type, value,
             LAG(value)  OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev,
             LEAD(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next
      FROM events
    ), peaks AS (
      SELECT event_type, value FROM lagged
      WHERE prev IS NOT NULL AND next IS NOT NULL AND value > prev AND value > next
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_peaks,
           {davg_sql('value', 'avg_peak')},
           MAX(value) AS max_peak
    FROM peaks GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "monitoring", "peaks", "window"),
)
def events_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local maxima in each event-type series (value above both
    neighbors) — the spike-detection primitive behind alert triage.
    Exact double comparisons on identical inputs: engine-identical."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type",
        "value",
        F.lag("value").over(w).alias("prev"),
        F.lead("value").over(w).alias("next"),
    )
    peaks = lagged.filter(
        F.col("prev").isNotNull()
        & F.col("next").isNotNull()
        & (F.col("value") > F.col("prev"))
        & (F.col("value") > F.col("next"))
    )
    return (
        peaks.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_peaks"),
            davg(F.col("value"), "avg_peak"),
            F.max("value").alias("max_peak"),
        )
        .orderBy("event_type")
    )


@query(
    "events_hourly_seasonality",
    oracle=f"""
    WITH h AS (
      SELECT EXTRACT(HOUR FROM ts) AS hour_of_day, value FROM events
    ), tot AS (
      SELECT COUNT(*) AS n FROM h
    )
    SELECT CAST(hour_of_day AS BIGINT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) * 10000 // t.n AS BIGINT) AS share_bp,
           {dsum_sql('value', 'hour_value')}
    FROM h CROSS JOIN tot t
    GROUP BY hour_of_day, t.n ORDER BY hour_of_day
    """,
    tags=("events", "seasonality", "rollup"),
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load profile: event share in basis points + value mass
    per hour. ts is UTC-pinned by the catalog reader, so EXTRACT(HOUR)
    agrees with DuckDB's naive timestamps."""
    ev = table(spark, sf_dir, "events")
    h = ev.select(F.hour("ts").alias("hour_of_day"), "value")
    tot = h.agg(F.count(F.lit(1)).alias("n"))
    return (
        h.join(F.broadcast(tot))
        .groupBy("hour_of_day", "n")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "hour_value"),
        )
        .select(
            F.col("hour_of_day").cast("bigint").alias("hour_of_day"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.expr("CAST(n_events * 10000 DIV n AS BIGINT)").alias("share_bp"),
            "hour_value",
        )
        .orderBy("hour_of_day")
    )


# ---------------------------------------------------------------------------
# Time-series statistics over CALENDAR-BOUNDED daily rollups: the raw feed
# collapses to (event_type, day, exact decimal sum) first — a few hundred
# rows per type at ANY scale factor — so the quadratic Mann-Kendall pair
# count and the per-day lag comparisons are SF-invariant; only the initial
# rollup scales with data volume (one map-side-combined shuffle).
# ---------------------------------------------------------------------------
@query(
    "events_trend_mannkendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), pairs AS (
      SELECT a.event_type,
             CASE WHEN b.s > a.s THEN 1 WHEN b.s < a.s THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
    ), agg AS (
      SELECT p.event_type,
             (SELECT COUNT(*) FROM daily d WHERE d.event_type = p.event_type) AS n_days,
             SUM(sgn) AS s_stat
      FROM pairs p GROUP BY p.event_type
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(CASE WHEN s_stat >= 0 THEN 1 ELSE -1 END
                * ((1000000 * ABS(s_stat)) // ((n_days * (n_days - 1)) // 2))
                AS BIGINT) AS tau_ppm
    FROM agg ORDER BY event_type
    """,
    tags=("events", "trend", "statistics"),
)
def events_trend_mannkendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over exact daily sums:
    S = sum of sign(x_j - x_i) over day pairs i<j, Kendall tau in ppm
    fixed point (sign-split floor division — positive operands only, so
    Spark DIV and DuckDB // agree)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(money(F.col("value"))).alias("s")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b, (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.d") < F.col("b.d"))
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.s") > F.col("a.s"), 1)
        .when(F.col("b.s") < F.col("a.s"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    n_days = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    s = pairs.groupBy("event_type").agg(F.sum("sgn").alias("s_stat"))
    # 5-row per-type frames: the join is trivially broadcast at any SF.
    return (
        s.join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("s_stat").cast("bigint").alias("s_stat"),
            F.expr(
                "CAST((CASE WHEN s_stat >= 0 THEN 1 ELSE -1 END)"
                " * ((1000000 * ABS(s_stat)) DIV ((n_days * (n_days - 1)) DIV 2)) AS BIGINT)"
            ).alias("tau_ppm"),
        )
        .orderBy("event_type")
    )


@query(
    "events_changepoint",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS i,
             CAST(CAST(ROUND(value, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micro
      FROM events
    ), pre AS (
      SELECT event_type, i,
             SUM(micro) OVER (PARTITION BY event_type ORDER BY i
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(micro) OVER (PARTITION BY event_type) AS t
      FROM seq
    ), dev AS (
      SELECT event_type, i, n, ABS(n * p - i * t) AS d FROM pre
    ), ranked AS (
      SELECT event_type, i, n, d,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d DESC, i) AS rn
      FROM dev
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           CAST(i AS BIGINT) AS split_index,
           CAST(d AS BIGINT) AS max_dev
    FROM ranked WHERE rn = 1 ORDER BY event_type
    """,
    tags=("events", "changepoint", "statistics"),
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point locator per event type: the position maximizing
    |n*P_i - i*P_n| (the integer form of the max-CUSUM-deviation split —
    zero-mean-shift series score near 0, a level shift scores at the
    shift). All BIGINT micro-units; the signed combination n*P_i - i*P_n
    stays < 2^63 through ~sf0.5 — beyond that, drop the micro scale to
    1e3 (same argmax, coarser tie landscape). GUARDED: an in-plan
    assert_true raises past the bound instead of letting Spark wrap
    silently (ANSI off) while DuckDB errors."""
    ev = table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("event_type")
    seq = ev.select(
        "event_type",
        F.row_number().over(w_ord).alias("i"),
        (F.round("value", 6).cast("decimal(18,6)") * 1_000_000).cast("long").alias("micro"),
    )
    pre = seq.select(
        "event_type",
        "i",
        F.sum("micro").over(Window.partitionBy("event_type").orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("p"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("micro").over(w_all).alias("t"),
    )
    # Overflow GUARD (ADVICE r5, tightened r7): with ANSI off Spark wraps
    # a BIGINT product silently (wrong argmax) while DuckDB raises — make
    # the Spark side raise too. assert_true is wired INTO the d expression
    # (when(assert.isNull, ...)) so column pruning can't drop the check.
    # The bound is `greatest(|p|,|t|) <= (2^63-1) DIV (2*n)`: the guarded
    # quantity is the SIGNED combination d = n*p - i*t, which with
    # opposite-sign p and t reaches |n*p| + |i*t| ≤ 2n·max(|p|,|t|) —
    # bounding each factor by (2^63-1) DIV n (the r5 form) kept each
    # product in range but let the subtraction wrap (ADVICE r6). The 2n
    # denominator covers the combination end-to-end, conservative by ≤1
    # unit. Past ~sf0.5, drop the micro scale to 1e3 (docstring) and the
    # guard re-arms.
    _i64 = (1 << 63) - 1
    guard = F.assert_true(
        F.greatest(F.abs(F.col("p")), F.abs(F.col("t")))
        <= F.expr(f"CAST({_i64} AS BIGINT) DIV (2 * n)"),
        F.lit("events_changepoint: n*P exceeds int64 — lower the micro scale (monitoring.py)"),
    )
    dev = pre.select(
        "event_type",
        "i",
        "n",
        F.when(
            guard.isNull(), F.abs(F.col("n") * F.col("p") - F.col("i") * F.col("t"))
        ).alias("d"),
    )
    ranked = dev.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy(F.col("d").desc(), "i"))
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("i").cast("bigint").alias("split_index"),
            F.col("d").cast("bigint").alias("max_dev"),
        )
        .orderBy("event_type")
    )


@query(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), scored AS (
      SELECT event_type,
             CAST(ABS(s - LAG(s) OVER (PARTITION BY event_type ORDER BY d)) * 1000000 AS BIGINT) AS abs_err_micro
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(abs_err_micro) AS BIGINT) AS n_days_scored,
           CAST(SUM(abs_err_micro) AS BIGINT) AS total_abs_err_micros,
           CAST(SUM(abs_err_micro) // COUNT(abs_err_micro) AS BIGINT) AS mae_micros
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "forecast", "backtest"),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence-forecast (naive lag-1) backtest per event type over
    exact daily sums: MAE in BIGINT micro-units — the cheapest honest
    baseline any forecasting pipeline must beat before it ships."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(money(F.col("value"))).alias("s")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    scored = daily.select(
        "event_type",
        (F.abs(F.col("s") - F.lag("s").over(w)) * 1_000_000).cast("long").alias("abs_err_micro"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("abs_err_micro").alias("n_days_scored"),
            F.sum("abs_err_micro").alias("total_abs_err_micros"),
        )
        .select(
            "event_type",
            F.col("n_days_scored").cast("bigint").alias("n_days_scored"),
            F.col("total_abs_err_micros").cast("bigint").alias("total_abs_err_micros"),
            F.expr("CAST(total_abs_err_micros DIV n_days_scored AS BIGINT)").alias("mae_micros"),
        )
        .orderBy("event_type")
    )


@query(
    "events_rolling_zscore",
    oracle="""
    WITH seq AS (
      SELECT event_type, ts, event_id,
             CAST(CAST(ROUND(value, 3) AS DECIMAL(18,3)) * 1000 AS BIGINT) AS x
      FROM events
    ), win AS (
      SELECT event_type, x,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w AS s,
             SUM(x * x) OVER w AS q
      FROM seq
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN (n * x - s) * (n * x - s) > 9 * (n * q - s * s)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
    FROM win GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "monitoring", "zscore", "window"),
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling |z| > 3 alarm over a 21-event window per type, with ZERO
    float math: z^2 > 9 rewrites to (n*x - S)^2 > 9*(n*Q - S^2) over
    BIGINT milli-unit sums (S = sum x, Q = sum x^2) — no sqrt, no
    division, no engine drift. Milli (not micro) units keep n*Q < 2^63
    with huge margin. One window sort shared by all three frame
    aggregates; a var==0 frame can never alarm (0 > 0 is false)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, Window.currentRow)
    )
    seq = ev.select(
        "event_type",
        "ts",
        "event_id",
        (F.round("value", 3).cast("decimal(18,3)") * 1000).cast("long").alias("x"),
    )
    win = seq.select(
        "event_type",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("q"),
    )
    alarm = (F.col("n") * F.col("x") - F.col("s")) * (
        F.col("n") * F.col("x") - F.col("s")
    ) > 9 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    return (
        win.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(alarm, 1).otherwise(0)).alias("n_alarms"),
        )
        .select(
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_alarms").cast("bigint").alias("n_alarms"),
        )
        .orderBy("event_type")
    )

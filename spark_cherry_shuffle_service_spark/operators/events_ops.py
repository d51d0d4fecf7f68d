"""Event-stream batch operators over the `events` fixture.

The reference exercises no streaming (SURVEY.md §2.10) — these extend the
surface per the north star: time-bucketed aggregation, JSON extraction, and
sessionization. Each has a batch form here (oracle-checkable); the true
Structured Streaming forms (watermark + window, applyInPandasWithState)
live in streaming/ and are covered by pytest.

Scale: tumbling-window aggs partition by (bucket, type) — fully parallel;
sessionization shuffles once on user_id and sorts within user, which is the
same plan `session_window` would produce on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.functions.aggregates import davg, dsum
from spark_cherry_shuffle_service_spark.plans.oracle import davg_sql, dsum_sql
from spark_cherry_shuffle_service_spark.plans.registry import query
from spark_cherry_shuffle_service_spark.sources.catalog import pin, table


# ---------------------------------------------------------------------------
# Tumbling 1-hour window aggregation (batch twin of streaming window agg).
# ---------------------------------------------------------------------------
@query(
    "events_window_agg",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value', 'total_value')}
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("events", "window_time"),
)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction from the props column — get_json_object / json_extract.
# ---------------------------------------------------------------------------
@query(
    "events_json",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
    """,
    tags=("events", "json"),
)
def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Sessionization (30-min inactivity gap): gaps-and-islands — the batch twin
# of streaming session windows. Oracle uses lag + cumulative flag sum.
# The gap test is integer-MICROSECOND exact on both engines: comparing
# second-truncated casts against an INTERVAL is NOT equivalent once
# timestamps carry sub-second parts — a 1800.4 s gap truncates to 1800 and
# merges a session the interval test splits (found by the full-registry
# ~sf1 differential; invisible at sf0.1 density).
# ---------------------------------------------------------------------------
@query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       > 1800000000 OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           COUNT(DISTINCT session_id) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(sess_seconds) AS BIGINT) AS total_session_seconds
    FROM (
      SELECT user_id, session_id,
             date_diff('second', MIN(ts), MAX(ts)) AS sess_seconds,
             COUNT(*) AS n
      FROM sessions GROUP BY user_id, session_id
    ) s
    GROUP BY user_id
    """,
    tags=("events", "session", "window"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias("sess_seconds"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_session.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.sum("n").alias("n_events"),
        F.sum("sess_seconds").alias("total_session_seconds"),
    )


# ---------------------------------------------------------------------------
# AS-OF join — an operator Spark lacks as a primitive (SURVEY.md §2.3 "not
# present" list; DuckDB has native ASOF JOIN, used as the oracle). Spark-
# first composition: tag both sides, union, one window pass per user carries
# the latest click forward — ONE shuffle on user_id, no range-join explosion.
# For each purchase: the most recent click by the same user at or before it.
# At 100 TB this beats an inequality join (which Spark plans as BNLJ or a
# sort-merge + filter over a huge range) because the union+window is linear
# in events per user.
# ---------------------------------------------------------------------------
@query(
    "events_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
           c.click_id, c.ts AS click_ts,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("events", "asof", "composition"),
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    # kind 0 = click, 1 = purchase → at equal ts the click sorts first, so
    # `p.ts >= c.ts` (inclusive as-of) matches the oracle exactly.
    tagged = clicks.select(
        "user_id", "ts", "click_id", F.lit(None).cast("long").alias("purchase_id"), F.lit(0).alias("kind")
    ).unionByName(
        purchases.select(
            "user_id", "ts", F.lit(None).cast("long").alias("click_id"), "purchase_id", F.lit(1).alias("kind")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "user_id",
        "ts",
        "purchase_id",
        "kind",
        F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w).alias("click_ts"),
    )
    return carried.filter(F.col("kind") == 1).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "click_id",
        "click_ts",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Hypertable-style multi-resolution rollup: hour + day + grand-total
# aggregates of the event stream in ONE pass (GROUPING SETS → single Expand
# + single shuffle), instead of one job per resolution. The timeseries-DB
# "continuous aggregate" ladder, Spark-first. agg_level disambiguates rows:
# 0 = hourly, 1 = daily, 3 = grand total.
# ---------------------------------------------------------------------------
@query(
    "events_multi_rollup",
    oracle=f"""
    SELECT day, hour,
           GROUPING(day) * 2 + GROUPING(hour) AS agg_level,
           COUNT(*) AS n_events, {dsum_sql('value', 'total_value')}
    FROM (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             value
      FROM events
    )
    GROUP BY GROUPING SETS ((day, hour), (day), ())
    """,
    tags=("events", "rollup", "grouping_sets", "hypertable"),
)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value",
    )
    return (
        ev.groupingSets([["day", "hour"], ["day"], []], "day", "hour")
        .agg(
            (F.grouping("day") * 2 + F.grouping("hour")).alias("agg_level"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
        .select("day", "hour", "agg_level", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# Conversion funnel: view → click → purchase, strictly ordered per user
# (each stage's first occurrence must follow the previous stage's). One
# groupBy(user) pass with conditional min-timestamps — no joins, no
# sequential scans; the standard funnel formulation at any scale.
# ---------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
    FROM stages
    """,
    tags=("events", "funnel", "analytics"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    stage = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    stages = ev.groupBy("user_id").agg(
        stage("view").alias("t_view"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    v = F.col("t_view").isNotNull()
    vc = v & (F.col("t_click") > F.col("t_view"))
    vcp = vc & (F.col("t_purchase") > F.col("t_click"))
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        one(v).alias("reached_view"),
        one(vc).alias("reached_click"),
        one(vcp).alias("reached_purchase"),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users bucketed by first-seen week; for each cohort, how
# many are active k weeks later. Two aggregations (first-seen, then
# cohort×offset distinct users) — the shuffle is on user_id then on
# (cohort, offset); both map-side combined.
# ---------------------------------------------------------------------------
@query(
    "events_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS BIGINT) AS week_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week, week_offset,
           COUNT(*) AS n_active
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
    tags=("events", "retention", "cohort", "analytics"),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.to_date("wk"), F.to_date("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


# ---------------------------------------------------------------------------
# Sliding windows: 2-hour windows every 1 hour — each event lands in TWO
# overlapping windows (vs the tumbling form above). Spark's window()
# generates the memberships; the oracle unnests the same two starts.
# ---------------------------------------------------------------------------
@query(
    "events_sliding_window",
    oracle="""
    SELECT ws AS window_start, event_type, COUNT(*) AS n_events
    FROM (
      SELECT event_type,
             unnest([CAST(date_trunc('hour', ts) AS TIMESTAMP),
                     CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR]) AS ws
      FROM events
    )
    GROUP BY ws, event_type
    """,
    tags=("events", "sliding_window"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


# ---------------------------------------------------------------------------
# MapType surface: props parsed into map<string,bigint> (from_json), then
# element_at + map_keys — the map-column plumbing §1.2 notes the reference
# never touches. Oracle via DuckDB's JSON functions on the same strings.
# ---------------------------------------------------------------------------
@query(
    "events_map_type",
    oracle="""
    SELECT event_type,
           array_to_string(json_keys(props), ',') AS key_set,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type, array_to_string(json_keys(props), ',')
    """,
    tags=("events", "map_type", "json"),
)
def events_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        ev.select(
            "event_type",
            F.array_join(F.array_sort(F.map_keys(m)), ",").alias("key_set"),
            F.element_at(m, "k").alias("k"),
        )
        .groupBy("event_type", "key_set")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


# ---------------------------------------------------------------------------
# Semi-structured VARIANT path (Spark 4): parse the JSON props column into
# VARIANT once and extract typed fields — the modern engine's answer to
# repeated get_json_object string parsing (events_json), and the schema-
# flexible column type a training-data pipeline uses for heterogeneous
# per-record metadata. Oracle extracts the same field with DuckDB's JSON
# functions; aggregates use the exact-integer path (k is an int field).
# ---------------------------------------------------------------------------
@query(
    "events_variant",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
           COUNT(DISTINCT CAST(json_extract(props, '$.k') AS INT)) AS n_distinct_k
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "variant", "json"),
)
def events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


# ---------------------------------------------------------------------------
# Event transition matrix: per-user event-type bigrams via lag over the
# (ts, event_id) order — sequence mining's first step (what follows what),
# with transition probabilities per source type. The window partitions by
# user (bounded per-user history); the matrix itself is |types|² rows.
# ---------------------------------------------------------------------------
@query(
    "events_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p_next
    FROM pairs
    ORDER BY prev_type, next_type
    """,
    tags=("events", "window", "sequence"),
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_src = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_src).cast("double"), 6).alias("p_next"),
    ).orderBy("prev_type", "next_type")


# ---------------------------------------------------------------------------
# Range (interval) join — the second temporal-join shape next to as-of:
# every event of a user falling inside the 2-hour window opened by each of
# that user's purchases. A naive inequality join plans as BNLJ/sort-merge +
# filter over the full per-user cross product; the scale-safe form BINS
# time into fixed-width buckets, EXPLODES each interval into the buckets it
# covers (bounded: interval_len/bin_width + 1 rows), equi-joins on
# (user_id, bin) — each event lives in exactly one bin, so no pair dedup
# is needed — and applies the exact range predicate on the collisions.
# This is the standard bucketed interval join (Databricks' range-join
# optimization does the same binning internally). The oracle keeps the
# declarative theta-join form, proving the bucketed plan returns the exact
# answer.
# ---------------------------------------------------------------------------
_RANGE_HOURS = 2
_RANGE_BIN_S = 3600


@query(
    "events_range_join",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id AS interval_id, user_id, ts AS start_ts,
             ts + INTERVAL {_RANGE_HOURS} HOUR AS end_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.interval_id, p.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {dsum_sql('e.value', 'total_value')}
    FROM purchases p
    JOIN events e
      ON e.user_id = p.user_id AND e.ts >= p.start_ts AND e.ts < p.end_ts
    GROUP BY p.interval_id, p.user_id
    """,
    tags=("events", "range-join", "temporal", "scale"),
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ev_binned = ev.select(
        "user_id", "ts", "value", (F.col("ts").cast("long") / _RANGE_BIN_S).cast("long").alias("bin")
    )
    start_sec = F.col("start_ts").cast("long")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("interval_id"),
            "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr(f"INTERVAL {_RANGE_HOURS} HOURS")).alias("end_ts"),
        )
        # one row per covered bin; +1 bin at the end covers the boundary —
        # the exact predicate below discards any overshoot
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    (start_sec / _RANGE_BIN_S).cast("long"),
                    ((start_sec + _RANGE_HOURS * 3600) / _RANGE_BIN_S).cast("long"),
                )
            ),
        )
    )
    joined = purchases.join(ev_binned, ["user_id", "bin"]).filter(
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
    )
    return joined.groupBy("interval_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "total_value")
    )


# ---------------------------------------------------------------------------
# Fixed-bin value histogram per event type: bin = LEAST(FLOOR(value/50), 9)
# over [0, 500). The binning is the identical double expression on both
# engines (no width_bucket dialect drift), so bin ids agree exactly.
# Scale: one map-side-combined shuffle on (type, bin) — histogram state is
# nbins·ntypes rows at any event volume; the standard profiling pass
# before outlier filtering.
# ---------------------------------------------------------------------------
@query(
    "events_value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(LEAST(FLOOR(value / 50.0), 9) AS BIGINT) AS bin,
           COUNT(*) AS n,
           {dsum_sql('value', 'bin_value')}
    FROM events
    GROUP BY event_type, LEAST(FLOOR(value / 50.0), 9)
    """,
    tags=("events", "histogram", "profile"),
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bin_col = F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("long")
    return (
        ev.groupBy("event_type", bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "bin_value"))
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: per-user consecutive-active-day streaks via the
# classic date-minus-row_number island key. Two shuffles total: distinct
# (user, day), then everything else stays inside one user-partitioned
# window + per-user agg — the same plan at any user count.
# ---------------------------------------------------------------------------
@query(
    "events_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
    ), islands AS (
      SELECT user_id, day,
             date_diff('day', DATE '2024-01-01', day)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM days
    ), streaks AS (
      SELECT user_id, grp, COUNT(*) AS len
      FROM islands GROUP BY user_id, grp
    )
    SELECT user_id,
           COUNT(*) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM streaks
    GROUP BY user_id
    """,
    tags=("events", "window", "islands"),
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        (F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) - F.row_number().over(w)).alias("grp"),
    )
    streaks = islands.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").cast("long").alias("longest"),
        F.sum("len").cast("long").alias("active_days"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection: per-type median + MAD (median absolute
# deviation), flag values beyond 6·MAD — the outlier filter that survives
# heavy-tailed value distributions where mean/stddev break. Exact medians
# here pin the semantics (interpolation parity with DuckDB quantile_cont is
# verified by agg_percentiles); at 100 TB both medians become
# approx_percentile sketches over the same two-pass shape: tiny per-type
# stats tables (ntypes rows, AQE-broadcast) joined back to the stream.
# ---------------------------------------------------------------------------
@query(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n,
           ROUND(MIN(d.med), 6) AS med,
           ROUND(MIN(a.mad), 6) AS mad,
           CAST(SUM(CASE WHEN abs(d.value - d.med) > 6 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
    tags=("events", "anomaly", "robust-stats", "exact-unbounded"),
    scale_twin="agg_percentiles_tdigest",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(med, "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 6 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC candles: per (event_type, hour) bar with open/close picked by min_by/
# max_by on the unique event_id (deterministic at any parallelism — ts alone
# can collide), high/low from plain MIN/MAX, and an order-independent VWAP-
# style mean. One shuffle on (event_type, hour); output is bounded by
# types x hours (the fixture's 30-day window), independent of SF — the
# classic time-series downsample that runs map-side-combined at 100 TB.
# Reference parity: exercises arg-min/arg-max aggregate semantics the
# reference reaches through first/last over sorted shuffles.
# ---------------------------------------------------------------------------
@query(
    "events_ohlc",
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts) AS bar_hour,
           arg_min(value, event_id) AS open,
           arg_max(value, event_id) AS close,
           MAX(value) AS high,
           MIN(value) AS low,
           COUNT(*) AS volume,
           {davg}
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """.format(davg=davg_sql("value", "mean_value")),
    tags=("events", "timeseries", "min_by", "analytics"),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bar_hour")
    ).agg(
        F.min_by("value", "event_id").alias("open"),
        F.max_by("value", "event_id").alias("close"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.count(F.lit(1)).alias("volume"),
        davg(F.col("value"), "mean_value"),
    )


# ---------------------------------------------------------------------------
# Per-user behavior sequences — the training-data featurization that turns
# an event log into fixed-length model inputs (think "user2vec" / session
# transformers): each user's event types ordered by time, truncated to the
# first 16, emitted as one delimited string. Deterministic at any
# parallelism: collect_list order is pinned by array_sort over
# (ts, event_id) structs (event_id is the unique tiebreak), never by
# arrival. One shuffle on user_id; per-user state is that user's events
# (at 100 TB you'd pre-filter to a time window first — the sequence cap
# only bounds the OUTPUT, the sort state is bounded by events-per-user).
# ---------------------------------------------------------------------------
@query(
    "events_user_sequences",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           array_to_string(
             list_slice(list(event_type ORDER BY ts, event_id), 1, 16), '>'
           ) AS seq16
    FROM events
    GROUP BY user_id
    """,
    tags=("events", "sequence", "featurization", "collect_list"),
)
def events_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.slice(F.transform(ordered, lambda x: x["event_type"]), 1, 16), ">"
        ).alias("seq16"),
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix — first-order Markov counts over each
# user's event sequence (lead window pinned by (ts, event_id)), rolled up
# to global (src → dst) counts and within-src probabilities. The
# sequence-mining summary behind next-event prediction features. One
# user_id shuffle for the lead window, one bounded (types×types) rollup;
# the probability is a ratio of exact integer counts — deterministic.
# ---------------------------------------------------------------------------
@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events
    )
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (PARTITION BY src), 6) AS p
    FROM seq WHERE dst IS NOT NULL
    GROUP BY src, dst
    """,
    tags=("events", "markov", "sequence", "analytics"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    w_src = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_src), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Freshness audit — per-type data staleness vs the newest event in the
# feed: the first SLO a streaming ingest dashboard shows. Global max is a
# 1-row scalar aggregate (broadcast per policy); staleness in exact
# integer microseconds (unix_micros / epoch_us agree).
# ---------------------------------------------------------------------------
@query(
    "dq_freshness",
    oracle="""
    SELECT event_type,
           MAX(ts) AS latest_ts,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us((SELECT MAX(ts) FROM events)) - epoch_us(MAX(ts)) AS BIGINT)
             AS staleness_us
    FROM events GROUP BY event_type
    """,
    tags=("events", "dq", "freshness"),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("global_max"))
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"), F.count(F.lit(1)).alias("n_events")
    )
    return per_type.join(F.broadcast(g)).select(
        "event_type",
        "latest_ts",
        "n_events",
        (F.unix_micros("global_max") - F.unix_micros("latest_ts")).alias("staleness_us"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct active users (the DAU/WAU board metric).
# COUNT(DISTINCT) is not window-able in either engine, so the sliding
# distinct is computed by the standard bounded fan-out: each (day, user)
# contributes to the 7 target days it's visible in (explode k=0..6),
# then one exact distinct count per target day. Fan-out is exactly 7×
# the DISTINCT (day, user) table — already collapsed far below the raw
# event count — so at 100 TB this is 7 × |daily actives| rows into a
# hash aggregate, not 7 × events.
#
# The observed-days join keeps only real days (no phantom targets past
# the range); the day spine is calendar-bounded, never SF-bounded, so
# broadcasting it is policy-compliant (same precedent: daily_gapfill).
# ---------------------------------------------------------------------------
@query(
    "events_rolling_dau",
    oracle="""
    WITH ev AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
      SELECT DISTINCT d FROM ev
    ), contrib AS (
      SELECT e.d + t.k AS day, e.user_id
      FROM ev e CROSS JOIN unnest([0, 1, 2, 3, 4, 5, 6]) AS t(k)
    ), dau7 AS (
      SELECT c.day, COUNT(DISTINCT c.user_id) AS dau_7d
      FROM contrib c JOIN days ON days.d = c.day
      GROUP BY c.day
    ), dau1 AS (
      SELECT d AS day, COUNT(DISTINCT user_id) AS dau_1d FROM ev GROUP BY d
    )
    SELECT dau1.day,
           CAST(dau_1d AS BIGINT) AS dau_1d,
           CAST(dau_7d AS BIGINT) AS dau_7d
    FROM dau1 JOIN dau7 ON dau1.day = dau7.day
    ORDER BY dau1.day
    """,
    tags=("events", "timeseries", "sliding_distinct"),
)
def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .transform(pin)  # feeds the day spine, the fan-out, and dau1
    )
    days = ev.select("d").distinct()
    contrib = ev.select(
        "d", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k")
    ).select(F.date_add("d", F.col("k")).alias("day"), "user_id")
    dau7 = (
        contrib.join(F.broadcast(days.withColumnRenamed("d", "day")), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("dau_7d"))
    )
    dau1 = ev.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").cast("long").alias("dau_1d")
    )
    return dau1.join(dau7, "day").select("day", "dau_1d", "dau_7d").orderBy("day")


# ---------------------------------------------------------------------------
# Before/after pivot analysis (the A/B-less "impact of first purchase").
#
# Pivot = each user's FIRST purchase timestamp; metrics split the user's
# whole event stream at that instant (before: ts < pivot, after:
# ts >= pivot — the purchase itself counts as "after", deterministic).
# Two shuffles on user_id (pivot agg + join-back conditional agg); the
# pivot frame is SF-bound so it is NOT broadcast-hinted (CLAUDE.md
# policy) — AQE broadcasts it at fixture sizes on its own. Money sums
# via the exact dsum path.
# ---------------------------------------------------------------------------
@query(
    "events_before_after",
    oracle=f"""
    WITH pivots AS (
      SELECT user_id, MIN(ts) AS pivot
      FROM events WHERE event_type = 'purchase' AND user_id < 500
      GROUP BY user_id
    )
    SELECT e.user_id,
           CAST(COUNT(CASE WHEN e.ts < p.pivot THEN 1 END) AS BIGINT) AS n_before,
           CAST(COUNT(CASE WHEN e.ts >= p.pivot THEN 1 END) AS BIGINT) AS n_after,
           {dsum_sql("CASE WHEN e.ts < p.pivot THEN e.value ELSE 0 END", "val_before")},
           {dsum_sql("CASE WHEN e.ts >= p.pivot THEN e.value ELSE 0 END", "val_after")}
    FROM events e JOIN pivots p ON e.user_id = p.user_id
    GROUP BY e.user_id
    ORDER BY e.user_id
    """,
    tags=("events", "behavioral", "conditional_agg"),
)
def events_before_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pivots = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 500))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pivot"))
    )
    joined = ev.join(pivots, "user_id")
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.when(F.col("ts") < F.col("pivot"), 1)).alias("n_before"),
            F.count(F.when(F.col("ts") >= F.col("pivot"), 1)).alias("n_after"),
            dsum(F.when(F.col("ts") < F.col("pivot"), F.col("value")).otherwise(0.0), "val_before"),
            dsum(F.when(F.col("ts") >= F.col("pivot"), F.col("value")).otherwise(0.0), "val_after"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per user-day — the market-data aggregate
# where each observation is weighted by how long it was "in effect"
# (until the next event). All fixed-point BIGINT: value in micro-units
# (2-dp money → exact), holding time in whole seconds via floor-divided
# epoch-micro deltas (identical floor semantics both engines — NOT
# date_diff, whose boundary-crossing count differs from a true delta).
# The last event of a day has zero holding time and drops out, matching
# the standard TWAP convention. One window + one groupBy, both keyed by
# (user, day) — bounded state, no global sort, scale-linear.
# ---------------------------------------------------------------------------
@query(
    "events_twap",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_micro,
             (epoch_us(LEAD(ts) OVER (
                PARTITION BY user_id, CAST(ts AS DATE)
                ORDER BY ts, event_id) ) - epoch_us(ts)) // 1000000 AS dt_sec
      FROM events WHERE user_id < 300
    )
    SELECT user_id, d,
           CAST(COUNT(*) AS BIGINT) AS n_holds,
           CAST(SUM(v_micro * dt_sec) AS BIGINT) AS num_micro_sec,
           CAST(SUM(dt_sec) AS BIGINT) AS den_sec,
           CAST(SUM(v_micro * dt_sec) // NULLIF(SUM(dt_sec), 0) AS BIGINT)
             AS twap_micro
    FROM seq WHERE dt_sec IS NOT NULL
    GROUP BY user_id, d
    ORDER BY user_id, d
    """,
    tags=("events", "timeseries", "fixed_point", "window"),
)
def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 1000000).cast("long").alias("v_micro"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dt_us"),
    ).select("user_id", "d", "v_micro", F.expr("dt_us div 1000000").alias("dt_sec"))
    return (
        seq.filter(F.col("dt_sec").isNotNull())
        .groupBy("user_id", "d")
        .agg(
            F.count("*").alias("n_holds"),
            F.sum(F.col("v_micro") * F.col("dt_sec")).cast("long").alias("num_micro_sec"),
            F.sum("dt_sec").cast("long").alias("den_sec"),
        )
        .select(
            "user_id",
            "d",
            "n_holds",
            "num_micro_sec",
            "den_sec",
            F.expr("num_micro_sec div nullif(den_sec, 0)").alias("twap_micro"),
        )
        .orderBy("user_id", "d")
    )


# ---------------------------------------------------------------------------
# Top behavioral paths: the 15 most-traveled 3-step event-type sequences
# across user journeys (lead/lead2 over each user's ordered stream, then
# one count). The per-user window partitions on user_id (bounded rows per
# key), the path space is |types|^3 = 125 keys — aggregation state is
# vocabulary-sized at any SF. LIMIT carries the path string itself as the
# unique tiebreak (CLAUDE.md determinism rule).
# ---------------------------------------------------------------------------
@query(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1,
             LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2
      FROM events
    ), paths AS (
      SELECT event_type || '>' || t1 || '>' || t2 AS path
      FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_journeys
    FROM paths GROUP BY path
    ORDER BY n_journeys DESC, path
    LIMIT 15
    """,
    tags=("events", "paths", "behavioral", "window"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    paths = seq.filter(F.col("t1").isNotNull() & F.col("t2").isNotNull()).select(
        F.concat_ws(">", "event_type", "t1", "t2").alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), "path")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Stickiness (avg-DAU / MAU per calendar month, in basis points): the
# product-analytics board metric. The feed collapses to DISTINCT
# (day, user) first — everything after runs on daily-active grain, one
# map-side-combined month rollup. Month key is the integer y*100+m (NOT
# date_trunc: DuckDB returns DATE where Spark returns TIMESTAMP —
# CLAUDE.md gotcha). All-integer output: no float ratio crosses engines.
# ---------------------------------------------------------------------------
@query(
    "events_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), monthly AS (
      SELECT EXTRACT(YEAR FROM d) * 100 + EXTRACT(MONTH FROM d) AS ym,
             COUNT(*) AS sum_dau,
             COUNT(DISTINCT d) AS n_days,
             COUNT(DISTINCT user_id) AS mau
      FROM du GROUP BY 1
    )
    SELECT CAST(ym AS BIGINT) AS ym,
           CAST(sum_dau AS BIGINT) AS sum_dau,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(mau AS BIGINT) AS mau,
           CAST(sum_dau * 10000 // (n_days * mau) AS BIGINT) AS stickiness_bp
    FROM monthly ORDER BY ym
    """,
    tags=("events", "stickiness", "product-analytics"),
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    monthly = du.groupBy(
        (F.year("d") * 100 + F.month("d")).alias("ym")
    ).agg(
        F.count(F.lit(1)).alias("sum_dau"),
        F.countDistinct("d").alias("n_days"),
        F.countDistinct("user_id").alias("mau"),
    )
    return monthly.select(
        F.col("ym").cast("bigint").alias("ym"),
        F.col("sum_dau").cast("bigint").alias("sum_dau"),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("mau").cast("bigint").alias("mau"),
        F.expr("CAST(sum_dau * 10000 DIV (n_days * mau) AS BIGINT)").alias("stickiness_bp"),
    ).orderBy("ym")


# ---------------------------------------------------------------------------
# Burst detection: a user's peak events-per-minute, rolled up per event
# type — the rate-limit/bot screen. The feed collapses to
# (user, type, minute) counts first (one map-side-combined shuffle);
# the per-user max is a bounded second rollup. All integer.
# ---------------------------------------------------------------------------
@query(
    "events_burst_users",
    oracle="""
    WITH per_min AS (
      SELECT user_id, event_type,
             date_trunc('minute', ts) AS m,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    ), peaks AS (
      SELECT user_id, event_type, MAX(n) AS peak_per_min
      FROM per_min GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN peak_per_min >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_users,
           CAST(MAX(peak_per_min) AS BIGINT) AS max_burst
    FROM peaks GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "burst", "abuse"),
)
def events_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).alias("n"))
    peaks = per_min.groupBy("user_id", "event_type").agg(F.max("n").alias("peak_per_min"))
    return (
        peaks.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.when(F.col("peak_per_min") >= 3, 1).otherwise(0)).alias("n_burst_users"),
            F.max("peak_per_min").alias("max_burst"),
        )
        .select(
            "event_type",
            F.col("n_users").cast("bigint").alias("n_users"),
            F.col("n_burst_users").cast("bigint").alias("n_burst_users"),
            F.col("max_burst").cast("bigint").alias("max_burst"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Day-of-week × hour load heatmap: the 2-D grain of the seasonality
# profile (168 cells — aggregation state is calendar-sized at any SF).
# Weekday alignment: Spark weekday() is 0=Monday, DuckDB isodow is
# 1=Monday — weekday()+1 ≙ isodow, avoiding the dayofweek/DOW
# Sunday-origin mismatch entirely.
# ---------------------------------------------------------------------------
@query(
    "events_dow_hour_heatmap",
    oracle="""
    WITH g AS (
      SELECT EXTRACT(ISODOW FROM ts) AS dow, EXTRACT(HOUR FROM ts) AS hod FROM events
    ), tot AS (
      SELECT COUNT(*) AS n FROM g
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(hod AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) * 10000 // t.n AS BIGINT) AS share_bp
    FROM g CROSS JOIN tot t
    GROUP BY dow, hod, t.n ORDER BY dow, hod
    """,
    tags=("events", "seasonality", "heatmap"),
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    g = ev.select(
        (F.weekday("ts") + 1).alias("dow"), F.hour("ts").alias("hod")
    )
    tot = g.agg(F.count(F.lit(1)).alias("n"))
    return (
        g.join(F.broadcast(tot))
        .groupBy("dow", "hod", "n")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            F.col("hod").cast("bigint").alias("hod"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.expr("CAST(n_events * 10000 DIV n AS BIGINT)").alias("share_bp"),
        )
        .orderBy("dow", "hod")
    )


# ---------------------------------------------------------------------------
# Week-over-week retention: of last week's active users, how many came
# back this week. Week key = integer (days since 1970-01-05, a Monday)
# DIV 7 — pure integer arithmetic, no ISO-week year-boundary semantics
# to reconcile between engines. The feed collapses to DISTINCT
# (week, user) first; retention is one self-join on (user, week+1) over
# that collapsed table. Denominator = PREVIOUS week's actives.
# ---------------------------------------------------------------------------
@query(
    "events_wow_retention",
    oracle="""
    WITH wu AS (
      SELECT DISTINCT (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS wk, user_id
      FROM events
    ), weekly AS (
      SELECT wk, COUNT(*) AS n_active FROM wu GROUP BY wk
    ), retained AS (
      SELECT cur.wk, COUNT(*) AS n_retained
      FROM wu cur JOIN wu prev ON cur.user_id = prev.user_id AND cur.wk = prev.wk + 1
      GROUP BY cur.wk
    )
    SELECT CAST(w.wk AS BIGINT) AS wk,
           CAST(w.n_active AS BIGINT) AS n_active,
           CAST(COALESCE(r.n_retained, 0) AS BIGINT) AS n_retained,
           CAST(CASE WHEN pw.n_active IS NULL THEN NULL
                     ELSE COALESCE(r.n_retained, 0) * 10000 // pw.n_active END AS BIGINT)
             AS retention_bp
    FROM weekly w
    LEFT JOIN retained r ON r.wk = w.wk
    LEFT JOIN weekly pw ON pw.wk = w.wk - 1
    ORDER BY w.wk
    """,
    tags=("events", "retention", "product-analytics"),
)
def events_wow_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = ev.select(
        F.expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-05') AS BIGINT) DIV 7").alias("wk"),
        "user_id",
    ).distinct()
    weekly = wu.groupBy("wk").agg(F.count(F.lit(1)).alias("n_active"))
    cur = wu.alias("cur")
    prev = wu.alias("prev")
    retained = (
        cur.join(
            prev,
            (F.col("cur.user_id") == F.col("prev.user_id"))
            & (F.col("cur.wk") == F.col("prev.wk") + 1),
        )
        .groupBy(F.col("cur.wk").alias("wk"))
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    pw = weekly.select((F.col("wk") + 1).alias("wk"), F.col("n_active").alias("prev_active"))
    # weekly/retained/pw are calendar-bounded frames (≤ #weeks rows).
    return (
        weekly.join(retained, "wk", "left")
        .join(pw, "wk", "left")
        .select(
            F.col("wk").cast("bigint").alias("wk"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.coalesce(F.col("n_retained"), F.lit(0)).cast("bigint").alias("n_retained"),
            F.expr(
                "CAST(CASE WHEN prev_active IS NULL THEN NULL"
                " ELSE COALESCE(n_retained, 0) * 10000 DIV prev_active END AS BIGINT)"
            ).alias("retention_bp"),
        )
        .orderBy("wk")
    )


# ---------------------------------------------------------------------------
# Error budget: daily error share vs a fixed SLO threshold — the
# reliability dashboard's first panel. Integer bp shares (floor
# division); breach days = share above the 100 bp (1%) budget. One daily
# rollup; the day grid is calendar-bounded.
# ---------------------------------------------------------------------------
@query(
    "events_error_budget",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             COUNT(*) AS n_events,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
      FROM events GROUP BY 1
    )
    SELECT d,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_errors AS BIGINT) AS n_errors,
           CAST(n_errors * 10000 // n_events AS BIGINT) AS error_bp,
           (n_errors * 10000 // n_events > 100) AS slo_breach
    FROM daily ORDER BY d
    """,
    tags=("events", "slo", "reliability"),
)
def events_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
    )
    return daily.select(
        "d",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_errors").cast("bigint").alias("n_errors"),
        F.expr("CAST(n_errors * 10000 DIV n_events AS BIGINT)").alias("error_bp"),
        F.expr("n_errors * 10000 DIV n_events > 100").alias("slo_breach"),
    ).orderBy("d")

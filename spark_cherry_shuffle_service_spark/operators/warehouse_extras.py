"""Warehouse operations round-out: interval concurrency, privacy audits,
equi-depth histograms, association lift, incremental view maintenance, and
file-compaction planning.

Beyond-reference surface (the reference's workload set is TPC-DS SQL + RDD
shuffle jobs, SURVEY.md §0; these are the remaining operational shapes a
warehouse built on that spine runs daily):

- `events_concurrency`        — max concurrent active users per day via the
  classic +1/-1 interval sweep (capacity planning / load analysis).
- `dq_l_diversity`            — l-diversity privacy audit, the companion of
  `dq_k_anonymity`: per quasi-identifier group, how many distinct values of
  the sensitive attribute survive.
- `events_equidepth_histogram`— equi-DEPTH (ntile) histogram per event type,
  the optimizer-statistics twin of the equi-width `events_value_histogram`.
- `orders_basket_lift`        — association-rule support/confidence/lift
  over co-ordered brands, completing `orders_market_basket` with the
  actual ranking statistic (integer ppm fixed-point).
- `ivm_incremental_rollup`    — incremental view maintenance: merge of
  partial aggregates (base snapshot + CDC delta) proven bit-identical to a
  full recompute. The scale story of every nightly rollup.
- `layout_compaction_bins`    — small-file compaction planner: sequential
  bin packing of per-month file stats into target-size bins via windowed
  cumulative sums (the OPTIMIZE/compaction planning step of a lakehouse).

Determinism conventions (CLAUDE.md):
- Integer-only aggregates except the IVM money sum, which uses the exact
  DECIMAL partial-sum path (the `dsum` machinery kept in DECIMAL until the
  final cast so partial merges are exact — that exactness IS the theorem
  `ivm_incremental_rollup` proves).
- lift/support/confidence are BIGINT fixed-point ppm via floor division
  (`DIV` / `//`), the graph_pagerank pattern — no cross-engine ROUND ties.
- Every window orders by a unique tiebreak; sweeps and ntiles are fully
  deterministic under any parallelism.

Reference parity anchors: aggregation/window semantics per
sql/core SQLQueryTestSuite golden files (SURVEY.md §5); the compaction
planner mirrors what the reference's shuffle-block coalescing does for
shuffle files (IndexShuffleBlockResolver.scala:417-483), re-expressed as a
declarative plan over table files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.functions.aggregates import dec_to_double, money
from spark_cherry_shuffle_service_spark.functions.ranking import ntile_expr, with_global_rank
from spark_cherry_shuffle_service_spark.plans.oracle import dsum_sql
from spark_cherry_shuffle_service_spark.plans.registry import query
from spark_cherry_shuffle_service_spark.sources.catalog import pin, spread, table


# ---------------------------------------------------------------------------
# Max-concurrency interval sweep.
#
# Each (user, day) contributes one active interval [MIN(ts), MAX(ts)];
# the sweep turns intervals into +1/-1 deltas and takes the max running
# sum. Ties at identical timestamps are resolved (+1 before -1, then
# user_id) so the cumulative sum is identical on both engines at any
# parallelism — overlap-inclusive semantics: a user ending exactly when
# another starts counts as concurrent.
#
# Scale: the sweep window is partitioned by DAY, so no global
# single-reducer sort ever forms — per-partition state is bounded by
# |daily actives|, not |events|. At 100 TB sub-partition by (day, hour)
# with boundary carry-in if a single day's actives outgrow an executor.
# ---------------------------------------------------------------------------
@query(
    "events_concurrency",
    oracle="""
    WITH iv AS (
      SELECT CAST(ts AS DATE) AS d, user_id, MIN(ts) AS s, MAX(ts) AS e
      FROM events GROUP BY 1, 2
    ), deltas AS (
      SELECT d, user_id, s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT d, user_id, e AS t, -1 AS delta FROM iv
    ), swept AS (
      SELECT d,
             CAST(SUM(delta) OVER (
               PARTITION BY d ORDER BY t, delta DESC, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cur
      FROM deltas
    )
    SELECT d, MAX(cur) AS max_concurrent
    FROM swept GROUP BY d ORDER BY d
    """,
    tags=("events", "interval", "window", "sweep"),
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    iv = ev.groupBy(F.to_date("ts").alias("d"), "user_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = iv.select(
        "d", "user_id", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("d", "user_id", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("d")
        .orderBy(F.col("t").asc(), F.col("delta").desc(), F.col("user_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = deltas.select("d", F.sum("delta").over(w).cast("long").alias("cur"))
    return (
        swept.groupBy("d")
        .agg(F.max("cur").alias("max_concurrent"))
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# l-diversity audit (companion of dq_k_anonymity).
#
# Quasi-identifier = (nation, account-balance band); sensitive attribute =
# market segment. A group is re-identification-risky when every member
# shares the sensitive value even if the group itself is large (k-anonymous
# but 1-diverse). Pure integer aggregate, one shuffle on the QI key.
# FLOOR over a double is IEEE-identical cross-engine (no rounding tie:
# acctbal is a 2-dp money value scaled by 1/2000).
# ---------------------------------------------------------------------------
@query(
    "dq_l_diversity",
    oracle="""
    SELECT c_nationkey,
           CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
           CAST(COUNT(*) AS BIGINT) AS group_n,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_diversity,
           (COUNT(DISTINCT c_mktsegment) < 3) AS at_risk
    FROM customer
    GROUP BY 1, 2
    ORDER BY c_nationkey, bal_band
    """,
    tags=("dataquality", "privacy"),
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.lit(2000.0)).cast("long").alias("bal_band"),
        )
        .agg(
            F.count("*").alias("group_n"),
            F.countDistinct("c_mktsegment").alias("l_diversity"),
            (F.countDistinct("c_mktsegment") < F.lit(3)).alias("at_risk"),
        )
        .orderBy("c_nationkey", "bal_band")
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (optimizer statistics / percentile-band profiling).
#
# NTILE(8) per event type over (value, event_id) — the unique event_id
# tiebreak makes bucket assignment deterministic, so bucket counts and
# min/max bounds are engine-identical. MIN/MAX over doubles are exact
# (no accumulation). One per-group sort, partitioned by event_type —
# at 100 TB swap NTILE for approx bounds + bounded re-bucketing if a
# single type outgrows an executor's sort budget.
# ---------------------------------------------------------------------------
@query(
    "events_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             NTILE(8) OVER (PARTITION BY event_type ORDER BY value, event_id)
               AS bucket
      FROM events
    )
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM b GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
    tags=("events", "statistics", "window"),
)
def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    b = ev.select("event_type", "value", F.ntile(8).over(w).alias("bucket"))
    return (
        b.groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# Association-rule lift over co-ordered brands.
#
# items = DISTINCT (order, brand); pairs via self-join on the order key
# with brand_a < brand_b. Lines-per-order is bounded (TPC-H ≤ 7), so the
# per-order pair fan-out is O(1) and the join shuffles on l_orderkey —
# scale-linear at 100 TB. The brand vocabulary is FIXED (TPC-H has 25
# brands at every SF), so the per-brand count table is SF-invariant and
# broadcast-policy-compliant; the 1-row total is a scalar broadcast.
#
# lift = P(ab) / (P(a)P(b)) computed as BIGINT fixed-point ppm:
# (1e6 * c_ab * n) DIV (c_a * c_b) — floor division, no rounding ties.
# Worst-case product 1e6·c_ab·n fits BIGINT through SF ~100; beyond that
# swap the two factors to DECIMAL(38,0) (same floor-div semantics).
# ---------------------------------------------------------------------------
@query(
    "orders_basket_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), tot AS (
      SELECT COUNT(DISTINCT okey) AS n FROM items
    ), cb AS (
      SELECT brand, COUNT(*) AS c FROM items GROUP BY brand
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS c_ab
      FROM items a JOIN items b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b,
           CAST(c_ab AS BIGINT) AS c_ab,
           CAST((1000000 * c_ab) // n AS BIGINT) AS support_ppm,
           CAST((1000000 * c_ab) // ca.c AS BIGINT) AS confidence_ppm,
           CAST((1000000 * c_ab * n) // (ca.c * cb2.c) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN cb ca ON ca.brand = pairs.brand_a
    JOIN cb cb2 ON cb2.brand = pairs.brand_b
    CROSS JOIN tot
    ORDER BY lift_ppm DESC, brand_a, brand_b
    LIMIT 15
    """,
    tags=("orders", "association", "fixed_point"),
)
def orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    # r12 restructure (VERDICT r11 item 5, guide §2.4): the r11 shape
    # persisted DISTINCT (okey, brand) and self-joined it for pairs, but
    # InMemoryRelation reports UnknownPartitioning, so the pair join
    # re-shuffled the fact rows twice (session-conf fix ledgered as a dead
    # end). New shape: ONE pass — collect_set(brand) per order (the set
    # dedupes, so the separate distinct disappears; lines/order ≤ 7 bounds
    # the state), then every aggregate the query needs is an arithmetic
    # fan-out of that sorted array through ONE tiny exchange:
    #   (NULL, NULL)  marker per order  -> tot = COUNT(DISTINCT okey)
    #   (brand, NULL) per set element   -> cb  = per-brand distinct count
    #   (a, b) a<b    per set pair      -> c_ab (sorted array gives a<b)
    # The fact rows now cross ONE exchange (spread on okey; groupBy(okey)
    # clusters in place); the counts exchange carries ≤ 326 rows at ANY SF
    # (25-brand fixed vocab -> ≤ 300 pairs + 25 singles + 1 marker).
    per_order = (
        spread(
            li.join(part, li.l_partkey == part.p_partkey).select(
                F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand")
            ),
            "okey",
        )
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("brand")).alias("brands"))
    )
    kv = per_order.select(
        F.explode(
            F.expr(
                """
                concat(
                  array(named_struct('ka', CAST(NULL AS STRING),
                                     'kb', CAST(NULL AS STRING))),
                  transform(brands, x ->
                    named_struct('ka', x, 'kb', CAST(NULL AS STRING))),
                  flatten(transform(brands, (x, i) ->
                    transform(slice(brands, i + 2, size(brands)), y ->
                      named_struct('ka', x, 'kb', y))))
                )
                """
            )
        ).alias("kv")
    ).select(F.col("kv.ka").alias("ka"), F.col("kv.kb").alias("kb"))
    counts = kv.groupBy("ka", "kb").agg(F.count("*").alias("c")).transform(pin)
    # persist: ≤ 326 rows at any SF (bounded, unlike the r11 fact-row
    # persist this replaces); read by the three broadcast branches below.
    tot = counts.filter(F.col("ka").isNull()).select(F.col("c").alias("n"))
    cb = counts.filter(F.col("ka").isNotNull() & F.col("kb").isNull()).select(
        F.col("ka").alias("brand"), F.col("c")
    )
    pairs = counts.filter(F.col("kb").isNotNull()).select(
        F.col("ka").alias("brand_a"), F.col("kb").alias("brand_b"), F.col("c").alias("c_ab")
    )
    ca = F.broadcast(cb.select(F.col("brand").alias("brand_a"), F.col("c").alias("c_a")))
    cbb = F.broadcast(cb.select(F.col("brand").alias("brand_b"), F.col("c").alias("c_b")))
    out = (
        pairs.join(ca, "brand_a")
        .join(cbb, "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.expr("(1000000 * c_ab) DIV n").alias("support_ppm"),
            F.expr("(1000000 * c_ab) DIV c_a").alias("confidence_ppm"),
            F.expr("(1000000 * c_ab * n) DIV (c_a * c_b)").alias("lift_ppm"),
        )
    )
    return out.orderBy(F.desc("lift_ppm"), "brand_a", "brand_b").limit(15)


# ---------------------------------------------------------------------------
# Incremental view maintenance: base + delta partial-aggregate merge.
#
# The nightly-rollup contract: a materialized monthly rollup built from the
# pre-cutoff snapshot, merged with the post-cutoff delta by RE-AGGREGATING
# PARTIAL STATES (count-sum merge), must equal a full recompute — bit-for-
# bit. This only holds because the money sum stays in exact DECIMAL until
# the final cast (the dsum invariant); with double partials the merge
# order would leak into the result. At 100 TB the delta is a day's
# partition and the base never rescans — that asymmetry is the point.
# Oracle: the full recompute (what the merge must equal).
# ---------------------------------------------------------------------------
@query(
    "ivm_incremental_rollup",
    oracle=f"""
    SELECT (EXTRACT(year FROM o_orderdate) * 100
            + EXTRACT(month FROM o_orderdate)) AS ym,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_sql("o_totalprice", "sum_total")}
    FROM orders
    GROUP BY 1, 2
    ORDER BY ym, o_orderpriority
    """,
    tags=("warehouse", "ivm", "decimal"),
)
def ivm_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long").alias("ym")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(ym, "o_orderpriority").agg(
            F.count("*").alias("cnt"),
            F.sum(money(F.col("o_totalprice"))).alias("s"),  # stays DECIMAL
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionAll(delta)
        .groupBy("ym", "o_orderpriority")
        .agg(
            F.sum("cnt").cast("long").alias("n_orders"),
            dec_to_double(F.sum("s")).alias("sum_total"),
        )
        .orderBy("ym", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Small-file compaction planner (the OPTIMIZE planning step).
#
# Treat each (ship-year, month) slice as a "file" with a row-count size;
# pack files sequentially (preserving sort order — compaction must not
# destroy clustering) into bins of ~1/20 of the year's rows via the
# windowed prefix-sum: bin = floor(cum_prev / target). Pure integer
# arithmetic; the window partitions by year (bounded 12 rows per
# partition) so the plan is all map-side except two bounded shuffles.
# At 100 TB the same plan runs over the real file-listing table
# (path, size_bytes) — the shape is identical.
# ---------------------------------------------------------------------------
@query(
    "layout_compaction_bins",
    oracle="""
    WITH f AS (
      SELECT EXTRACT(year FROM l_shipdate) AS yr,
             EXTRACT(month FROM l_shipdate) AS mo,
             COUNT(*) AS rows_n
      FROM lineitem GROUP BY 1, 2
    ), t AS (
      SELECT yr, SUM(rows_n) AS tot FROM f GROUP BY yr
    ), planned AS (
      SELECT f.yr, f.mo, f.rows_n,
             COALESCE(CAST(SUM(f.rows_n) OVER (
               PARTITION BY f.yr ORDER BY f.mo
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS cum_prev,
             (t.tot + 19) // 20 AS target
      FROM f JOIN t ON f.yr = t.yr
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(mo AS BIGINT) AS mo,
           CAST(rows_n AS BIGINT) AS rows_n,
           CAST(cum_prev // target AS BIGINT) AS bin
    FROM planned ORDER BY yr, mo
    """,
    tags=("layout", "compaction", "window"),
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    f = li.groupBy(
        F.year("l_shipdate").cast("long").alias("yr"),
        F.month("l_shipdate").cast("long").alias("mo"),
    ).agg(F.count("*").alias("rows_n"))
    t = f.groupBy("yr").agg(F.sum("rows_n").alias("tot"))
    w = (
        Window.partitionBy("yr")
        .orderBy("mo")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = (
        f.join(F.broadcast(t), "yr")  # per-year totals: calendar-bounded rows
        .select(
            "yr",
            "mo",
            "rows_n",
            F.coalesce(F.sum("rows_n").over(w).cast("long"), F.lit(0)).alias("cum_prev"),
            F.expr("(tot + 19) DIV 20").alias("target"),
        )
    )
    return planned.select(
        "yr",
        "mo",
        F.col("rows_n").cast("long").alias("rows_n"),
        F.expr("cum_prev DIV target").alias("bin"),
    ).orderBy("yr", "mo")


# ---------------------------------------------------------------------------
# Backlog aging: open orders bucketed by age at the latest-order snapshot
# date — the AR/ops dashboard staple. The snapshot date is a 1-row scalar
# aggregate (broadcast-compliant); age arithmetic is integer day diffs on
# DATE, and the money mass uses the dsum decimal path. One scan + one
# 5-key groupBy: scale-linear, no window, no sort until the 5-row output.
# ---------------------------------------------------------------------------
@query(
    "orders_backlog_aging",
    oracle=f"""
    WITH snap AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS snap_d FROM orders
    ), aged AS (
      SELECT CASE
               WHEN snap_d - CAST(o_orderdate AS DATE) < 30 THEN '0-029d'
               WHEN snap_d - CAST(o_orderdate AS DATE) < 90 THEN '030-089d'
               WHEN snap_d - CAST(o_orderdate AS DATE) < 180 THEN '090-179d'
               WHEN snap_d - CAST(o_orderdate AS DATE) < 365 THEN '180-364d'
               ELSE '365d+'
             END AS age_bucket,
             o_totalprice
      FROM orders CROSS JOIN snap
      WHERE o_orderstatus IN ('O', 'P')
    )
    SELECT age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_sql("o_totalprice", "backlog_value")}
    FROM aged GROUP BY age_bucket ORDER BY age_bucket
    """,
    tags=("warehouse", "aging", "backlog"),
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus").isin("O", "P"))
    snap = table(spark, sf_dir, "orders").agg(F.max(F.to_date("o_orderdate")).alias("snap_d"))
    age = F.datediff(F.col("snap_d"), F.to_date("o_orderdate"))
    bucket = (
        F.when(age < 30, "0-029d")
        .when(age < 90, "030-089d")
        .when(age < 180, "090-179d")
        .when(age < 365, "180-364d")
        .otherwise("365d+")
    )
    from spark_cherry_shuffle_service_spark.functions.aggregates import dsum

    return (
        od.join(F.broadcast(snap))
        .select(bucket.alias("age_bucket"), "o_totalprice")
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "backlog_value"),
        )
        .orderBy("age_bucket")
    )


# ---------------------------------------------------------------------------
# Fulfillment latency: ship-minus-order day gaps per order priority, as
# exact percentiles over INTEGER day diffs (percentile ≙ quantile_cont,
# the agg_percentile precedent — linear interpolation over integers is
# bit-identical across engines). One lineitem⋈orders shuffle on the
# order key, then a 5-key percentile rollup; day diffs are bounded
# (0..~120), so at 100 TB the exact per-priority sort can be swapped for
# a count-by-value histogram percentile without changing the answer.
# ---------------------------------------------------------------------------
@query(
    "orders_fulfillment_latency",
    oracle="""
    WITH gaps AS (
      SELECT o.o_orderpriority,
             CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS lat_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           quantile_cont(lat_days, 0.5) AS p50_days,
           quantile_cont(lat_days, 0.9) AS p90_days,
           CAST(MAX(lat_days) AS BIGINT) AS max_days
    FROM gaps GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("warehouse", "latency", "percentile", "exact-unbounded"),
    scale_twin="agg_percentiles_histogram",
)
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    gaps = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("lat_days"),
    )
    return (
        gaps.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr("percentile(lat_days, 0.5)").alias("p50_days"),
            F.expr("percentile(lat_days, 0.9)").alias("p90_days"),
            F.max("lat_days").cast("bigint").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Customer acquisition curve: new customers per (nation, first-order
# month). First order via a per-customer MIN (map-side combinable), then
# a calendar×nation rollup — integer y*100+m month key (date_trunc type
# gotcha), all counts.
# ---------------------------------------------------------------------------
@query(
    "customers_acquired_monthly",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS fd
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_nationkey,
           CAST(EXTRACT(YEAR FROM f.fd) * 100 + EXTRACT(MONTH FROM f.fd) AS BIGINT) AS ym,
           CAST(COUNT(*) AS BIGINT) AS n_new_customers
    FROM first_order f JOIN customer c ON f.o_custkey = c.c_custkey
    GROUP BY 1, 2 ORDER BY c_nationkey, ym
    """,
    tags=("warehouse", "acquisition", "cohort"),
)
def customers_acquired_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    first = od.groupBy("o_custkey").agg(F.min(F.to_date("o_orderdate")).alias("fd"))
    return (
        first.join(cust, first.o_custkey == cust.c_custkey)
        .groupBy(
            "c_nationkey",
            (F.year("fd") * 100 + F.month("fd")).cast("bigint").alias("ym"),
        )
        .agg(F.count(F.lit(1)).alias("n_new_customers"))
        .select(
            "c_nationkey",
            "ym",
            F.col("n_new_customers").cast("bigint").alias("n_new_customers"),
        )
        .orderBy("c_nationkey", "ym")
    )


# ---------------------------------------------------------------------------
# Repeat-purchase rate per nation: customers with 2+ orders as a share of
# customers with any order, in integer basis points. Per-customer count,
# then a nation rollup — two map-side-combinable shuffles.
# ---------------------------------------------------------------------------
@query(
    "orders_repeat_rate",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_buyers,
           CAST(SUM(CASE WHEN p.n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
           CAST(SUM(CASE WHEN p.n_orders >= 2 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
             AS repeat_bp
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey ORDER BY c.c_nationkey
    """,
    tags=("warehouse", "retention", "repeat"),
)
def orders_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_cust = od.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_buyers"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).alias("n_repeat"),
        )
        .select(
            "c_nationkey",
            F.col("n_buyers").cast("bigint").alias("n_buyers"),
            F.col("n_repeat").cast("bigint").alias("n_repeat"),
            F.expr("CAST(n_repeat * 10000 DIV n_buyers AS BIGINT)").alias("repeat_bp"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Priority mix shift: order-priority share per year in basis points plus
# the year-over-year delta — the mix-monitoring readout that catches a
# changing workload composition before totals move. Integer shares via
# floor division; the YoY delta subtracts two integers. The year×priority
# grid is calendar-bounded, so everything after the first rollup is
# vocabulary-sized.
# ---------------------------------------------------------------------------
@query(
    "orders_priority_mix_shift",
    oracle="""
    WITH per AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS yr, o_orderpriority AS prio,
             COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT yr, SUM(n) AS n_year FROM per GROUP BY yr
    ), shares AS (
      SELECT p.yr, p.prio, p.n, p.n * 10000 // t.n_year AS share_bp
      FROM per p JOIN tot t ON p.yr = t.yr
    )
    SELECT CAST(yr AS BIGINT) AS yr, prio,
           CAST(n AS BIGINT) AS n_orders,
           CAST(share_bp AS BIGINT) AS share_bp,
           CAST(share_bp - LAG(share_bp) OVER (PARTITION BY prio ORDER BY yr) AS BIGINT)
             AS yoy_delta_bp
    FROM shares ORDER BY yr, prio
    """,
    tags=("warehouse", "mix-shift", "monitoring"),
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    per = od.groupBy(
        F.year("o_orderdate").alias("yr"), F.col("o_orderpriority").alias("prio")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = per.groupBy("yr").agg(F.sum("n").alias("n_year"))
    shares = per.join(tot, "yr").select(
        "yr", "prio", "n", F.expr("CAST(n * 10000 DIV n_year AS BIGINT)").alias("share_bp")
    )
    w = Window.partitionBy("prio").orderBy("yr")
    return shares.select(
        F.col("yr").cast("bigint").alias("yr"),
        "prio",
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("share_bp").cast("bigint").alias("share_bp"),
        (F.col("share_bp") - F.lag("share_bp").over(w)).cast("bigint").alias("yoy_delta_bp"),
    ).orderBy("yr", "prio")


# ---------------------------------------------------------------------------
# Revenue concentration curve: customer revenue deciles (Lorenz points)
# with each decile's share of total revenue in basis points. Revenue per
# customer goes through exact decimal sums, then BIGINT cents for the
# share division — no float ratio crosses engines. NTILE over
# (revenue, custkey) is deterministic via the unique key tiebreak.
#
# The decile comes from the distributed ranking decomposition
# (functions/ranking.py): range-partition on (cents, custkey),
# per-range row_number + broadcast prefix offsets = the IDENTICAL
# global rank (unique tiebreak), ntile_expr derives the NTILE bucket
# arithmetically — no single-reducer window at any SF.
# ---------------------------------------------------------------------------
@query(
    "customer_revenue_deciles",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), tiled AS (
      SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile FROM rev
    ), tot AS (
      SELECT SUM(cents) AS total_cents FROM tiled
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(cents) * 10000 // t.total_cents AS BIGINT) AS share_bp
    FROM tiled CROSS JOIN tot t
    GROUP BY decile, t.total_cents ORDER BY decile
    """,
    tags=("warehouse", "concentration", "lorenz"),
)
def customer_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    rev = od.groupBy("o_custkey").agg(
        (F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    tiled = with_global_rank(
        rev,
        [("cents", "asc"), ("o_custkey", "asc")],
        rank_name="_rk",
        n_name="_n",
    ).select("cents", ntile_expr("_rk", "_n", 10).alias("decile"))
    tot = rev.agg(F.sum("cents").alias("total_cents"))
    return (
        tiled.join(F.broadcast(tot))
        .groupBy("decile", "total_cents")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum("cents").alias("revenue_cents"))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("n_customers").cast("bigint").alias("n_customers"),
            F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
            F.expr("CAST(revenue_cents * 10000 DIV total_cents AS BIGINT)").alias("share_bp"),
        )
        .orderBy("decile")
    )

"""Relational spine: scans, filters, joins, aggregations (SURVEY.md §2.1-2.4).

Each query is a TPC-DS-shaped pattern from the reference's benchmark corpus
(/root/reference/spark-code/code/sql/core/src/test/resources/tpcds/*.sql),
re-expressed over the TPC-H-ish fixtures with the DataFrame API so Catalyst
plans it (predicate pushdown, join selection, partial aggregation — all
automatic, SURVEY.md §4).

Scale notes: forced broadcast hints appear only on SF-invariant sides
(nation/region). Customer/supplier/part scale with SF, so their joins are
unhinted: autoBroadcastJoinThreshold still broadcasts them at fixture
sizes (plan tests assert it), while at 100 TB AQE chooses from runtime
stats. Fact-fact joins (orders⋈lineitem) shuffle on the join key; AQE
handles skew and coalesces post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.functions.aggregates import davg, dsum, money
from spark_cherry_shuffle_service_spark.plans.oracle import davg_sql, dsum_sql
from spark_cherry_shuffle_service_spark.plans.registry import query
from spark_cherry_shuffle_service_spark.sources.catalog import spread, table, table_bytes


def _d(col: str) -> F.Column:
    return F.to_date(F.col(col))


# ---------------------------------------------------------------------------
# Scan → filter → groupBy/agg → sort. TPC-H Q1 shape; covers the agg spine of
# 74/103 TPC-DS files (sum/avg/count — SURVEY.md §2.4, tpcds/q51.sql:13).
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 'sum_qty')},
           {dsum_sql('l_extendedprice', 'sum_base_price')},
           {dsum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {davg_sql('l_quantity', 'avg_qty')},
           {davg_sql('l_extendedprice', 'avg_price')},
           {davg_sql('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter", "scan"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the 7 decimal partial aggregations are CPU-bound and would
    # otherwise run inside the lone single-row-group scan task (BASELINE.md
    # perf note). Hash on the value column skips the local sort a
    # round-robin repartition pays (guide §2.5); no-op on a multi-split
    # source, so a cluster-scale scan pays nothing extra.
    li = spread(
        table(spark, sf_dir, "lineitem").filter(
            _d("l_shipdate") <= F.lit("2000-12-01").cast("date")
        ),
        "l_extendedprice",
    )
    price, disc, tax, qty = (F.col(c) for c in ("l_extendedprice", "l_discount", "l_tax", "l_quantity"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(qty, "sum_qty"),
        dsum(price, "sum_base_price"),
        dsum(price * (1 - disc), "sum_disc_price"),
        dsum(price * (1 - disc) * (1 + tax), "sum_charge"),
        davg(qty, "avg_qty"),
        davg(price, "avg_price"),
        davg(disc, "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# 3-way join + filter + agg + ORDER BY ... LIMIT (top-k). TPC-H Q3 shape =
# the spine of 91/103 TPC-DS queries (SURVEY.md §7.1 step 2). customer is
# broadcast (small dim).
# ---------------------------------------------------------------------------
@query(
    "top_revenue",
    oracle=f"""
    SELECT l_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      AND CAST(l_shipdate AS DATE) > DATE '1996-06-30'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "topk", "limit"),
)
def top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    ords = table(spark, sf_dir, "orders").filter(_d("o_orderdate") < F.lit("1998-01-01").cast("date"))
    # Examined for a spread() (r11 opt): A/B-neutral — the post-join partial
    # agg keys on ~#orders groups, so the existing exchange carries the same
    # bytes a pre-join spread would; the scan task pays one exchange write
    # either way. Left alone (guide §1.3: stop when at the floor).
    li = table(spark, sf_dir, "lineitem").filter(_d("l_shipdate") > F.lit("1996-06-30").cast("date"))
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            _d("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Scalar (no-group) aggregate — tpcds/q9.sql:2 pattern (SURVEY.md §2.4).
# ---------------------------------------------------------------------------
@query(
    "scalar_aggregate",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           {dsum_sql('l_extendedprice', 'total_price')},
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           MIN(CAST(l_shipdate AS DATE)) AS first_ship,
           MAX(CAST(l_shipdate AS DATE)) AS last_ship
    FROM lineitem
    """,
    tags=("agg",),
)
def scalar_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum(F.col("l_extendedprice"), "total_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min(_d("l_shipdate")).alias("first_ship"),
        F.max(_d("l_shipdate")).alias("last_ship"),
    )


# ---------------------------------------------------------------------------
# COUNT(DISTINCT …) per group — tpcds/q16.sql:2,22, q94, q38 (SURVEY.md §2.4).
# Distinct-agg = two-phase shuffle; at scale prefer approx_count_distinct
# when exactness isn't required (kept exact here for oracle parity).
# ---------------------------------------------------------------------------
@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# stddev_samp + ratio-of-aggregates — tpcds/q17.sql:7-12 (SURVEY.md §2.4).
# stddev is order-dependent in the last ulps → rounded to 4 dp on both sides.
# ---------------------------------------------------------------------------
@query(
    "agg_stddev",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS qty_stdev,
           ROUND(STDDEV_SAMP(l_quantity) / AVG(l_quantity), 4) AS qty_cov,
           {davg_sql('l_quantity', 'qty_mean')}
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "stddev"),
)
def agg_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stdev"),
            F.round(F.stddev_samp("l_quantity") / F.avg("l_quantity"), 4).alias("qty_cov"),
            davg(F.col("l_quantity"), "qty_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (ordered-set aggregates): median / p90 /
# quartiles per group. Spark `percentile` and DuckDB `quantile_cont` use
# the same (1-g)·lower + g·upper interpolation, verified bit-identical on
# this data. Exact percentiles sort within the aggregation — at 100 TB the
# production path is approx_percentile (t-digest, single pass, mergeable);
# this query pins the exact semantics the approximation is judged against.
# ---------------------------------------------------------------------------
#: agg_percentiles runs the in-map exact `percentile` at or below this many
#: lineitem bytes and the cum-count form above it (SCALE.md §Branch and
#: memo ledger): sf0.1's 11 MB input sits below it, ~sf1's 110 MB above.
_PERCENTILE_MAP_MAX_BYTES = 64 * 1024 * 1024


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS qty_median,
           quantile_cont(l_quantity, 0.9) AS qty_p90,
           quantile_cont(l_extendedprice, 0.25) AS price_p25,
           quantile_cont(l_extendedprice, 0.75) AS price_p75,
           quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25) AS price_iqr,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile", "ordered-set", "exact-unbounded"),
    scale_twin="agg_percentiles_histogram",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (VERDICT r11 issue 4, guide §5): the exact `percentile` aggregate
    # buffers a value→count map per group in EVERY partial task and merges
    # the maps serially — measured 11.5 s and a 1.02 core-scaling ratio at
    # ~sf1 (O(distinct) memory, OOM-bound at 100 TB). The scalable twin is
    # the count-by-value cum-count method the histogram query proved
    # bit-identical to Percentile.scala (same (hi−pos)·lo + (pos−lo)·hi
    # IEEE steps, asserted in tests/test_semantics.py): one unpivot scan,
    # one map-side-combined groupBy on (flag, which, value) — the shuffle
    # carries DISTINCT values only — then a windowed cumulative count and
    # a 6-group final lookup.
    #
    # The switch is INPUT-SIZE-ADAPTIVE (the spread()/broadcast-threshold
    # principle, guide §2/§3): below the threshold the in-map aggregate
    # wins (fixed plan cost, no window sort — A/B at sf0.1: 1.4 s map vs
    # 2.0 s cum-count); above it the map path's serial merge dominates and
    # the cum-count path is 1.3-1.4× faster at ~sf1 (110 MB input) with
    # bounded memory, the only form that survives 100 TB. Both branches
    # compute bit-identical results against the SAME unchanged oracle
    # (compare green at sf0.01 / sf0.1 / ~sf1 on both forms —
    # OPTIMIZATION_r12.md). Unknown input size chooses the scale-safe path.
    nbytes = table_bytes(sf_dir, "lineitem")
    if nbytes is not None and nbytes <= _PERCENTILE_MAP_MAX_BYTES:
        return (
            spread(
                table(spark, sf_dir, "lineitem").select(
                    "l_returnflag", "l_quantity", "l_extendedprice"
                ),
                "l_extendedprice",
            )
            .groupBy("l_returnflag")
            .agg(
                F.percentile("l_quantity", 0.5).alias("qty_median"),
                F.percentile("l_quantity", 0.9).alias("qty_p90"),
                F.percentile("l_extendedprice", 0.25).alias("price_p25"),
                F.percentile("l_extendedprice", 0.75).alias("price_p75"),
                (
                    F.percentile("l_extendedprice", 0.75)
                    - F.percentile("l_extendedprice", 0.25)
                ).alias("price_iqr"),
                F.count(F.lit(1)).alias("n"),
            )
        )
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
    )
    pairs = li.select(
        "l_returnflag",
        F.explode(
            F.array(
                F.struct(F.lit("q").alias("w"), F.col("qty").alias("v")),
                F.struct(F.lit("p").alias("w"), F.col("price").alias("v")),
            )
        ).alias("x"),
    ).select("l_returnflag", F.col("x.w").alias("w"), F.col("x.v").alias("v"))
    counts = pairs.groupBy("l_returnflag", "w", "v").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("l_returnflag", "w")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag", "w")
    cum = counts.select(
        "l_returnflag",
        "w",
        "v",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    # slot a = {qty: 0.5, price: 0.25}, slot b = {qty: 0.9, price: 0.75} —
    # the same per-group interpolation constants as Percentile.scala.
    for tag, pq, pp in (("a", 0.5, 0.25), ("b", 0.9, 0.75)):
        p = F.when(F.col("w") == "q", F.lit(pq)).otherwise(F.lit(pp)).cast("double")
        pos = (F.col("n") - 1).cast("double") * p
        cum = (
            cum.withColumn(f"pos{tag}", pos)
            .withColumn(f"lo{tag}", F.floor(pos))
            .withColumn(f"hi{tag}", F.ceil(pos))
        )

    def slot(wv: str, tag: str) -> F.Column:
        in_w = F.col("w") == wv
        pos = F.max(F.when(in_w, F.col(f"pos{tag}")))
        lo_i = F.max(F.when(in_w, F.col(f"lo{tag}")))
        hi_i = F.max(F.when(in_w, F.col(f"hi{tag}")))
        lo_v = F.min(F.when(in_w & (F.col("cum") >= F.col(f"lo{tag}") + 1), F.col("v")))
        hi_v = F.min(F.when(in_w & (F.col("cum") >= F.col(f"hi{tag}") + 1), F.col("v")))
        return F.when(hi_i == lo_i, lo_v).otherwise((hi_i - pos) * lo_v + (pos - lo_i) * hi_v)

    p25, p75 = slot("p", "a"), slot("p", "b")
    return cum.groupBy("l_returnflag").agg(
        slot("q", "a").alias("qty_median"),
        slot("q", "b").alias("qty_p90"),
        p25.alias("price_p25"),
        p75.alias("price_p75"),
        (p75 - p25).alias("price_iqr"),
        F.max(F.when(F.col("w") == "q", F.col("n"))).cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# Count-by-value HISTOGRAM percentile — the documented 100 TB production
# path for bounded domains (SCALE.md "Exact percentiles"), demonstrated:
# l_quantity has ≤50 distinct values, so instead of sorting every row
# inside the aggregation (exact `percentile` buffers a value→count map
# per group), ONE map-side-combined groupBy(value) shuffle of ≤50 rows
# per flag feeds a bounded cumulative-count lookup. The interpolation
# mirrors Spark's Percentile.scala exactly — position = (n-1)*p in
# DOUBLE, lower/higher = floor/ceil, (higher−pos)·lo + (pos−lower)·hi
# with the equal-index special case — so the result is bit-identical to
# agg_percentiles' qty columns (asserted in tests/test_semantics.py).
# DuckDB oracle twin spells out the same IEEE steps (0.5/0.9 literals
# CAST to DOUBLE — DuckDB parses bare 0.9 as DECIMAL).
# ---------------------------------------------------------------------------
def _hist_pct_sql(tag: str, out: str) -> str:
    lo_v = f"MIN(CASE WHEN cum >= lo{tag} + 1 THEN v END)"
    hi_v = f"MIN(CASE WHEN cum >= hi{tag} + 1 THEN v END)"
    return (
        f"CASE WHEN MAX(hi{tag}) = MAX(lo{tag}) THEN {lo_v} "
        f"ELSE (MAX(hi{tag}) - MAX(pos{tag})) * {lo_v} "
        f"+ (MAX(pos{tag}) - MAX(lo{tag})) * {hi_v} END AS {out}"
    )


@query(
    "agg_percentiles_histogram",
    oracle=f"""
    WITH counts AS (
      SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v, COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, v,
             SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY l_returnflag) AS n
      FROM counts
    ), pc AS (
      SELECT l_returnflag, v, cum, n,
             CAST(n - 1 AS DOUBLE) * CAST(0.5 AS DOUBLE) AS pos50,
             FLOOR(CAST(n - 1 AS DOUBLE) * CAST(0.5 AS DOUBLE)) AS lo50,
             CEIL(CAST(n - 1 AS DOUBLE) * CAST(0.5 AS DOUBLE)) AS hi50,
             CAST(n - 1 AS DOUBLE) * CAST(0.9 AS DOUBLE) AS pos90,
             FLOOR(CAST(n - 1 AS DOUBLE) * CAST(0.9 AS DOUBLE)) AS lo90,
             CEIL(CAST(n - 1 AS DOUBLE) * CAST(0.9 AS DOUBLE)) AS hi90
      FROM cum
    )
    SELECT l_returnflag,
           {_hist_pct_sql('50', 'qty_median')},
           {_hist_pct_sql('90', 'qty_p90')},
           CAST(MAX(n) AS BIGINT) AS n
    FROM pc
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile", "histogram", "scale-path"),
)
def agg_percentiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("double").alias("v")
    )
    counts = li.groupBy("l_returnflag", "v").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = counts.select(
        "l_returnflag",
        "v",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    # Per-row copies of the per-group interpolation constants; the outer
    # CASE re-reads them through MAX() (constant per group, so MAX is the
    # value) to satisfy aggregation scoping.
    for p, tag in ((0.5, "50"), (0.9, "90")):
        pos = (F.col("n") - 1).cast("double") * F.lit(p).cast("double")
        cum = (
            cum.withColumn(f"pos{tag}", pos)
            .withColumn(f"lo{tag}", F.floor(pos))
            .withColumn(f"hi{tag}", F.ceil(pos))
        )

    def hist_pct(tag: str, out: str) -> F.Column:
        lo_v = F.min(F.when(F.col("cum") >= F.col(f"lo{tag}") + 1, F.col("v")))
        hi_v = F.min(F.when(F.col("cum") >= F.col(f"hi{tag}") + 1, F.col("v")))
        pos, lo_i, hi_i = (F.max(f"pos{tag}"), F.max(f"lo{tag}"), F.max(f"hi{tag}"))
        return (
            F.when(hi_i == lo_i, lo_v)
            .otherwise((hi_i - pos) * lo_v + (pos - lo_i) * hi_v)
            .alias(out)
        )

    return cum.groupBy("l_returnflag").agg(
        hist_pct("50", "qty_median"),
        hist_pct("90", "qty_p90"),
        F.max("n").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# t-digest sketch percentile — the documented 100 TB production path for
# UNBOUNDED (double) domains, where the count-by-value histogram above
# stops applying: `approx_percentile` keeps a fixed-size mergeable sketch
# per group (single pass, map-side combined), so per-group state is O(1)
# regardless of how many distinct values flow in.
#
# Output contract (round 8, VERDICT r7 item 4): the RAW sketch estimates
# are merge-order- and therefore PARALLELISM-dependent once a group
# exceeds the sketch capacity (measured: p50 34.86 on local[4] vs 34.88
# on local[32] at sf0.1), so they cannot be a comparable output of a
# deterministic engine. The query instead outputs, per group, the EXACT
# quantiles (parallelism-invariant, the values a consumer actually wants)
# plus the sketch's accuracy-contract verdicts: each approx_percentile
# estimate bracketed between the exact quantiles at q ± 0.001 (10x the
# nominal 1/accuracy GK rank tolerance — the bound established by
# tests/test_semantics.py). The sketch still runs inside the query — a
# contract violation flips a boolean and fails the differential. The
# numpy/DuckDB twin (_tdigest_oracle_py) recomputes the exact quantiles
# via quantile_cont and asserts the verdicts all-true, so the compare
# harness adjudicates this spec as "match (py-oracle)" instead of
# rows-only.
# ---------------------------------------------------------------------------
_TDIGEST_QS = (0.25, 0.5, 0.75)
_TDIGEST_EPS = 0.001  # rank tolerance of the bracketing (test_semantics bound)


def _tdigest_oracle_py(con, sf_dir: str):
    """Exact-quantile twin: DuckDB quantile_cont (proven bit-identical to
    Spark `percentile` on this data class by agg_percentiles) + the
    accuracy-contract verdicts asserted TRUE — if Spark's sketch ever
    leaves its documented bound, its FALSE mismatches this row."""
    rows = con.execute(
        """
        SELECT event_type,
               quantile_cont(value, 0.25) AS p25_exact,
               quantile_cont(value, 0.5) AS p50_exact,
               quantile_cont(value, 0.75) AS p75_exact,
               COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
        """
    ).fetchall()
    cols = [
        "event_type", "p25_exact", "p50_exact", "p75_exact",
        "sketch_ok_p25", "sketch_ok_p50", "sketch_ok_p75", "n",
    ]
    return cols, [
        (et, p25, p50, p75, True, True, True, n) for et, p25, p50, p75, n in rows
    ]


@query(
    "agg_percentiles_tdigest",
    # The output is a CONTRACT (exact quantiles + sketch-accuracy verdicts),
    # so it admits a plain SQL oracle: DuckDB quantile_cont is proven
    # bit-identical to Spark `percentile` on this data class by
    # agg_percentiles, and the sketch_ok_* booleans are asserted TRUE — if
    # Spark's sketch ever leaves its documented rank bound, its FALSE
    # mismatches the literal and the differential fails (VERDICT r8 task 3:
    # makes the driver's oracle_sql()-only harness green after 8 rounds of
    # `err: no_oracle`). The py-oracle twin stays as the stricter check.
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.25) AS p25_exact,
           quantile_cont(value, 0.5) AS p50_exact,
           quantile_cont(value, 0.75) AS p75_exact,
           TRUE AS sketch_ok_p25,
           TRUE AS sketch_ok_p50,
           TRUE AS sketch_ok_p75,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    oracle_py=_tdigest_oracle_py,
    tags=("agg", "percentile", "sketch", "scale-path"),
)
def agg_percentiles_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    aggs = [F.count(F.lit(1)).alias("n")]
    for q in _TDIGEST_QS:
        tag = f"p{int(q * 100)}"
        aggs += [
            F.expr(f"approx_percentile(value, {q}, 10000)").alias(f"{tag}_approx"),
            F.percentile("value", q).alias(f"{tag}_exact"),
            F.percentile("value", max(q - _TDIGEST_EPS, 0.0)).alias(f"{tag}_lo"),
            F.percentile("value", min(q + _TDIGEST_EPS, 1.0)).alias(f"{tag}_hi"),
        ]
    per_group = ev.groupBy("event_type").agg(*aggs)
    cols = [F.col("event_type")]
    cols += [F.col(f"p{int(q * 100)}_exact") for q in _TDIGEST_QS]
    cols += [
        F.col(f"p{int(q * 100)}_approx")
        .between(F.col(f"p{int(q * 100)}_lo"), F.col(f"p{int(q * 100)}_hi"))
        .alias(f"sketch_ok_p{int(q * 100)}")
        for q in _TDIGEST_QS
    ]
    cols.append(F.col("n"))
    return per_group.select(*cols).orderBy("event_type")


# ---------------------------------------------------------------------------
# HAVING — tpcds/q44.sql:17 (SURVEY.md §2.4): agg then filter on aggregate.
# ---------------------------------------------------------------------------
@query(
    "agg_having",
    oracle=f"""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice', 'spend')}
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 12
    """,
    tags=("agg", "having"),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum(F.col("o_totalprice"), "spend"))
        .filter(F.col("n_orders") > 12)
    )


# ---------------------------------------------------------------------------
# Conditional aggregation SUM(CASE WHEN …) — tpcds/q9.sql:2-38, q88
# (SURVEY.md §2.4); plus CASE WHEN / BETWEEN / IN / boolean composition
# (§2.2). One pass over the fact table, no extra shuffle per bucket.
# ---------------------------------------------------------------------------
@query(
    "conditional_agg",
    oracle=f"""
    SELECT l_linestatus,
           {dsum_sql("CASE WHEN l_quantity BETWEEN 1 AND 10 THEN l_extendedprice ELSE 0 END", 'rev_small')},
           {dsum_sql("CASE WHEN l_quantity BETWEEN 11 AND 30 THEN l_extendedprice ELSE 0 END", 'rev_mid')},
           {dsum_sql("CASE WHEN l_quantity > 30 THEN l_extendedprice ELSE 0 END", 'rev_big')},
           CAST(SUM(CASE WHEN l_returnflag IN ('A', 'R') AND NOT l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned_closed
    FROM lineitem
    GROUP BY l_linestatus
    """,
    tags=("agg", "case", "between", "in"),
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_linestatus").agg(
        dsum(F.when(qty.between(1, 10), price).otherwise(F.lit(0.0)), "rev_small"),
        dsum(F.when(qty.between(11, 30), price).otherwise(F.lit(0.0)), "rev_mid"),
        dsum(F.when(qty > 30, price).otherwise(F.lit(0.0)), "rev_big"),
        F.sum(
            F.when(F.col("l_returnflag").isin("A", "R") & ~(F.col("l_linestatus") == "O"), 1).otherwise(0)
        ).alias("n_returned_closed"),
    )


# ---------------------------------------------------------------------------
# GROUP BY ROLLUP + grouping() + rank within rollup level — tpcds/q70.sql:5-10
# and q5/q86 (SURVEY.md §2.4-2.5). NULL label rows normalized via coalesce
# so both engines hash identically (SURVEY.md §7.3 hard-parts note).
# ---------------------------------------------------------------------------
@query(
    "rollup_grouping",
    oracle=f"""
    WITH r AS (
      SELECT COALESCE(r_name, '(all)') AS region_name,
             COALESCE(n_name, '(all)') AS nation_name,
             GROUPING(r_name) + GROUPING(n_name) AS lochierarchy,
             GROUPING(n_name) AS g_nation,
             {dsum_sql('c_acctbal', 'total_bal')},
             COUNT(*) AS n_cust
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
    )
    SELECT region_name, nation_name, lochierarchy, total_bal, n_cust,
           RANK() OVER (PARTITION BY lochierarchy, CASE WHEN g_nation = 0 THEN region_name END
                        ORDER BY total_bal DESC, nation_name) AS rank_within_parent
    FROM r
    """,
    tags=("rollup", "grouping", "window"),
)
def rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    base = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    )
    rolled = (
        base.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") + F.grouping("n_name")).alias("lochierarchy"),
            F.grouping("n_name").alias("g_nation"),
            dsum(F.col("c_acctbal"), "total_bal"),
            F.count(F.lit(1)).alias("n_cust"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("(all)")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("(all)")).alias("nation_name"),
            "lochierarchy",
            "g_nation",
            "total_bal",
            "n_cust",
        )
    )
    w = Window.partitionBy(
        "lochierarchy", F.when(F.col("g_nation") == 0, F.col("region_name"))
    ).orderBy(F.col("total_bal").desc(), F.col("nation_name"))
    return rolled.select(
        "region_name",
        "nation_name",
        "lochierarchy",
        "total_bal",
        "n_cust",
        F.rank().over(w).alias("rank_within_parent"),
    )


# ---------------------------------------------------------------------------
# Multi-table inner equi-join fan (fact → 2 dims) — the dominant TPC-DS shape
# (SURVEY.md §2.3): lineitem ⋈ part ⋈ supplier, grouped by brand.
# ---------------------------------------------------------------------------
@query(
    "join_inner",
    oracle=f"""
    SELECT p_brand, s_nationkey,
           {dsum_sql('l_quantity', 'total_qty')},
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_size > 20
    GROUP BY p_brand, s_nationkey
    """,
    tags=("join",),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_size") > 20)
    supp = table(spark, sf_dir, "supplier")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("p_brand", "s_nationkey")
        .agg(dsum(F.col("l_quantity"), "total_qty"), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# Explicit multi-key equi-join (JOIN ... ON k1 AND k2) — tpcds/q2.sql,
# q64.sql (SURVEY.md §2.3): per-(order,supplier) aggregate joined back to
# line level on both keys.
# ---------------------------------------------------------------------------
@query(
    "join_multikey",
    oracle=f"""
    WITH os AS (
      SELECT l_orderkey AS k_order, l_suppkey AS k_supp,
             COUNT(*) AS n_lines, {dsum_sql('l_quantity', 'supp_qty')}
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           {dsum_sql('l_quantity / supp_qty', 'qty_share_sum')}
    FROM lineitem
    JOIN os ON l_orderkey = k_order AND l_suppkey = k_supp
    WHERE n_lines > 1
    GROUP BY l_returnflag
    """,
    tags=("join", "multikey"),
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    os_agg = li.groupBy(
        F.col("l_orderkey").alias("k_order"), F.col("l_suppkey").alias("k_supp")
    ).agg(F.count(F.lit(1)).alias("n_lines"), dsum(F.col("l_quantity"), "supp_qty"))
    return (
        li.join(
            os_agg,
            (li.l_orderkey == os_agg.k_order) & (li.l_suppkey == os_agg.k_supp),
        )
        .filter(F.col("n_lines") > 1)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_quantity") / F.col("supp_qty"), "qty_share_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Global multi-column ORDER BY with explicit NULL placement + LIMIT —
# SURVEY.md §2.6 (91/103 files end in ORDER BY, e.g. tpcds/q70.sql:34-35).
# NULLs synthesized via nullif (FIXTURES.md note); unique tiebreaker keeps
# the LIMIT deterministic.
# ---------------------------------------------------------------------------
@query(
    "orderby_nulls",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           NULLIF(ROUND(c_acctbal, 0), 0.0) AS bal_rounded
    FROM customer
    ORDER BY bal_rounded DESC NULLS FIRST, c_mktsegment ASC, c_custkey ASC
    LIMIT 25
    """,
    tags=("sort", "nulls", "limit"),
)
def orderby_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    bal = F.nullif(F.round(F.col("c_acctbal"), 0), F.lit(0.0))
    return (
        c.select("c_custkey", "c_mktsegment", bal.alias("bal_rounded"))
        .orderBy(
            F.col("bal_rounded").desc_nulls_first(),
            F.col("c_mktsegment").asc(),
            F.col("c_custkey").asc(),
        )
        .limit(25)
    )


# ---------------------------------------------------------------------------
# LEFT OUTER JOIN with NULL handling — tpcds/q80.sql, q77.sql (SURVEY.md §2.3).
# Orders left-joined to their high-quantity lines; unmatched → NULL branch.
# ---------------------------------------------------------------------------
@query(
    "join_left",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN big.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_big_lines,
           {dsum_sql('COALESCE(big.big_qty, 0)', 'total_big_qty')}
    FROM orders
    LEFT JOIN (
      SELECT l_orderkey, {dsum_sql('l_quantity', 'big_qty')}
      FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey
    ) big ON o_orderkey = big.l_orderkey
    GROUP BY o_orderstatus
    """,
    tags=("join", "outer"),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = table(spark, sf_dir, "orders")
    big = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "big_qty"))
    )
    return (
        ords.join(big, ords.o_orderkey == big.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("n_without_big_lines"),
            dsum(F.coalesce(F.col("big_qty"), F.lit(0.0)), "total_big_qty"),
        )
    )


# ---------------------------------------------------------------------------
# FULL OUTER JOIN of two aggregated series — tpcds/q51.sql (SURVEY.md §2.3).
# Order-side vs lineitem-side daily revenue, dates don't fully overlap.
# ---------------------------------------------------------------------------
@query(
    "join_full",
    oracle=f"""
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS d, {dsum_sql('o_totalprice', 'order_rev')}
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ), l AS (
      SELECT CAST(l_shipdate AS DATE) AS d, {dsum_sql('l_extendedprice', 'ship_rev')}
      FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
    )
    SELECT COALESCE(o.d, l.d) AS day,
           COALESCE(order_rev, 0) AS order_rev,
           COALESCE(ship_rev, 0) AS ship_rev,
           CASE WHEN o.d IS NULL THEN 'ship_only'
                WHEN l.d IS NULL THEN 'order_only'
                ELSE 'both' END AS presence
    FROM o FULL OUTER JOIN l ON o.d = l.d
    """,
    tags=("join", "outer", "full"),
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .groupBy(_d("o_orderdate").alias("od"))
        .agg(dsum(F.col("o_totalprice"), "order_rev"))
    )
    l = (
        table(spark, sf_dir, "lineitem")
        .groupBy(_d("l_shipdate").alias("ld"))
        .agg(dsum(F.col("l_extendedprice"), "ship_rev"))
    )
    j = o.join(l, o.od == l.ld, "full")
    return j.select(
        F.coalesce(F.col("od"), F.col("ld")).alias("day"),
        F.coalesce(F.col("order_rev"), F.lit(0.0)).alias("order_rev"),
        F.coalesce(F.col("ship_rev"), F.lit(0.0)).alias("ship_rev"),
        F.when(F.col("od").isNull(), "ship_only")
        .when(F.col("ld").isNull(), "order_only")
        .otherwise("both")
        .alias("presence"),
    )


# ---------------------------------------------------------------------------
# Semi-join (EXISTS / IN-subquery → left_semi) — tpcds/q10.sql:23-35,
# q14a/q82 (SURVEY.md §2.3, §2.9). Catalyst's RewritePredicateSubquery does
# the same rewrite for the SQL form.
# ---------------------------------------------------------------------------
@query(
    "join_semi",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    GROUP BY c_nationkey
    """,
    tags=("join", "semi", "subquery"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    f_orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        cust.join(f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Anti-join (NOT EXISTS → left_anti) — tpcds/q16.sql:19, q69 (SURVEY.md §2.3).
# ---------------------------------------------------------------------------
@query(
    "join_anti",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers_no_orders
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    tags=("join", "anti", "subquery"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    ords = table(spark, sf_dir, "orders")
    return (
        cust.join(ords, cust.c_custkey == ords.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    )


# ---------------------------------------------------------------------------
# Theta join: equi-key + non-equi date predicate — tpcds/q72.sql
# (`d3.d_date > d1.d_date + interval 5 days`, SURVEY.md §2.3). Planned as
# SMJ/SHJ on the equi key with the range predicate as residual filter.
# ---------------------------------------------------------------------------
@query(
    "join_theta",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_late_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
     AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
    GROUP BY o_orderpriority
    """,
    tags=("join", "theta", "interval"),
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    ords = table(spark, sf_dir, "orders")
    cond = (li.l_orderkey == ords.o_orderkey) & (
        _d("l_shipdate") > F.date_add(_d("o_orderdate"), 60)
    )
    return (
        li.join(ords, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_lines"))
    )


# ---------------------------------------------------------------------------
# Self-join: year-over-year revenue ratio — tpcds/q2.sql (wswscs y vs y+1,
# SURVEY.md §2.3), incl. round() on a ratio (§2.8).
# ---------------------------------------------------------------------------
@query(
    "self_join",
    oracle=f"""
    WITH yearly AS (
      SELECT year(CAST(o_orderdate AS DATE)) AS yr, {dsum_sql('o_totalprice', 'rev')}
      FROM orders GROUP BY year(CAST(o_orderdate AS DATE))
    )
    SELECT a.yr AS yr, ROUND(b.rev / a.rev, 4) AS yoy_ratio
    FROM yearly a JOIN yearly b ON b.yr = a.yr + 1
    """,
    tags=("join", "self", "cte"),
)
def self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    yearly = (
        table(spark, sf_dir, "orders")
        .groupBy(F.year(_d("o_orderdate")).alias("yr"))
        .agg(dsum(F.col("o_totalprice"), "rev"))
    )
    a, b = yearly.alias("a"), yearly.alias("b")
    return a.join(b, F.col("b.yr") == F.col("a.yr") + 1).select(
        F.col("a.yr").alias("yr"),
        F.round(F.col("b.rev") / F.col("a.rev"), 4).alias("yoy_ratio"),
    )


# ---------------------------------------------------------------------------
# Cartesian product (guarded small×small) — crossJoin enabled in the
# reference (TPCDSQueryBenchmark.scala:58, SURVEY.md §2.3).
# ---------------------------------------------------------------------------
@query(
    "cross_join",
    oracle="""
    SELECT r_name, p_brand, COUNT(*) AS n_combos
    FROM region CROSS JOIN (SELECT DISTINCT p_brand FROM part) b
    GROUP BY r_name, p_brand
    """,
    tags=("join", "cross"),
)
def cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    reg = table(spark, sf_dir, "region")
    brands = table(spark, sf_dir, "part").select("p_brand").distinct()
    return reg.crossJoin(brands).groupBy("r_name", "p_brand").agg(F.count(F.lit(1)).alias("n_combos"))


# ---------------------------------------------------------------------------
# Broadcast dimension join, explicit hint — the reference forces this class
# of plan via a 20 MB autoBroadcastJoinThreshold (TPCDSQueryBenchmark.scala:57,
# SURVEY.md §2.3). At 100 TB the fact side never shuffles for dim joins.
# ---------------------------------------------------------------------------
@query(
    "broadcast_dim_join",
    oracle=f"""
    SELECT r_name, {dsum_sql('c_acctbal', 'total_bal')}, COUNT(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("join", "broadcast"),
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nat = F.broadcast(table(spark, sf_dir, "nation"))
    reg = F.broadcast(table(spark, sf_dir, "region"))
    return (
        cust.join(nat, cust.c_nationkey == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(dsum(F.col("c_acctbal"), "total_bal"), F.count(F.lit(1)).alias("n_cust"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-shaped shipping-priority query: the 3-way cust→orders→lineitem
# spine with date predicates on both fact tables, agg, and sorted top-k —
# the exact scan→filter→join→agg→sort→limit chain 91/103 of the reference's
# TPC-DS corpus follows (SURVEY.md §7.1.2). Broadcast the filtered customer
# segment; l_orderkey tiebreaker keeps LIMIT deterministic.
# ---------------------------------------------------------------------------
@query(
    "shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
           CAST(o_orderdate AS DATE) AS odate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "spine", "topk", "tpch"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-03-15").cast("date")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("odate"),
            "o_orderpriority",
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "odate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5-shaped local-supplier volume: 6-way join (two independent paths
# to nation — customer's and supplier's — constrained equal), region filter,
# group by nation. The widest join tree in the suite; dims broadcast, facts
# hash-join on their keys.
# ---------------------------------------------------------------------------
@query(
    "local_supplier_volume",
    oracle=f"""
    SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    GROUP BY n_name
    """,
    tags=("join", "spine", "multiway", "tpch"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey")
    )
    # Examined for a spread() (r11 opt): A/B-neutral (best 1.32→1.27 s at
    # equal calibration) — the fact side already feeds a shuffle join, so
    # the lone scan task pays one exchange write either way. Left alone.
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = F.broadcast(table(spark, sf_dir, "nation"))
    reg = F.broadcast(table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nat, supp.s_nationkey == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q14-shaped promo revenue: fact→part join on l_partkey (the one join
# key no other query exercises), PROMO share via conditional aggregation
# over the joined rows — ratio-of-conditional-sums, tpcds/q9-family shape.
# part is a broadcastable mid-dim; the fact side never shuffles.
# ---------------------------------------------------------------------------
@query(
    "promo_revenue",
    oracle=f"""
    SELECT p_brand,
           {dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 'promo_rev')},
           {dsum_sql('l_extendedprice * (1 - l_discount)', 'total_rev')},
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-07-01'
    GROUP BY p_brand
    """,
    tags=("join", "partkey", "conditional_agg", "tpch"),
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (_d("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (_d("l_shipdate") < F.lit("1997-07-01").cast("date"))
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)), "promo_rev"),
            dsum(rev, "total_rev"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Date-function breadth: extraction (year/quarter/month), datediff lag,
# last_day, add_months — the date arithmetic family around the corpus's
# `date + INTERVAL` pattern (SURVEY.md §2.8, tpcds/q5.sql:29, q72).
# ---------------------------------------------------------------------------
@query(
    "date_functions",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           COUNT(*) AS n_lines,
           {davg_sql("date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))", 'avg_ship_lag_days')},
           MAX(last_day(CAST(o_orderdate AS DATE))) AS latest_month_end,
           CAST(MIN(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH) AS DATE) AS earliest_plus_3mo
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '2000-01-01'
    GROUP BY year(o_orderdate), quarter(o_orderdate)
    """,
    tags=("date", "scalar_funcs"),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(
        (_d("o_orderdate") >= F.lit("1999-01-01").cast("date"))
        & (_d("o_orderdate") < F.lit("2000-01-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.year("o_orderdate").alias("yr"), F.quarter("o_orderdate").alias("qtr")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            davg(F.datediff(_d("l_shipdate"), _d("o_orderdate")), "avg_ship_lag_days"),
            F.max(F.last_day(_d("o_orderdate"))).alias("latest_month_end"),
            F.min(F.add_months(_d("o_orderdate"), 3)).alias("earliest_plus_3mo"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket affinity: part pairs co-occurring in the same order, top 25
# by support. The pair generation is a SELF-JOIN WITHIN ORDER BLOCKS
# (l_orderkey equi-join, part_a < part_b) — fan-out is bounded by
# lines-per-order (~7 in TPC-H at every SF), so candidate volume is
# ~C(7,2)·n_orders: linear in data, never all-pairs over parts. One
# shuffle on orderkey + one map-side-combined count on the pair.
# ---------------------------------------------------------------------------
@query(
    "orders_market_basket",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY support DESC, part_a, part_b
    LIMIT 25
    """,
    tags=("join", "self", "basket", "affinity"),
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread on the join key: at fixture size the build side broadcasts and
    # the probe (pair fan-out + partial pair-count) would otherwise run in
    # the lone single-row-group scan task (guide §2). Both join branches
    # derive from this one frame, so the exchange is planned once and
    # reused; no-op on a multi-split source.
    li = spread(
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, (a["ok"] == b["ok"]) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Correlation / covariance / OLS slope per group — computed from the five
# decimal-routed component sums (n, Σx, Σy, Σxy, Σx², Σy²) rather than the
# engines' native corr()/covar_samp(): the native accumulators sum doubles
# in partition order (non-deterministic across engines and parallelism),
# while component sums go through ROUND→DECIMAL→SUM and widen to
# DECIMAL(28,6)/(38,6) — exact, order-free, then one identical per-row
# double formula on both engines. Same single map-side-combined shuffle as
# any GROUP BY; the sufficient-statistics pattern every distributed ML
# preprocessing pass uses.
# ---------------------------------------------------------------------------
def _corr_sql_body() -> str:
    comp = {
        "sx": dsum_sql("l_quantity"),
        "sy": dsum_sql("l_extendedprice"),
        "sxy": dsum_sql("l_quantity * l_extendedprice"),
        "sxx": dsum_sql("l_quantity * l_quantity"),
        "syy": dsum_sql("l_extendedprice * l_extendedprice"),
    }
    cols = ",\n             ".join(f"{v} AS {k}" for k, v in comp.items())
    return f"""
    WITH comp AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             {cols}
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
           ROUND((n * sxy - sx * sy) / (n * (n - 1)), 6) AS covar_samp_qty_price,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND(sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx / n, 6) AS intercept
    FROM comp
    """


@query(
    "agg_correlation",
    oracle=_corr_sql_body(),
    tags=("agg", "corr", "sufficient-stats"),
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the five ROUND→DECIMAL partial sums are the query's CPU and
    # would otherwise run inside the lone single-row-group scan task
    # (guide §2 / BASELINE.md perf note); hash on the value pair avoids the
    # round-robin local sort. No-op on a multi-split source. Decimal sums
    # are order-free exact, so the result is partitioning-invariant.
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        ),
        "l_quantity",
        "l_extendedprice",
    )
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    comp = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x, "sx"),
        dsum(y, "sy"),
        dsum(x * y, "sxy"),
        dsum(x * x, "sxx"),
        dsum(y * y, "syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_num = n * sxy - sx * sy
    slope = cov_num / (n * sxx - sx * sx)
    return comp.select(
        "l_returnflag",
        "n",
        F.round(cov_num / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).alias("corr_qty_price"),
        F.round(cov_num / (n * (n - 1)), 6).alias("covar_samp_qty_price"),
        F.round(slope, 6).alias("slope"),
        F.round(sy / n - slope * sx / n, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Return-flag x line-status contingency matrix with row shares in basis
# points — the classic two-way categorical profile (3x2 cells,
# vocabulary-sized aggregation state at any SF). Integer-only.
# ---------------------------------------------------------------------------
@query(
    "returnflag_status_matrix",
    oracle="""
    WITH per AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    ), rowtot AS (
      SELECT l_returnflag, SUM(n) AS n_flag FROM per GROUP BY l_returnflag
    )
    SELECT p.l_returnflag, p.l_linestatus,
           CAST(p.n AS BIGINT) AS n_lines,
           CAST(p.n * 10000 // r.n_flag AS BIGINT) AS row_share_bp
    FROM per p JOIN rowtot r ON p.l_returnflag = r.l_returnflag
    ORDER BY p.l_returnflag, p.l_linestatus
    """,
    tags=("relational", "contingency", "profile"),
)
def returnflag_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))
    rowtot = per.groupBy("l_returnflag").agg(F.sum("n").alias("n_flag"))
    return (
        per.join(rowtot, "l_returnflag")
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("n").cast("bigint").alias("n_lines"),
            F.expr("CAST(n * 10000 DIV n_flag AS BIGINT)").alias("row_share_bp"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )

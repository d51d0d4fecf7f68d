"""ML-adjacent pipeline operators: smoothing, scoring, link prediction,
entity resolution.

Beyond-reference surface (the reference's workload set is TPC-DS SQL + RDD
shuffle jobs, SURVEY.md §0; a production data platform built on it runs
exactly these four shapes downstream of the relational spine):

- `events_ewma`           — exponentially-weighted smoothing of a metric
  stream (monitoring / feature engineering), the batch twin of a stateful
  streaming smoother.
- `text_hash_classifier`  — a fastText-style hashed-bag-of-words linear
  model scored corpus-wide (the standard quality-filter stage of an LLM
  data pipeline: hash tokens → fixed weight table → per-doc score).
- `graph_common_neighbors`— common-neighbor link prediction over the
  supplier↔customer co-purchase graph (same node set as graph.py).
- `er_blocked_linkage`    — blocked entity resolution / record linkage
  with edit-distance verification (dedup of entity tables, not documents).
- `events_attribution`    — first/last-touch marketing attribution
  (IGNORE-NULLS window carry-forward of the latest click per user).
- `events_winsorized_revenue` — robust aggregation: clamp a metric to
  per-group exact order-statistic cutoffs (p05/p95) before summing.

Determinism conventions (CLAUDE.md):
- No floats in any aggregate: EWMA runs in BIGINT micro-units with
  bit-shift halving (the graph.py::graph_pagerank fixed-point pattern);
  classifier weights are small integers; link-prediction and ER outputs
  are counts. Nothing here can hit a cross-engine ROUND tie.
- All "randomness" (the classifier's weight table) is md5-derived.
- LIMIT queries order by a unique tiebreak.

Scale notes per operator are in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.plans.oracle import dsum_sql
from spark_cherry_shuffle_service_spark.plans.registry import query
from spark_cherry_shuffle_service_spark.sources.catalog import pin, table


# ---------------------------------------------------------------------------
# EWMA smoothing, fixed-point. s_i = Σ_{k=0..7} v_{i-k} / 2^(k+1): the
# 8-term truncated kernel of the classic alpha=0.5 recursive EWMA
# (term 9+ contributes < 2^-9 of a centi-unit — below the output's 1e-6
# resolution for this value range). Working representation is BIGINT
# micro-units; halving is an arithmetic right shift, so every engine at
# every parallelism computes the identical integer (value is a 2-dp
# double, so ROUND(value*1e6) is ≥ 1e5 ulps from any .5 boundary).
#
# Scale: one hash-partitioned window per user_id — a single shuffle, state
# bounded by the 8-row frame. At 100 TB this is the textbook sessionized
# window; no global ordering anywhere. The user_id < 30 filter is a
# partition-key predicate (pushed to the scan) and does not change any
# retained user's window.
# ---------------------------------------------------------------------------
_EWMA_TERMS = 8


def _ewma_sql() -> str:
    shifts = " + ".join(
        f"(COALESCE(lag(m, {k}) OVER w, 0) >> {k + 1})" for k in range(_EWMA_TERMS)
    )
    return f"""
    WITH src AS (
      SELECT user_id, event_id, ts, value,
             CAST(ROUND(value * 1000000) AS BIGINT) AS m
      FROM events WHERE user_id < 30
    )
    SELECT user_id, event_id, ts, value,
           CAST({shifts} AS BIGINT) AS ewma_micro
    FROM src
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, ts, event_id
    """


@query(
    "events_ewma",
    oracle=_ewma_sql(),
    tags=("events", "timeseries", "window", "fixed_point"),
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    src = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.round(F.col("value") * 1000000).cast("long").alias("m"),
    )
    ewma = None
    for k in range(_EWMA_TERMS):
        lagged = F.coalesce(F.lag("m", k).over(w), F.lit(0).cast("long"))
        term = F.shiftright(lagged, k + 1)
        ewma = term if ewma is None else ewma + term
    return (
        src.select(
            "user_id",
            "event_id",
            "ts",
            "value",
            ewma.cast("long").alias("ewma_micro"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


# ---------------------------------------------------------------------------
# Hashed-bag-of-words linear classifier (fastText-style quality filter).
# Feature hashing: token → md5 → bucket ∈ [0, 1024); the weight table is a
# pure function of the bucket (md5-derived small integer in [-6, 6]), so
# both engines share the "model" with no side file. Score = Σ weights —
# integer, exact.
#
# Scale: the Spark side is a PURE PROJECTION — split → transform →
# aggregate higher-order functions, zero explode, zero Python. Scoring
# 100 TB costs one scan plus a narrow-input spread; this is the shape a
# real quality-classifier pass must have (per-row map, no wide edges).
# The single-file fixture scans as ONE partition, so the per-token md5
# HOF work is repartitioned across cores first (repo convention,
# dedup.py::_minhash_pair_frame; BASELINE.md's 206 s → 5.5 s precedent —
# this query's cold run stalled round 5's bench exactly this way). The
# oracle uses unnest + GROUP BY (DuckDB has no integer-aggregate HOF) —
# same semantics, different dataflow.
# ---------------------------------------------------------------------------
_N_BUCKETS = 1024


@query(
    "text_hash_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE t <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM((('0x' || substr(md5(t), 1, 4))::BIGINT % {_N_BUCKETS}) % 13 - 6) AS BIGINT) AS score,
           CASE WHEN SUM((('0x' || substr(md5(t), 1, 4))::BIGINT % {_N_BUCKETS}) % 13 - 6) > 0
                THEN 1 ELSE 0 END AS label
    FROM tok
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "datapipe", "classifier", "hof"),
)
def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    docs = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))

    def weight(t: F.Column) -> F.Column:
        bucket = F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long") % _N_BUCKETS
        return bucket % 13 - 6

    score = F.aggregate(
        F.transform(toks, weight), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            score.alias("score"),
            F.when(score > 0, 1).otherwise(0).alias("label"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Common-neighbor link prediction over the supplier↔customer co-purchase
# graph (the graph.py node set, restricted to a 6-month trade window so
# the bipartite graph is sparse enough for exact common-neighbor counts).
# Classic CN score: suppliers sharing many customers are likely "linked".
#
# Scale: the self-join on the shared customer is Σ_c deg(c)² — the op
# degree-caps hub customers (deg > 64 excluded, standard in link
# prediction: hubs carry no signal and dominate cost). At 100 TB you add
# the deterministic minwise edge-sampling sketch (keep edges where
# md5(s) % k = 0) before the self-join — same top-pairs ranking,
# 1/k² the join. All outputs are integer counts: no float anywhere.
# ---------------------------------------------------------------------------
_CN_WINDOW = ("TIMESTAMP '1997-01-01'", "TIMESTAMP '1997-07-01'")
_CN_DEGCAP = 64


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= {_CN_WINDOW[0]} AND l_shipdate < {_CN_WINDOW[1]}
    ), cdeg AS (
      SELECT c, COUNT(*) AS d FROM pairs GROUP BY c
    ), kept AS (
      SELECT p.s, p.c FROM pairs p JOIN cdeg ON cdeg.c = p.c WHERE cdeg.d <= {_CN_DEGCAP}
    ), sdeg AS (
      SELECT s, COUNT(*) AS d FROM kept GROUP BY s
    ), cn AS (
      SELECT a.s AS s1, b.s AS s2, COUNT(*) AS common
      FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT cn.s1, cn.s2, CAST(cn.common AS BIGINT) AS common,
           CAST(d1.d AS BIGINT) AS deg1, CAST(d2.d AS BIGINT) AS deg2
    FROM cn JOIN sdeg d1 ON d1.s = cn.s1 JOIN sdeg d2 ON d2.s = cn.s2
    ORDER BY common DESC, s1, s2
    LIMIT 20
    """,
    tags=("graph", "link_prediction", "self_join"),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    pairs = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    # Degree cap via a window over the SAME c the self-join probes (the
    # pagerank degree-window move): the groupBy+join-back form evaluated the
    # un-pinned pairs subtree TWICE (once for cdeg, once for the probe) and
    # spent a join; count over (partition by c) on the distinct pairs is
    # exactly cdeg.d, one evaluation, no join.
    kept = (
        pairs.withColumn("d", F.count(F.lit(1)).over(Window.partitionBy("c")))
        .filter(F.col("d") <= _CN_DEGCAP)
        .select("s", "c")
        # Pinned until the harness's release_persisted() (SCALE.md §persist).
        .transform(pin)
    )
    sdeg = kept.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a, b = kept.alias("a"), kept.alias("b")
    cn = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    return (
        cn.join(sdeg.withColumnRenamed("s", "s1").withColumnRenamed("d", "deg1"), "s1")
        .join(sdeg.withColumnRenamed("s", "s2").withColumnRenamed("d", "deg2"), "s2")
        .select("s1", "s2", "common", "deg1", "deg2")
        .orderBy(F.desc("common"), "s1", "s2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Blocked entity resolution over the customer entity table: candidate
# pairs only within a (nation, name-prefix) block, verified by
# levenshtein edit distance (a JVM built-in in Spark AND a DuckDB
# built-in — integer, engine-identical). Reported per-nation so the
# output is a bounded audit table.
#
# Scale: blocking is THE ER scale technique — candidates are
# Σ_blocks |block|², never n². The prefix length must actually
# discriminate: prefix 14 covers only the first 5 digits of the 9-digit
# customer ordinal, so every customer under id 10000 lands in ONE block
# per nation and the verify stage goes quadratic (measured 6.7 s at
# sf0.1 vs 0.9 s with prefix 16 — the same cliff a real pipeline hits
# when a block key under-discriminates). Prefix 16 bounds blocks at
# ~100 ids ÷ 25 nations at every SF; at 100 TB you lengthen it again or
# switch to a phonetic/LSH key. No float anywhere.
# ---------------------------------------------------------------------------
_ER_PREFIX = 16
_ER_MAXDIST = 1


@query(
    "er_blocked_linkage",
    oracle=f"""
    WITH blocked AS (
      SELECT c_custkey, c_name, c_nationkey, substr(c_name, 1, {_ER_PREFIX}) AS blk
      FROM customer
    ), cand AS (
      SELECT a.c_nationkey AS nationkey,
             levenshtein(a.c_name, b.c_name) AS dist
      FROM blocked a JOIN blocked b
        ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
       AND a.c_custkey < b.c_custkey
    )
    SELECT nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN dist <= {_ER_MAXDIST} THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
           CAST(MIN(dist) AS BIGINT) AS min_dist
    FROM cand
    GROUP BY nationkey
    ORDER BY nationkey
    """,
    tags=("entity_resolution", "dedup", "blocking", "levenshtein"),
)
def er_blocked_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", F.substring("c_name", 1, _ER_PREFIX).alias("blk")
    )
    a, b = cust.alias("a"), cust.alias("b")
    cand = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_nationkey").alias("nationkey"),
        F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("dist"),
    )
    return (
        cand.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("dist") <= _ER_MAXDIST, 1).otherwise(0)).cast("long").alias("n_matches"),
            F.min("dist").cast("long").alias("min_dist"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# First/last-touch attribution: every purchase is credited to the FIRST
# and the LATEST preceding click of the same user — the IGNORE-NULLS
# window carry-forward idiom (the SQL shape marketing attribution,
# sensor forward-fill, and last-known-location queries all share).
# Attribution lag is computed in integer epoch microseconds: exact.
#
# Scale: one hash-partitioned window per user_id — the same single
# shuffle as any sessionization; state is O(1) per user (two carried
# values). The user_id < 50 filter is a partition-key predicate pushed
# to the scan; retained users keep complete windows.
# ---------------------------------------------------------------------------
@query(
    "events_attribution",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type, value,
             first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER w AS first_click_id,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER w AS last_click_id,
             last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
               OVER w AS last_click_us
      FROM events WHERE user_id < 50
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id AS purchase_id, value,
           first_click_id, last_click_id,
           CAST(epoch_us(ts) - last_click_us AS BIGINT) AS lag_us
    FROM marked
    WHERE event_type = 'purchase' AND last_click_id IS NOT NULL
    ORDER BY user_id, purchase_id
    """,
    tags=("events", "attribution", "window", "ignore_nulls"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_us = F.when(F.col("event_type") == "click", F.unix_micros("ts"))
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.first(click_id, ignorenulls=True).over(w).alias("first_click_id"),
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_us, ignorenulls=True).over(w).alias("last_click_us"),
    )
    return (
        marked.filter((F.col("event_type") == "purchase") & F.col("last_click_id").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "value",
            "first_click_id",
            "last_click_id",
            (F.unix_micros("ts") - F.col("last_click_us")).cast("long").alias("lag_us"),
        )
        .orderBy("user_id", "purchase_id")
    )


# ---------------------------------------------------------------------------
# Winsorized (robust) aggregation: clamp value to per-event_type
# [p05, p95] before summing, so a handful of outliers can't dominate the
# metric. The cutoffs are EXACT ORDER STATISTICS computed manually
# (row_number vs ceil(p·n), not percentile_cont) — selected elements are
# actual 2-dp data values, so the clamped dsum can't hit a cross-engine
# rounding tie, and the same formula runs verbatim on both engines
# (engines disagree on quantile interpolation, never on element picks).
#
# Scale: two shuffles — the ranking window per event_type and the final
# group-by. The cutoff table is |event_types| rows (SF-invariant,
# broadcast-eligible by AQE; no hint needed at fixture sizes).
# ---------------------------------------------------------------------------
@query(
    "events_winsorized_revenue",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), cuts AS (
      SELECT event_type,
             MIN(CASE WHEN rn >= CEIL(0.05 * n) THEN value END) AS lo,
             MIN(CASE WHEN rn >= CEIL(0.95 * n) THEN value END) AS hi
      FROM ranked GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN r.value < c.lo OR r.value > c.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
           c.lo, c.hi,
           {dsum_sql('LEAST(GREATEST(r.value, c.lo), c.hi)', 'winsorized_sum')}
    FROM ranked r JOIN cuts c ON r.event_type = c.event_type
    GROUP BY r.event_type, c.lo, c.hi
    ORDER BY r.event_type
    """,
    tags=("events", "robust_agg", "order_statistics"),
)
def events_winsorized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_cherry_shuffle_service_spark.functions.aggregates import dsum

    ev = table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_all = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    # r11 opt (guide §2.4): the cutoffs are per-partition aggregates of the
    # ranked rows, so compute them as window MIN(CASE…) over the SAME
    # event_type partitioning instead of a groupBy + join-back — the old
    # shape recomputed the ranking window on both join inputs. One window
    # pipeline, no join; identical selected elements.
    clamped = ranked.select(
        "event_type",
        "value",
        F.min(F.when(F.col("rn") >= F.ceil(0.05 * F.col("n")), F.col("value")))
        .over(w_all)
        .alias("lo"),
        F.min(F.when(F.col("rn") >= F.ceil(0.95 * F.col("n")), F.col("value")))
        .over(w_all)
        .alias("hi"),
    ).select(
        "event_type",
        "value",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("wv"),
    )
    return (
        clamped.groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_clamped"),
            dsum(F.col("wv"), "winsorized_sum"),
        )
        .select("event_type", "n_events", "n_clamped", "lo", "hi", "winsorized_sum")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Jaccard neighborhood similarity — the normalized companion of
# graph_common_neighbors (same co-purchase graph, same degree-capped
# candidate generation, so the two stay comparable audit-to-audit).
# jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| in ppm fixed-point:
# (1e6 · common) DIV (deg1 + deg2 − common) — integers end-to-end.
# Scale story identical to common_neighbors: candidates come from the
# shared-neighbor equi-join (never all-pairs), degree cap bounds the
# per-neighbor fan-out.
# ---------------------------------------------------------------------------
@query(
    "graph_jaccard_ppm",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= {_CN_WINDOW[0]} AND l_shipdate < {_CN_WINDOW[1]}
    ), cdeg AS (
      SELECT c, COUNT(*) AS d FROM pairs GROUP BY c
    ), kept AS (
      SELECT p.s, p.c FROM pairs p JOIN cdeg ON cdeg.c = p.c WHERE cdeg.d <= {_CN_DEGCAP}
    ), sdeg AS (
      SELECT s, COUNT(*) AS d FROM kept GROUP BY s
    ), cn AS (
      SELECT a.s AS s1, b.s AS s2, COUNT(*) AS common
      FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT cn.s1, cn.s2,
           CAST((1000000 * cn.common) // (d1.d + d2.d - cn.common) AS BIGINT)
             AS jaccard_ppm,
           CAST(cn.common AS BIGINT) AS common
    FROM cn JOIN sdeg d1 ON d1.s = cn.s1 JOIN sdeg d2 ON d2.s = cn.s2
    ORDER BY jaccard_ppm DESC, s1, s2
    LIMIT 20
    """,
    tags=("graph", "link_prediction", "fixed_point"),
)
def graph_jaccard_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    pairs = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    # Same degree-cap-as-window move as graph_common_neighbors (one
    # evaluation of pairs, no groupBy+join-back).
    kept = (
        pairs.withColumn("d", F.count(F.lit(1)).over(Window.partitionBy("c")))
        .filter(F.col("d") <= _CN_DEGCAP)
        .select("s", "c")
        # Pinned until the harness's release_persisted() (SCALE.md §persist).
        .transform(pin)
    )
    sdeg = kept.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a, b = kept.alias("a"), kept.alias("b")
    cn = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    return (
        cn.join(sdeg.withColumnRenamed("s", "s1").withColumnRenamed("d", "deg1"), "s1")
        .join(sdeg.withColumnRenamed("s", "s2").withColumnRenamed("d", "deg2"), "s2")
        .select(
            "s1",
            "s2",
            F.expr("(1000000 * common) DIV (deg1 + deg2 - common)").alias("jaccard_ppm"),
            "common",
        )
        .orderBy(F.desc("jaccard_ppm"), "s1", "s2")
        .limit(20)
    )

"""Training-data pipeline operators: sampling, splitting, packing, mixing.

The north-star extension surface (build brief): the operations a
large-scale LLM training-data pipeline runs over a 100 TB corpus between
raw scrape and tokenized shards. The reference exercises none of these
(its surface is TPC-DS + RDD shuffle workloads, SURVEY.md §0), so these are
beyond-reference operators over the `documents` fixture table.

Determinism convention: every sampling/splitting decision is a pure
function of md5(doc_id) — no RNG, no partition-order dependence — so
results are bit-identical across engines (DuckDB oracle) and at any
parallelism, and a re-run over 100 TB assigns every document the same
split/sample/bucket (the property production pipelines need for
reproducible dataset cards). md5, never murmur `hash()` (CLAUDE.md rule).

Scale notes: all operators are single-pass scans with conditional
aggregation or hash-partitioned windows. `pack_sequences` deliberately
packs within hash buckets — a single global running sum would serialize on
one reducer at 100 TB; per-bucket packing keeps every partition independent
(each bucket is one window partition) at the cost of at most one underfull
bin per bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.functions.aggregates import dsum
from spark_cherry_shuffle_service_spark.plans.oracle import dsum_sql
from spark_cherry_shuffle_service_spark.plans.registry import query
from spark_cherry_shuffle_service_spark.sources.catalog import pin, table


# md5(doc_id) → first 8 hex chars → BIGINT: the shared deterministic
# "random" source. Spark and DuckDB twins produce identical values
# (same pattern as dedup.py::dedup_simhash).
_H_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"


def _h() -> F.Column:
    return F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Deterministic uniform sampling: ~10% of the corpus via a hash-bucket
# predicate. Unlike df.sample() (RNG seeded per-partition, not reproducible
# across engines or repartitioning), the hash predicate is a pushable
# per-row filter: same sample at any parallelism, no extra pass.
# ---------------------------------------------------------------------------
@query(
    "sample_hash",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_H_SQL} % 10 = 0
    ORDER BY doc_id
    """,
    tags=("datapipe", "sampling"),
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(_h() % 10 == 0)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Train/validation/test split: 80/10/10 by hash bucket, with per-split
# corpus stats. One scan, one aggregation — the split column is a pure
# projection, so at 100 TB this is exactly as expensive as a count.
# ---------------------------------------------------------------------------
@query(
    "dataset_split",
    oracle=f"""
    SELECT CASE WHEN {_H_SQL} % 100 < 80 THEN 'train'
                WHEN {_H_SQL} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY 1
    """,
    tags=("datapipe", "split"),
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = _h() % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# Stratified sampling: fixed quota per language via row_number over the
# hash order (deterministic rank; doc_id tiebreak). The window partitions
# by stratum, so each language samples independently in parallel.
# ---------------------------------------------------------------------------
@query(
    "sample_stratified",
    oracle=f"""
    SELECT lang, doc_id, source
    FROM (
      SELECT lang, doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {_H_SQL}, doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
    tags=("datapipe", "sampling", "window"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_h(), "doc_id")
    return (
        docs.select("lang", "doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "source")
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing: assign documents to fixed-token-budget bins (context
# windows) via a running token sum. Packing runs WITHIN md5 buckets — each
# bucket is an independent window partition, so 100 TB packs in parallel
# (a single global cumsum would bottleneck one reducer); the cost is at
# most one underfull trailing bin per bucket. Token count is the
# whitespace-token proxy (text_token_count's ws convention).
# ---------------------------------------------------------------------------
@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_H_SQL} % 8 AS bucket,
             len(string_split_regex(trim(text), ' +')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT bucket, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT bucket, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           ROUND(SUM(n_tokens) / 512.0, 6) AS fill_ratio
    FROM packed
    GROUP BY bucket, bin_id
    ORDER BY bucket, bin_id
    """,
    tags=("datapipe", "packing", "window"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (_h() % 8).alias("bucket"),
        F.size(F.split(F.trim(F.col("text")), " +")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.select(
        "bucket",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512).alias("bin_id"),
    )
    return (
        packed.groupBy("bucket", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.round(F.sum("n_tokens") / 512.0, 6).alias("fill_ratio"),
        )
        .orderBy("bucket", "bin_id")
    )


# ---------------------------------------------------------------------------
# Corpus filter funnel: per-stage survivor counts of a chained quality
# filter (lang allowlist → length band → type-token-ratio floor, the
# repetition heuristic) in ONE pass — conditional aggregation instead of
# four filtered scans.
# ---------------------------------------------------------------------------
@query(
    "corpus_filter_funnel",
    oracle="""
    SELECT COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN lang IN ('en', 'de', 'fr') THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
           CAST(SUM(CASE WHEN lang IN ('en', 'de', 'fr')
                     AND n_chars BETWEEN 100 AND 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
           CAST(SUM(CASE WHEN lang IN ('en', 'de', 'fr')
                     AND n_chars BETWEEN 100 AND 2000
                     AND len(list_distinct(string_split_regex(trim(text), ' +')))
                         >= 0.4 * len(string_split_regex(trim(text), ' +'))
               THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok
    FROM documents
    """,
    tags=("datapipe", "quality", "funnel"),
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    lang_ok = F.col("lang").isin("en", "de", "fr")
    len_ok = lang_ok & F.col("n_chars").between(100, 2000)
    toks = F.split(F.trim(F.col("text")), " +")
    # Type-token ratio: repetitive (low-vocabulary) docs fail the floor.
    qual_ok = len_ok & (F.size(F.array_distinct(toks)) >= 0.4 * F.size(toks))
    return docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(lang_ok.cast("int")).alias("n_lang_ok"),
        F.sum(len_ok.cast("int")).alias("n_len_ok"),
        F.sum(qual_ok.cast("int")).alias("n_quality_ok"),
    )


# ---------------------------------------------------------------------------
# Corpus mixture weights: per-source token share and the upsampling weight
# that equalizes the mixture (uniform target across sources). Ratio of a
# global scalar aggregate (broadcast) to per-group sums — same decorrelated
# scalar-subquery shape as important_parts (Q11).
# ---------------------------------------------------------------------------
@query(
    "corpus_mixture",
    oracle=f"""
    WITH src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(string_split_regex(trim(text), ' +'))) AS BIGINT) AS src_tokens
      FROM documents GROUP BY source
    ), tot AS (SELECT SUM(src_tokens) AS total_tokens, COUNT(*) AS n_sources FROM src)
    SELECT source, n_docs, src_tokens,
           ROUND(src_tokens / CAST(total_tokens AS DOUBLE), 6) AS token_share,
           ROUND((CAST(total_tokens AS DOUBLE) / n_sources) / src_tokens, 6) AS mix_weight
    FROM src, tot
    ORDER BY source
    """,
    tags=("datapipe", "mixture"),
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), " +"))).alias("src_tokens"),
    )
    tot = src.agg(
        F.sum("src_tokens").alias("total_tokens"), F.count(F.lit(1)).alias("n_sources")
    )
    return (
        src.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            F.round(F.col("src_tokens") / F.col("total_tokens").cast("double"), 6).alias("token_share"),
            F.round(
                (F.col("total_tokens").cast("double") / F.col("n_sources")) / F.col("src_tokens"), 6
            ).alias("mix_weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination: drop every corpus document sharing a 5-gram
# with the held-out eval set — the standard benchmark-contamination guard a
# training pipeline runs before tokenization (13-grams in the usual
# published recipe; 5 here because fixture docs are 10-99 tokens). The
# eval set (doc_id < _EVAL_N, a fixed-size stand-in for a benchmark
# suite) is SF-invariant, so its distinct n-grams broadcast; corpus grams
# probe that set with a semi join — one scan + one broadcast join at any
# corpus size, never a corpus×corpus product.
# ---------------------------------------------------------------------------
_EVAL_N = 20
_DECON_W = 5
_SQL_GRAMS5 = (
    "list_distinct(list_transform(generate_series(1, len(t) - 4),"
    " i -> array_to_string(t[i:i+4], ' ')))"
)


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, {_SQL_GRAMS5} AS gr
      FROM (SELECT doc_id, source, string_split_regex(trim(text), ' +') AS t FROM documents)
    ), eval_g AS (
      SELECT DISTINCT unnest(gr) AS g FROM s WHERE doc_id < {_EVAL_N}
    ), corp AS (
      SELECT doc_id, source, gr FROM s WHERE doc_id >= {_EVAL_N}
    ), contaminated AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(gr) AS g FROM corp)
      WHERE g IN (SELECT g FROM eval_g)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM contaminated)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM contaminated)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_clean
    FROM corp GROUP BY source
    """,
    tags=("datapipe", "dedup", "decontamination", "scale"),
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_cherry_shuffle_service_spark.functions.text import shingles

    docs = (
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "source", shingles(F.col("text"), _DECON_W).alias("gr"))
        .transform(pin)  # eval grams + corpus probe both read it
    )
    eval_g = (
        docs.filter(F.col("doc_id") < _EVAL_N)
        .select(F.explode("gr").alias("g"))
        .distinct()
    )
    corp = docs.filter(F.col("doc_id") >= _EVAL_N)
    contaminated = (
        corp.select("doc_id", F.explode("gr").alias("g"))
        # fixed-size eval set -> SF-invariant broadcast (policy-compliant)
        .join(F.broadcast(eval_g), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(1))
    )
    return (
        corp.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_cont") == 1, 1).otherwise(0)).cast("long").alias("n_contaminated"),
            F.sum(F.when(F.col("is_cont") == 1, 0).otherwise(1)).cast("long").alias("n_clean"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget selection: keep the highest-quality documents until a fixed
# token budget is exhausted — the final "how much of the corpus makes the
# training mix" cut. A naive global running sum over (score DESC) is ONE
# reducer at 100 TB; instead the score is quantized into <= ~1000 buckets
# (monotone in score, so bucket-major order == global score order), the
# budget boundary is located on the TINY per-bucket rollup, and the exact
# within-bucket cut runs as a bucket-partitioned window — every partition
# independent, same rows as the global-window formulation (the oracle runs
# the global form; results are identical because floor(score*1000) is
# order-preserving and ties break on doc_id).
# ---------------------------------------------------------------------------
_BUDGET_TOKS = 20_000
_STOPS_SQL = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it']"
_TOKS_SQL = "string_split_regex(trim(text), ' +')"


@query(
    "corpus_token_budget",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, len(t) AS n_toks,
             len(list_filter(t, x -> list_contains({_STOPS_SQL}, x)))::DOUBLE / len(t) AS score
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ), cum AS (
      SELECT doc_id, n_toks, score,
             CAST(SUM(n_toks) OVER (ORDER BY score DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
      FROM scored
    )
    SELECT doc_id, ROUND(score, 6) AS score, n_toks, cum_toks
    FROM cum WHERE cum_toks <= {_BUDGET_TOKS}
    """,
    tags=("datapipe", "budget", "selection", "scale"),
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_cherry_shuffle_service_spark.operators.textanalysis import LANG_MARKERS

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split(F.trim(F.col("text")), " +")
    stops = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    scored = docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(stops, x))).cast("double")
            / F.size(toks)
        ).alias("score"),
    ).withColumn("bucket", F.floor(F.col("score") * 1000))
    # Per-bucket token totals: <= ~1000 rows regardless of corpus size
    # (SF-invariant), so the cross-bucket running sum is a trivially small
    # single-partition window; only within-bucket windows touch doc rows.
    per_bucket = scored.groupBy("bucket").agg(F.sum("n_toks").alias("btoks"))
    wb = Window.orderBy(F.col("bucket").desc()).rowsBetween(Window.unboundedPreceding, 0)
    prior = per_bucket.select(
        "bucket", (F.sum("btoks").over(wb) - F.col("btoks")).alias("prior_toks")
    )
    wd = (
        Window.partitionBy("bucket")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        scored.join(prior, "bucket")
        .select(
            "doc_id",
            F.round(F.col("score"), 6).alias("score"),
            "n_toks",
            (F.col("prior_toks") + F.sum("n_toks").over(wd)).alias("cum_toks"),
        )
        .filter(F.col("cum_toks") <= _BUDGET_TOKS)
    )


# ---------------------------------------------------------------------------
# Temperature-weighted language sampling (the mT5/XLM-R data-mixing move:
# raise per-language shares to alpha < 1 so low-resource languages are
# relatively upsampled, then realize the target mixture by deterministically
# DOWN-sampling over-represented languages; the largest relative weight
# keeps rate 1.0 so nothing is upsampled). The fixture's lang column is
# skewed (en ~43%), so the thresholds genuinely differ per stratum. Every keep/drop decision is a pure
# function of md5(doc_id) against an integer threshold — reproducible at
# any parallelism, re-runnable over 100 TB with identical output.
#
# Scale shape: one per-language count (map-side combined), a language-sized
# weight table (SF-invariant language set → broadcast-eligible by policy),
# one per-row filter on the scan. Thresholds are integers derived from
# ROUND(rate,6) via FLOOR(x*1e6+0.5) so the comparison has no float
# knife-edge between engines.
# ---------------------------------------------------------------------------
_TEMP_ALPHA = 0.6


@query(
    "corpus_temperature_sample",
    oracle=f"""
    WITH src AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), tot AS (SELECT SUM(n_docs) AS n FROM src),
    weighted AS (
      SELECT lang, n_docs,
             ROUND(n_docs / CAST(n AS DOUBLE), 6) AS share,
             ROUND(pow(n_docs / CAST(n AS DOUBLE), {_TEMP_ALPHA}), 6) AS w_raw
      FROM src, tot
    ), rated AS (
      SELECT lang, n_docs, share,
             ROUND(w_raw / share, 6) AS rel,
             CAST(FLOOR(ROUND((w_raw / share) / MAX(w_raw / share) OVER (), 6) * 1000000 + 0.5) AS BIGINT) AS keep_thresh
      FROM weighted
    )
    SELECT r.lang, r.n_docs, r.share, r.rel, r.keep_thresh,
           CAST(SUM(CASE WHEN {_H_SQL} % 1000000 < r.keep_thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN rated r USING (lang)
    GROUP BY r.lang, r.n_docs, r.share, r.rel, r.keep_thresh
    ORDER BY r.lang
    """,
    tags=("datapipe", "mixture", "sampling", "temperature"),
)
def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = src.agg(F.sum("n_docs").alias("n"))
    share = F.round(F.col("n_docs") / F.col("n").cast("double"), 6)
    w_raw = F.round(F.pow(F.col("n_docs") / F.col("n").cast("double"), F.lit(_TEMP_ALPHA)), 6)
    weighted = src.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs", share.alias("share"), w_raw.alias("w_raw")
    )
    rel_expr = F.col("w_raw") / F.col("share")
    rated = weighted.select(
        "lang",
        "n_docs",
        "share",
        F.round(rel_expr, 6).alias("rel"),
        F.floor(
            F.round(rel_expr / F.max(rel_expr).over(Window.partitionBy()), 6) * 1000000
            + 0.5
        )
        .cast("long")
        .alias("keep_thresh"),
    )
    return (
        docs.join(rated, "lang")
        .groupBy("lang", "n_docs", "share", "rel", "keep_thresh")
        .agg(
            F.sum(
                F.when(_h() % 1000000 < F.col("keep_thresh"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_kept")
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Weighted (probability-proportional-to-size) sampling: include doc i with
# probability min(1, k * w_i / W_source) where w = n_chars and W is the
# per-source weight total — the Poisson-sampling design whose expected
# sample size is k per source, with heavy docs preferentially kept (how a
# token-weighted pretraining subsample is drawn). The inclusion test
# u < p uses the md5-uniform u = (h+1)/2^32 — an exact rational on both
# engines — and one double divide; no transcendental functions (cross-
# engine libm drift in ln/pow is the hash-flake class this avoids; see
# the A-ES exp-key variant this replaces). Two passes over the scan: a
# 10-row weight-total aggregate (AQE-broadcast back), then the filtered
# per-source rollup. Decisions are pure per-row functions — identical on
# one executor or a thousand.
# ---------------------------------------------------------------------------
@query(
    "sample_weighted",
    oracle=f"""
    WITH w AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w_total,
             COUNT(*) AS n_docs
      FROM documents
    GROUP BY source
    ), marked AS (
      SELECT d.source, d.n_chars, w.w_total, w.n_docs,
             CASE WHEN ({_H_SQL} + 1) / 4294967296.0
                  < 200.0 * d.n_chars / w.w_total THEN 1 ELSE 0 END AS keep
      FROM documents d JOIN w USING (source)
    )
    SELECT source,
           MIN(n_docs) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars,
           MIN(w_total) AS total_chars
    FROM marked
    GROUP BY source
    """,
    tags=("sampling", "weighted", "datapipe"),
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("w_total"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    u = (_h() + 1) / F.lit(4294967296.0)
    keep = F.when(u < 200.0 * F.col("n_chars") / F.col("w_total"), 1).otherwise(0)
    return (
        docs.join(w, "source")
        .withColumn("keep", keep)
        .groupBy("source")
        .agg(
            F.min("n_docs").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_sampled"),
            F.sum(F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("sampled_chars"),
            F.min("w_total").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum ordering — easy-first training-data scheduling: static
# length bands (fixed thresholds, NOT a global ntile — a whole-table
# ntile is a single-partition window and dies at scale), deterministic
# md5 shuffle WITHIN band, and per-(band, shard) batch numbers. The shard
# models distributed data-loader workers: each of the 8 shards draws its
# own batch sequence, so the row_number window partitions by
# (band, shard) — bounded partitions at any SF, no global sort anywhere.
# Every assignment is a pure function of doc_id (md5 rule) — reruns and
# backfills produce identical curricula.
# ---------------------------------------------------------------------------
_CURR_BATCH = 16


@query(
    "corpus_curriculum",
    oracle=f"""
    WITH banded AS (
      SELECT doc_id,
             CASE WHEN n_chars < 300 THEN 0 WHEN n_chars < 600 THEN 1
                  WHEN n_chars < 1200 THEN 2 ELSE 3 END AS band,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS BIGINT) AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    )
    SELECT doc_id, band, shard,
           CAST((ROW_NUMBER() OVER (PARTITION BY band, shard ORDER BY h, doc_id) - 1)
                // {_CURR_BATCH} AS BIGINT) AS batch_in_shard
    FROM banded
    """,
    tags=("datapipe", "curriculum", "ordering"),
)
def corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 8
    )
    band = (
        F.when(F.col("n_chars") < 300, 0)
        .when(F.col("n_chars") < 600, 1)
        .when(F.col("n_chars") < 1200, 2)
        .otherwise(3)
    )
    banded = docs.select(
        "doc_id", band.alias("band"), shard.alias("shard"), h.alias("h")
    )
    w = Window.partitionBy("band", "shard").orderBy("h", "doc_id")
    return banded.select(
        "doc_id",
        "band",
        "shard",
        F.floor((F.row_number().over(w) - F.lit(1)) / _CURR_BATCH)
        .cast("bigint")
        .alias("batch_in_shard"),
    )


# ---------------------------------------------------------------------------
# Stratified sampling with inverse-propensity weights — language rebalancing
# for a training mix. Unlike sample_weighted (per-source char budget), the
# strata here are the (bounded) language vocabulary with fixed per-stratum
# keep rates, so the entire operator is a SCAN-LOCAL filter: keep iff
# md5-uniform(doc_id) < rate(lang). Zero shuffles, zero windows — at 100 TB
# this is a full-speed scan with a per-row predicate, and the emitted
# weight = 1/rate makes any downstream aggregate unbiased. Determinism: the
# keep decision is a pure function of doc_id, so re-runs, retries, and
# streaming/batch twins all sample the identical set.
# ---------------------------------------------------------------------------
_STRAT_RATES = (("en", 0.25), ("zh", 0.6), ("es", 0.6), ("de", 0.75), ("fr", 0.75))
_STRAT_DEFAULT = 1.0


def _strat_rate_sql() -> str:
    whens = " ".join(f"WHEN lang = '{l}' THEN {r}" for l, r in _STRAT_RATES)
    return f"CASE {whens} ELSE {_STRAT_DEFAULT} END"


@query(
    "corpus_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source,
           ROUND(1.0 / ({_strat_rate_sql()}), 6) AS ipw_weight
    FROM documents
    WHERE ({_H_SQL} + 1) / 4294967296.0 < ({_strat_rate_sql()})
    """,
    tags=("sampling", "stratified", "datapipe", "scale"),
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    rate = F.lit(_STRAT_DEFAULT)
    for lang, r in reversed(_STRAT_RATES):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    u = (_h() + 1) / F.lit(4294967296.0)
    return (
        table(spark, sf_dir, "documents")
        .filter(u < rate)
        .select(
            "doc_id",
            "lang",
            "source",
            F.round(F.lit(1.0) / rate, 6).alias("ipw_weight"),
        )
    )

# ---------------------------------------------------------------------------
# End-to-end corpus preparation — the flagship composition: quality gate ->
# exact dedup -> stratified rate sample -> split assignment -> training-mix
# rollup, in ONE dataflow. Every stage decision is a pure md5 function of
# the row, so the whole pipeline is deterministic under retries, streaming
# backfill, and any parallelism. Shuffle inventory at 100 TB: exactly two —
# the dedup fingerprint window and the final (split, lang) rollup (itself
# map-side combined to a handful of rows); the quality gate, sample, and
# split are scan-local. est_chars is the inverse-propensity estimate of the
# pre-sample corpus size per cell — the number a mixture planner needs.
# ---------------------------------------------------------------------------
@query(
    "corpus_prepare_pipeline",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, text, n_chars FROM documents
      WHERE lang IN ('en', 'de', 'fr') AND n_chars BETWEEN 100 AND 2000
        AND len(list_distinct(string_split_regex(trim(text), ' +')))
            >= 0.4 * len(string_split_regex(trim(text), ' +'))
    ), d AS (
      SELECT doc_id, lang, n_chars,
             MIN(doc_id) OVER (PARTITION BY md5(trim(text))) AS keep_id
      FROM q
    ), s AS (
      SELECT doc_id, lang, n_chars, ({_strat_rate_sql()}) AS rate
      FROM d
      WHERE doc_id = keep_id
        AND ({_H_SQL} + 1) / 4294967296.0 < ({_strat_rate_sql()})
    )
    SELECT CASE WHEN {_H_SQL} % 100 < 80 THEN 'train'
                WHEN {_H_SQL} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {dsum_sql('n_chars / rate', 'est_chars')}
    FROM s
    GROUP BY 1, lang
    """,
    tags=("datapipe", "pipeline", "dedup", "sampling", "split", "scale"),
)
def corpus_prepare_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " +")
    quality = (
        F.col("lang").isin("en", "de", "fr")
        & F.col("n_chars").between(100, 2000)
        & (F.size(F.array_distinct(toks)) >= 0.4 * F.size(toks))
    )
    q = docs.filter(quality).select("doc_id", "lang", "text", "n_chars")
    w = Window.partitionBy(F.md5(F.trim(F.col("text"))))
    d = q.withColumn("keep_id", F.min("doc_id").over(w))
    rate = F.lit(_STRAT_DEFAULT)
    for lang_, r in reversed(_STRAT_RATES):
        rate = F.when(F.col("lang") == lang_, F.lit(r)).otherwise(rate)
    u = (_h() + 1) / F.lit(4294967296.0)
    s = (
        d.filter((F.col("doc_id") == F.col("keep_id")) & (u < rate))
        .select("doc_id", "lang", "n_chars", rate.alias("rate"))
    )
    bucket = _h() % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        s.groupBy(split.alias("split"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            dsum(F.col("n_chars") / F.col("rate"), "est_chars"),
        )
    )

"""Structured Streaming over the events table (north-star extension).

The reference ships Spark's streaming module but exercises none of it
(SURVEY.md §2.10); these are the idiomatic Structured Streaming forms of
the batch twins in operators/events_ops.py:

- windowed_counts_stream: watermark + tumbling window aggregation (late
  data beyond the watermark is dropped — the streaming-correct analogue of
  the batch group-by-hour).
- sessionize_stream: session windows via the built-in session_window
  (gap-based), the streaming analogue of the batch gaps-and-islands query.

Tested with `trigger(availableNow=True)` over the parquet fixtures — the
same code runs against kafka/file sources on a cluster unchanged.

End-to-end idempotence (what survives a crash/restart, and why) is
documented in ONE place: SCALE.md §"Exactly-once sink contract" —
checkpointed source offsets, the file sink's `_spark_metadata`
transaction log, and the batch_id-carrying atomic merge in
`merge_hourly_partials` for the foreachBatch upsert path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from spark_cherry_shuffle_service_spark.sources.catalog import normalize_ts, read_events_file, read_parquet

#: Logical (post-normalization) events schema: what every downstream
#: operator sees after `normalize_ts`, regardless of the file's physical
#: `ts` encoding (TIMESTAMP(NANOS)-as-long or timestamp[us] NTZ).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_file_schema(spark: SparkSession, path: str) -> StructType:
    """Physical schema of an events parquet file/dir, probed via a batch
    read of the footer (streaming reads require an explicit schema, and it
    must match the file — schema-on-read, never hardcoded: the fixture's
    `ts` physical type has drifted across driver regenerations)."""
    return read_events_file(spark, path).schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (schema must be explicit
    for streaming reads; probed from the footer, then ts-normalized)."""
    schema = events_file_schema(spark, f"{sf_dir}/events.parquet")
    # File streams need a directory source; glob down to the events table.
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(raw)


def windowed_counts_stream(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts with a watermark for late-data eviction."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based session windows per user (stateful streaming aggregation).

    State is keyed by (user_id, session_window); Spark merges adjacent
    windows whose gap < `gap` and finalizes a session once the watermark
    passes — bounded state at any scale.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


RUNNING_TOTALS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

RUNNING_TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (event count, value total) maintained across micro-batches.

    This is the escape hatch for stateful logic session_window can't express
    (custom eviction, cross-batch counters, ML feature state). State is one
    small row per user — bounded by |users|, not |events| — and lives in the
    state store, so a 1000-executor cluster shards it by user hash.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_OUTPUT,
            stateStructType=RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


EWMA_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ewma_micro", LongType()),
    ]
)
EWMA_STATE = StructType([StructField("hist", ArrayType(LongType()))])


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch `events_ewma` operator: per-user
    truncated alpha=0.5 EWMA in BIGINT micro-units, state = the last 8
    micro-values (a bounded ring — O(1) per user in the state store).

    The integer kernel (Σ hist[-1-k] >> (k+1)) is bit-identical to the
    batch window's shifted-lag sum, so live scoring and backfill agree
    exactly (test_streaming parity). Within a micro-batch rows are sorted
    by (ts, event_id); across batches the file source must deliver
    event-time-ordered files (the fixture is one file — for an unordered
    production source, put a watermark+sort stage in front)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        from decimal import ROUND_HALF_UP, Decimal

        def micro(v: float) -> int:
            # Exact twin of the batch F.round(value, 6)→DECIMAL micro
            # quantization: HALF_UP on the shortest-decimal repr (what
            # Spark rounds), NOT Python round() (half-even on the binary
            # product) — a value within 1 ulp of a 6-dp half boundary
            # would otherwise differ from the batch twin by 1 micro.
            return int(
                Decimal(repr(float(v))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
                * 1_000_000
            )

        hist: list[int] = list(state.get[0]) if state.exists else []
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out_ids: list[int] = []
        out_ewma: list[int] = []
        for value, event_id in zip(rows["value"], rows["event_id"]):
            hist.append(micro(value))
            if len(hist) > 8:
                hist.pop(0)
            out_ids.append(int(event_id))
            out_ewma.append(sum(hist[-1 - k] >> (k + 1) for k in range(len(hist))))
        state.update((hist,))
        yield pd.DataFrame(
            {"user_id": key[0], "event_id": out_ids, "ewma_micro": out_ewma}
        )

    return (
        events.filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUTPUT,
            stateStructType=EWMA_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def merge_hourly_partials(batch_df: DataFrame, batch_id: int, target_path: str) -> bool:
    """One foreachBatch merge step: fold a micro-batch's hourly partial
    counts into the parquet aggregate table, IDEMPOTENT per batch_id.

    foreachBatch delivers (batch_df, batch_id) AT-LEAST-once: if the
    driver dies between this merge and the checkpoint commit, restart
    re-delivers the same batch — a blind read-modify-write would
    double-count it. Exactly-once therefore comes from the documented
    two-part contract (SCALE.md §"Exactly-once sink contract"):
    (1) the swap below is ATOMIC (rename; a transactional table commit
    on a cluster), so readers never see a half-merged table, and
    (2) the committed table CARRIES the batch_id that produced it in an
    underscore-prefixed marker (ignored by parquet readers); a replayed
    batch_id <= the marker is skipped, making replays no-ops. Returns
    whether the batch was applied (False = replay skipped).

    The batch side of the merge is plain DataFrame code, so the same
    logic serves backfill; at 100 TB the target is a transactional table
    format and the marker is its commit version — dataflow unchanged.
    """
    from pyspark.sql import functions as F  # noqa: F811

    marker = os.path.join(target_path, "_committed_batch_id")
    if os.path.exists(marker):
        with open(marker) as fh:
            if batch_id <= int(fh.read().strip()):
                return False  # replayed batch: already folded in

    spark = batch_df.sparkSession
    partial = (
        batch_df.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    try:
        existing = read_parquet(spark, target_path)
    except Exception:  # first batch: nothing to merge yet
        existing = None
    merged = (
        partial
        if existing is None
        else existing.unionByName(partial)
        .groupBy("hour", "event_type")
        .agg(F.sum("n_events").cast("long").alias("n_events"))
    )
    # Write-temp-then-swap: the merged frame lazily READS target_path,
    # so overwriting it in place would race the scan. Materialize the
    # merge with a distributed write to a batch-versioned temp dir
    # (never through the driver — the rollup is small today but this
    # path must survive a 100 TB-wide aggregate), then swap directories
    # atomically. The batch_id marker is written INTO the temp dir before
    # the rename, so marker and data commit in the same atomic step.
    import shutil

    tmp = f"{target_path}__tmp_b{batch_id}"
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_committed_batch_id"), "w") as fh:
        fh.write(str(batch_id))
    old = f"{target_path}__old_b{batch_id}"
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old, ignore_errors=True)
    return True


def run_incremental_aggregate(
    events: DataFrame, target_path: str, checkpoint_path: str
) -> None:
    """Continuous-aggregate maintenance via foreachBatch: each micro-batch's
    hourly partial counts are merged into a parquet aggregate table
    (read-modify-write keyed by (hour, event_type)) — the production sink
    pattern Structured Streaming itself doesn't provide (arbitrary upsert
    into a columnar table). Exactly-once across restarts via the
    idempotent, atomically-committed `merge_hourly_partials` (contract in
    SCALE.md §"Exactly-once sink contract")."""

    q = (
        events.writeStream.foreachBatch(
            lambda batch_df, batch_id: merge_hourly_partials(batch_df, batch_id, target_path)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact deduplication on event_id: state keeps one key per
    event inside the watermark horizon and drops it once the watermark
    passes — bounded state, unlike an unwatermarked dropDuplicates. The
    streaming twin of the batch dedup_exact operator."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drain a stream with availableNow into an in-memory table; returns the
    batch DataFrame of results (test/bench helper)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


# ---------------------------------------------------------------------------
# Streaming corpus ingest: the training-data pipeline's front door. New
# document files stream in, pass the quality filter (datapipe.py's funnel
# stages), get their md5-deterministic split assignment, and land in a
# split-partitioned parquet sink — exactly-once via the file sink's
# checkpoint/commit log. Because the split is a pure function of doc_id,
# streaming ingest and a batch backfill assign every document identically
# (proven in tests/test_streaming.py::test_corpus_ingest_stream_matches_batch).
# ---------------------------------------------------------------------------
DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def corpus_ingest_transform(docs: DataFrame) -> DataFrame:
    """Quality filter + deterministic split assignment (stateless — no
    watermark needed; every operator here is a per-row projection)."""
    toks = F.split(F.trim(F.col("text")), " +")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    bucket = h % 100
    return (
        docs.filter(
            F.col("lang").isin("en", "de", "fr")
            & F.col("n_chars").between(100, 2000)
            & (F.size(F.array_distinct(toks)) >= 0.4 * F.size(toks))
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.size(toks).alias("n_tokens"),
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
        )
    )


def run_corpus_ingest(spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str) -> None:
    """Drain all available document files into the split-partitioned sink."""
    staged = corpus_ingest_transform(read_documents_stream(spark, sf_dir))
    q = (
        staged.writeStream.format("parquet")
        .partitionBy("split")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stratified_sample_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/datapipe.py::corpus_stratified_sample:
    per-language keep rates over md5-uniforms with inverse-propensity
    weights. Stateless (pure per-row function of doc_id), so streaming
    ingest selects the IDENTICAL sample set as a batch backfill — proven in
    tests/test_streaming.py — and needs no watermark: at 100 TB/day this
    runs as a scan-speed filter on the ingest stream."""
    from spark_cherry_shuffle_service_spark.operators.datapipe import (
        _STRAT_DEFAULT,
        _STRAT_RATES,
    )

    rate = F.lit(_STRAT_DEFAULT)
    for lang, r in reversed(_STRAT_RATES):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    u = (h + 1) / F.lit(4294967296.0)
    return docs.filter(u < rate).select(
        "doc_id", "lang", "source", F.round(F.lit(1.0) / rate, 6).alias("ipw_weight")
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM: the live form of the batch events_cusum drift alarm.
# Here the sequential recurrence S_i = max(0, S_{i-1} + dev_i) runs
# NATIVELY — per-type state is just (prefix_micro, minp_micro), two
# BIGINTs, O(1) per event-type in the state store — while the batch twin
# computes the identical quantity with the windowed closed form
# S_i = P_i - min(0, min P_j). Their per-event equality (test_streaming)
# is the proof that the closed form and the recurrence are the same
# function, live scoring == backfill.
#
# Unlike the batch operator (target = full-corpus mean, unknowable
# mid-stream), both twins take a FIXED reference target in micro-units —
# the production shape, where the target comes from a trained baseline.
# ---------------------------------------------------------------------------
CUSUM_TARGET_MICRO = 50_000_000  # reference level 50.0 in micro-units

CUSUM_OUTPUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
        StructField("cusum_micro", LongType()),
    ]
)
CUSUM_STATE = StructType([StructField("p", LongType()), StructField("minp", LongType())])


def cusum_stream(events: DataFrame, target_micro: int = CUSUM_TARGET_MICRO) -> DataFrame:
    """Per-type streaming CUSUM in BIGINT micro-units via
    applyInPandasWithState; emits (event_type, event_id, cusum_micro)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        from decimal import ROUND_HALF_UP, Decimal

        def micro(v: float) -> int:
            # Same batch-twin quantization as ewma_stream above: HALF_UP
            # on the shortest-decimal repr, mirroring F.round(value, 6).
            return int(
                Decimal(repr(float(v))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
                * 1_000_000
            )

        p, minp = state.get if state.exists else (0, 0)
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out_ids: list[int] = []
        out_cusum: list[int] = []
        for value, event_id in zip(rows["value"], rows["event_id"]):
            p += micro(value) - target_micro
            minp = min(minp, p)
            out_ids.append(int(event_id))
            out_cusum.append(p - min(minp, 0))
        state.update((p, minp))
        yield pd.DataFrame(
            {"event_type": key[0], "event_id": out_ids, "cusum_micro": out_cusum}
        )

    return (
        events.select("event_type", "event_id", "ts", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=CUSUM_OUTPUT,
            stateStructType=CUSUM_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def cusum_batch_frame(spark: SparkSession, sf_dir: str, target_micro: int = CUSUM_TARGET_MICRO) -> DataFrame:
    """Batch closed-form twin of cusum_stream over the same fixture:
    per-row S via prefix sums in BIGINT micro-units (two window passes
    over one (type, ts, event_id) sort — the events_cusum plan shape)."""
    from pyspark.sql import Window

    from spark_cherry_shuffle_service_spark.sources.catalog import table

    ev = table(spark, sf_dir, "events")
    micro = (F.round("value", 6).cast("decimal(18,6)") * 1_000_000).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.sum(micro - F.lit(target_micro)).over(w).alias("p"),
    )
    return pre.select(
        "event_type",
        "event_id",
        (F.col("p") - F.least(F.min("p").over(w), F.lit(0))).alias("cusum_micro"),
    )


# ---------------------------------------------------------------------------
# Streaming incremental dedup: the live form of batch dedup_incremental —
# "today's crawl" streams in and is probed against the STATIC corpus band
# index; per-batch cost scales with the batch, never corpus x corpus.
#
# Streaming-shape notes: both sides use the batch op's aggregation-free
# signature (functions/text.py::minhash_signature) and band keys
# (dedup.py::_band_keys) — a streaming aggregation would make the
# downstream joins unsupported.
# Pipeline: projection (sig+bands) -> stream-static join on (band, bkey)
# (stateless) -> dropDuplicates on the pair (stateful; keyed by pair id,
# bounded by this batch's true-pair count — add a watermark on ingest
# time to bound it in a 24/7 deployment) -> stream-static verify join ->
# exact-Jaccard filter, append mode. Parity with the batch operator is
# asserted per-row in tests/test_streaming.py.
# ---------------------------------------------------------------------------
def dedup_incremental_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_cherry_shuffle_service_spark.functions.text import minhash_signature, shingles3
    from spark_cherry_shuffle_service_spark.operators.dedup import _MH_N, _MH_TAU, _band_keys
    from spark_cherry_shuffle_service_spark.sources.catalog import table

    # STATIC corpus side (batch DataFrames — at 100 TB this is the
    # pre-bucketed band index written once and reused per micro-batch;
    # NO broadcast hints: the corpus side scales with SF — the per-batch
    # join planner broadcasts it at fixture sizes on its own).
    corpus = table(spark, sf_dir, "documents").select(
        "doc_id", shingles3(F.col("text")).alias("sh")
    )
    csig = corpus.select("doc_id", "sh", minhash_signature(F.col("sh"), _MH_N).alias("sig"))
    cbands = (
        _band_keys(csig, "doc_id")
        .withColumnRenamed("doc_id", "dup_of")
        .filter(F.col("dup_of") % 7 != 0)
    )
    cshingles = corpus.select(F.col("doc_id").alias("dup_of"), F.col("sh").alias("sh_a"))

    # STREAMING incoming side: same signature from the pure expression.
    docs = read_documents_stream(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
    s = docs.select("doc_id", shingles3(F.col("text")).alias("sh"))
    sig = s.select("doc_id", "sh", minhash_signature(F.col("sh"), _MH_N).alias("sig"))
    sbands = _band_keys(sig, "doc_id", "sh")
    cands = (
        sbands.join(cbands, ["band", "bkey"])
        .select("doc_id", "dup_of", "sh")
        .dropDuplicates(["doc_id", "dup_of"])
    )
    verified = cands.join(cshingles, "dup_of")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh")) - inter
    jacc = inter.cast("double") / union
    return (
        verified.withColumn("j", jacc)
        .filter(F.col("j") >= _MH_TAU)
        .select("doc_id", "dup_of", F.round(F.col("j"), 4).alias("jaccard"))
    )


HH_ALERT_OUTPUT = StructType(
    [StructField("user_id", LongType()), StructField("threshold", LongType())]
)
#: fired is encoded as 0/1 in a LongType to keep the state schema in the
#: same two-int64 shape the other stateful operators use.
HH_ALERT_STATE = StructType(
    [StructField("n", LongType()), StructField("fired", LongType())]
)


def heavy_hitter_alert_stream(events: DataFrame, threshold: int = 70) -> DataFrame:
    """Streaming face of the heavy-hitters family (operators/sketches.py):
    emit each user exactly once, in the micro-batch where its RUNNING
    event count first reaches `threshold`.

    State is one (count, fired) int64 pair per user — sharded by user
    hash in the state store, so a 1000-executor cluster splits the key
    domain the same way the batch verify pass shards its groupBy. The
    fired latch makes the emission set independent of micro-batch
    boundaries (a key crosses the threshold once, whatever the batching),
    which is what lets tests/test_streaming.py prove the emitted set
    equals the batch GROUP BY/filter answer — live alerting == backfill.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, fired = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
        rows = []
        if not fired and n >= threshold:
            fired = 1
            rows.append((int(key[0]), int(threshold)))
        state.update((n, fired))
        yield pd.DataFrame(rows, columns=["user_id", "threshold"]).astype(
            {"user_id": "int64", "threshold": "int64"}
        )

    return (
        events.select("user_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=HH_ALERT_OUTPUT,
            stateStructType=HH_ALERT_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

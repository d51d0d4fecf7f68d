"""Structured Streaming parity: streaming results must equal the batch
twins (operators/events_ops.py) over the same fixture."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from spark_cherry_shuffle_service_spark.sources.catalog import table
from spark_cherry_shuffle_service_spark.streaming.streams import (
    events_file_schema,
    read_events_stream,
    run_to_memory,
    sessionize_stream,
    windowed_counts_stream,
)
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize(
    "unit, tz, file_type",
    [("ns", None, LongType()), ("us", None, TimestampNTZType()), ("us", "UTC", TimestampType())],
    ids=["nanos", "ntz", "utc"],
)
def test_events_decode_in_a_session_get_spark_did_not_configure(spark, tmp_path, unit, tz, file_type):
    """Each physical events `ts` form (TIMESTAMP(NANOS), TIMESTAMP_NTZ,
    TIMESTAMP) decodes, in batch (catalog.table) and streaming
    (events_file_schema + normalize_ts) reads, to the fixture's instants,
    naive wall clock read as UTC, also in a session with `nanosAsLong`
    unset and a non-UTC time zone: the session a caller of
    `__spark_entry__` brings."""
    src = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = src.schema.get_field_index("ts")
    copy = tmp_path / "events.parquet"
    pq.write_table(src.set_column(i, "ts", src["ts"].cast(pa.timestamp(unit, tz))), copy)
    # the fixture's naive µs values as UTC epoch micros
    want = sorted(zip(src["event_id"].to_pylist(), src["ts"].cast(pa.int64()).to_pylist()))

    def rows(df):
        return sorted(map(tuple, df.select("event_id", F.unix_micros("ts")).collect()))

    confs = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")
    saved = [spark.conf.get(k) for k in confs]

    def foreign_session():
        spark.conf.unset(confs[0])
        spark.conf.set(confs[1], "America/Los_Angeles")

    try:
        foreign_session()
        batch = table(spark, str(tmp_path), "events")
        assert spark.conf.get(confs[1]) == "UTC"
        assert isinstance(batch.schema["ts"].dataType, TimestampType)
        assert rows(batch) == want
        # date functions downstream of the read see UTC days too
        days = batch.select("event_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")))
        assert sorted(map(tuple, days.collect())) == [(e, us // 86_400_000_000) for e, us in want]
        foreign_session()
        assert events_file_schema(spark, str(copy))["ts"].dataType == file_type
        foreign_session()
        stream = read_events_stream(spark, str(tmp_path))
        assert rows(run_to_memory(stream.select("event_id", "ts"), f"events_{unit}_{tz}", mode="append")) == want
    finally:
        for k, v in zip(confs, saved):
            spark.conf.set(k, v)


def test_windowed_counts_stream_matches_batch(spark):
    stream = windowed_counts_stream(read_events_stream(spark, SF_SMOKE))
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in run_to_memory(stream, "win_counts").collect()
    }
    batch = (
        table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    want = {(r["ws"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want


def test_sessionize_stream_matches_batch_session_window(spark):
    stream = sessionize_stream(read_events_stream(spark, SF_SMOKE))
    got = run_to_memory(stream, "sessions")
    batch = (
        table(spark, SF_SMOKE, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    key = lambda r: (r["user_id"], r["session_start"], r["session_end"], r["n_events"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))


def test_apply_in_pandas_with_state_running_totals(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): split the fixture
    into 3 files and stream one file per micro-batch, so per-user state
    genuinely carries across batches; the final emitted row per user must
    equal the batch-side totals."""
    from pyspark.sql import functions as F  # noqa: F811
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        events_file_schema,
        normalize_ts,
        running_user_totals_stream,
        run_to_memory,
    )

    src = str(tmp_path / "events_split")
    raw = table(spark, SF_SMOKE, "events")
    raw.repartition(3).write.mode("overwrite").parquet(src)

    stream_raw = normalize_ts(
        spark.readStream.schema(events_file_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_to_memory(running_user_totals_stream(stream_raw), "user_totals", mode="update")
    # update mode appends one row per (user, batch); the final state per
    # user is the row with the highest n_events (counts are monotone).
    w_latest = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value")
    )
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in w_latest.collect()}

    batch = (
        table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
    )
    want = {r["user_id"]: (r["n"], round(r["tv"], 6)) for r in batch.collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-6


def test_foreach_batch_incremental_aggregate(spark, tmp_path):
    """foreachBatch continuous aggregate: 3 micro-batches merged into a
    parquet hourly table must equal the one-shot batch aggregate."""
    from pyspark.sql import functions as F  # noqa: F811
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        events_file_schema,
        normalize_ts,
        run_incremental_aggregate,
    )

    src = str(tmp_path / "events_split")
    table(spark, SF_SMOKE, "events").repartition(3).write.mode(
        "overwrite"
    ).parquet(src)
    stream = normalize_ts(
        spark.readStream.schema(events_file_schema(spark, src))
        .option("maxFilesPerTrigger", 1)  # 3 separate merge batches
        .parquet(src)
    )
    target = str(tmp_path / "hourly_agg")
    run_incremental_aggregate(stream, target, str(tmp_path / "ckpt"))

    got = {
        (r["hour"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(target).collect()
    }
    want = {
        (r["hour"], r["event_type"]): r["n"]
        for r in table(spark, SF_SMOKE, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_foreach_batch_merge_is_idempotent_on_replay(spark, tmp_path):
    """The exactly-once half of the foreachBatch contract (SCALE.md
    §"Exactly-once sink contract"): foreachBatch delivers at-least-once,
    so a batch REPLAYED after a crash-before-checkpoint must be a no-op.
    merge_hourly_partials carries the committed batch_id inside the
    atomically-swapped table; applying the same batch twice (and then a
    stale lower id) leaves the table byte-identical, while the next
    batch_id still applies."""
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        merge_hourly_partials,
        normalize_ts,
    )

    ev = normalize_ts(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    b0 = ev.filter("event_id % 2 = 0")
    b1 = ev.filter("event_id % 2 = 1")
    target = str(tmp_path / "hourly_agg")

    assert merge_hourly_partials(b0, 0, target) is True
    after_first = sorted(map(tuple, spark.read.parquet(target).collect()))
    # replay of batch 0 (crash between merge and checkpoint commit)
    assert merge_hourly_partials(b0, 0, target) is False
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == after_first
    # batch 1 applies; a stale replay of batch 0 after it is still a no-op
    assert merge_hourly_partials(b1, 1, target) is True
    after_second = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert merge_hourly_partials(b0, 0, target) is False
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == after_second
    # the two batches together equal the one-shot aggregate
    from pyspark.sql import functions as F  # noqa: F811

    want = sorted(
        map(
            tuple,
            ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            .collect(),
        )
    )
    assert sorted(after_second) == sorted(want)


def test_stream_static_join_enriches_events(spark):
    """Stream-static join: the streaming fact joins a static dimension
    (user_id % 25 → nation) without watermark requirements — dimension
    lookup at streaming time, the standard enrichment shape."""
    from pyspark.sql import functions as F  # noqa: F811

    nations = table(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    stream = read_events_stream(spark, SF_SMOKE).withColumn(
        "nkey", (F.col("user_id") % 25).cast("int")
    )
    enriched = stream.join(nations, stream.nkey == nations.n_nationkey).groupBy("n_name").count()
    got = {r["n_name"]: r["count"] for r in run_to_memory(enriched, "enriched").collect()}

    ev = table(spark, SF_SMOKE, "events").withColumn("nkey", (F.col("user_id") % 25).cast("int"))
    want = {
        r["n_name"]: r["count"]
        for r in ev.join(nations, ev.nkey == nations.n_nationkey).groupBy("n_name").count().collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with watermarks + time bound: purchases
    joined to clicks by the same user within 1 hour before the purchase.
    Must equal the identical batch join."""
    from pyspark.sql import functions as F  # noqa: F811
    from spark_cherry_shuffle_service_spark.streaming.streams import read_events_stream

    def src(kind):
        return read_events_stream(spark, SF_SMOKE).filter(F.col("event_type") == kind)

    clicks = src("click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    ).withWatermark("c_ts", "2 hours")
    purchases = src("purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    ).withWatermark("p_ts", "2 hours")
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"]) for r in spark.table("ss_join").collect()
    }

    ev = table(spark, SF_SMOKE, "events")
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in bp.join(
            bc,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_dedup_drops_duplicate_event_ids(spark, tmp_path):
    """dropDuplicatesWithinWatermark: feed every event twice (two files),
    expect each event_id exactly once downstream."""
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        dedup_stream,
        events_file_schema,
        normalize_ts,
        run_to_memory,
    )

    src = str(tmp_path / "events_dup")
    raw = table(spark, SF_SMOKE, "events").limit(500)
    raw.write.mode("overwrite").parquet(src)
    raw.write.mode("append").parquet(src)  # every event twice

    stream = normalize_ts(
        spark.readStream.schema(events_file_schema(spark, src)).parquet(src)
    )
    out = run_to_memory(dedup_stream(stream), "dedup_events", mode="append")
    got = out.groupBy("event_id").count().collect()
    assert len(got) == 500
    assert all(r["count"] == 1 for r in got)


def test_stream_session_count_matches_gaps_and_islands(spark):
    """The streaming session_window must agree with the batch
    gaps-and-islands sessionization on per-user session counts."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    stream = sessionize_stream(read_events_stream(spark, SF_SMOKE))
    got = (
        run_to_memory(stream, "sessions2")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    batch = all_specs()["events_sessionize"].builder(spark, SF_SMOKE).select(
        "user_id", "n_sessions"
    )
    g = {r["user_id"]: r["n_sessions"] for r in got.collect()}
    b = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    assert g == b


def test_corpus_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming ingest (filter → split → partitioned sink) lands exactly
    the rows the batch pipeline computes, with identical split assignment
    (md5-deterministic — backfill and live ingest agree), and the sink is
    split-pruned on read."""
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        corpus_ingest_transform,
        run_corpus_ingest,
    )

    out, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    run_corpus_ingest(spark, SF_SMOKE, out, ckpt)

    back = spark.read.parquet(out)
    batch = corpus_ingest_transform(table(spark, SF_SMOKE, "documents"))
    key = lambda r: (r["doc_id"], r["split"], r["n_tokens"])  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(map(key, batch.collect()))
    assert back.count() > 0


def test_stratified_sample_stream_matches_batch(spark, tmp_path):
    """Pure-function sampling ⇒ the streaming sampler must select the
    byte-identical document set (and weights) as the batch operator."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        read_documents_stream,
        run_to_memory,
        stratified_sample_stream,
    )
    from tests.conftest import SF_SMOKE

    streamed = run_to_memory(
        stratified_sample_stream(read_documents_stream(spark, SF_SMOKE)),
        "strat_sample_stream",
        mode="append",
    )
    batch = all_specs()["corpus_stratified_sample"].builder(spark, SF_SMOKE)
    got = sorted(map(repr, streamed.collect()))
    want = sorted(map(repr, batch.collect()))
    assert got == want and len(got) > 0


def test_ewma_stream_matches_batch(spark):
    """The stateful streaming EWMA (applyInPandasWithState, ring of 8
    micro-values) must produce the bit-identical integer smoothing the
    batch window operator computes — live scoring == backfill."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        ewma_stream,
        read_events_stream,
        run_to_memory,
    )
    from tests.conftest import SF_SMOKE

    streamed = run_to_memory(
        ewma_stream(read_events_stream(spark, SF_SMOKE)),
        "ewma_stream",
        mode="update",
    )
    batch = all_specs()["events_ewma"].builder(spark, SF_SMOKE).select(
        "user_id", "event_id", "ewma_micro"
    )
    got = sorted(map(repr, streamed.collect()))
    want = sorted(map(repr, batch.collect()))
    assert got == want and len(got) > 0


def test_cusum_stream_matches_batch_closed_form(spark):
    """The stateful streaming CUSUM (native max(0, S+dev) recurrence, two
    BIGINTs of state per type) must equal the batch windowed closed form
    S_i = P_i - min(0, min P_j) per event — proving recurrence == closed
    form and live scoring == backfill."""
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        cusum_batch_frame,
        cusum_stream,
        read_events_stream,
        run_to_memory,
    )
    from tests.conftest import SF_SMOKE

    streamed = run_to_memory(
        cusum_stream(read_events_stream(spark, SF_SMOKE)),
        "cusum_stream",
        mode="update",
    )
    batch = cusum_batch_frame(spark, SF_SMOKE).select(
        "event_type", "event_id", "cusum_micro"
    )
    got = sorted(map(repr, streamed.collect()))
    want = sorted(map(repr, batch.collect()))
    assert got == want and len(got) > 0


def test_dedup_incremental_stream_matches_batch(spark):
    """Streaming incremental dedup (incoming docs probed against the
    static corpus band index via stream-static joins) must produce the
    exact pair set of the batch dedup_incremental operator — the
    live-ingest form of the production dedup shape."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        dedup_incremental_stream,
        run_to_memory,
    )
    from tests.conftest import SF_SMOKE

    streamed = run_to_memory(
        dedup_incremental_stream(spark, SF_SMOKE),
        "dedup_inc_stream",
        mode="append",
    )
    batch = all_specs()["dedup_incremental"].builder(spark, SF_SMOKE)
    got = sorted(map(repr, streamed.collect()))
    want = sorted(map(repr, batch.collect()))
    assert got == want and len(got) > 0


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Kill-and-resume semantics for an incremental ETL stream: phase 1
    processes the first input file and STOPS; new data arrives; a new
    query restarts from the SAME checkpoint and must process ONLY the
    new file — the parquet sink's transactional log + the source's
    checkpointed offsets give exactly-once output across the restart
    (no row lost, no row duplicated, phase-1 file not reprocessed).
    This is the streaming face of the engine's recovery story
    (tests/test_cluster_recovery.py covers the batch/executor face)."""
    ev = table(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    part1 = ev.filter(F.col("user_id") % 2 == 0)
    part2 = ev.filter(F.col("user_id") % 2 == 1)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    part1.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .withColumn("value_micro", F.round("value", 6).cast("decimal(18,6)") * 1_000_000)
            .select("event_id", "user_id", F.col("value_micro").cast("long").alias("value_micro"))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == part1.count()

    part2.coalesce(1).write.mode("append").parquet(src)
    run_once()  # fresh query object, SAME checkpoint — resumes, not replays

    got = spark.read.parquet(out)
    assert got.count() == ev.count(), "lost or duplicated rows across restart"
    assert got.select("event_id").distinct().count() == ev.count()
    expect = ev.withColumn(
        "value_micro", (F.round("value", 6).cast("decimal(18,6)") * 1_000_000).cast("long")
    ).select("event_id", "user_id", "value_micro")
    assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0


def test_heavy_hitter_alert_stream_matches_batch(spark):
    """The streaming threshold alert (per-key count + fired latch in the
    state store) must emit exactly the keys the batch heavy-hitter filter
    returns — each exactly once, whatever the micro-batch boundaries."""
    from spark_cherry_shuffle_service_spark.streaming.streams import (
        heavy_hitter_alert_stream,
        read_events_stream,
        run_to_memory,
    )

    threshold = 70
    streamed = run_to_memory(
        heavy_hitter_alert_stream(read_events_stream(spark, SF_SMOKE), threshold),
        "hh_alerts",
        mode="update",
    )
    got = sorted(r.user_id for r in streamed.collect())
    want = sorted(
        r.user_id
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold)
        .collect()
    )
    assert got == want and len(got) > 0
    assert len(got) == len(set(got))  # the latch: one alert per key

"""Source/sink coverage (SURVEY.md §2.1): partitioned parquet write with
partition pruning, CSV read, temp-view catalog, noop sink, range source."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.plans.explain import formatted_plan
from spark_cherry_shuffle_service_spark.sources.catalog import (
    register_views,
    table,
    write_noop,
    write_partitioned,
)
from tests.conftest import SF_SMOKE


def test_partitioned_write_and_partition_pruning(spark, tmp_path):
    """The reference generates partitioned+clustered fact tables
    (TPCDSPreparation.scala:17-25); partition-column filters must prune
    directories, not just rows."""
    out = str(tmp_path / "li_part")
    li = table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
    write_partitioned(li, out, ["l_returnflag"])

    back = spark.read.parquet(out)
    assert back.count() == li.count()
    pruned = back.filter(F.col("l_returnflag") == "A")
    plan = formatted_plan(pruned)
    # pruning shows up as a PartitionFilters entry on the scan
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters", 1)[1]
    want = li.filter(F.col("l_returnflag") == "A").count()
    assert pruned.count() == want


def test_clustered_write_sorts_within_files(spark, tmp_path):
    """clusterByPartitionColumns parity: rows inside each partition file are
    sorted by the cluster column (tightens parquet min/max stats)."""
    out = str(tmp_path / "li_clustered")
    li = table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    write_partitioned(li, out, ["l_returnflag"], cluster_cols=["l_shipdate"])
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    import glob

    files = glob.glob(f"{out}/l_returnflag=*/*.parquet")
    assert files
    import pyarrow.parquet as pq

    col = pq.read_table(files[0], columns=["l_shipdate"]).column("l_shipdate").to_pylist()
    assert col == sorted(col)


def test_checkpoint_cuts_lineage(spark, tmp_path):
    """Checkpointing = the Spark-native form of Cherry's 'shuffle output
    survives executor loss' effect (SURVEY.md §4 failure story): the
    checkpointed plan no longer depends on the upstream shuffle lineage."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    agg = (
        table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ck = agg.checkpoint(eager=True)
    assert ck.count() == agg.count()
    # downstream plan reads the checkpoint, not the original scan+shuffle
    plan = ck._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "lineitem" not in plan


def test_csv_roundtrip(spark, tmp_path):
    """CSV input — reference wordcount path (spark-driver.sh:48)."""
    out = str(tmp_path / "nation_csv")
    nat = table(spark, SF_SMOKE, "nation")
    nat.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert back.count() == nat.count()
    assert {r["n_name"] for r in back.collect()} == {r["n_name"] for r in nat.collect()}


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Parquet schema evolution: files written with different column sets
    read back as one unified schema via mergeSchema — how a long-lived
    training-data table absorbs new fields without rewrites."""
    out = str(tmp_path / "evolving")
    nat = table(spark, SF_SMOKE, "nation")
    nat.select("n_nationkey", "n_name").write.mode("overwrite").parquet(out)
    nat.select("n_nationkey", "n_regionkey").write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", True).parquet(out)
    assert set(merged.columns) == {"n_nationkey", "n_name", "n_regionkey"}
    assert merged.count() == 2 * nat.count()
    # old rows surface the new column as NULL
    assert merged.filter(F.col("n_regionkey").isNull()).count() == nat.count()


def test_entry_schema_is_stable(spark):
    """The driver smoke-checks entry() for a stable schema — pin it."""
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.columns == ["day", "order_cume", "ship_cume", "leader"]


def test_approx_percentile_within_tolerance(spark):
    """Approximate aggregates (the production path the exact-percentile
    query notes): approx_percentile within 5% relative error of exact."""
    li = table(spark, SF_SMOKE, "lineitem")
    r = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx"),
    ).first()
    assert abs(r["approx"] - r["exact"]) <= 0.05 * r["exact"]


def test_json_roundtrip(spark, tmp_path):
    """JSON lines source: write/read with explicit schema (events.props is
    JSON-in-string; whole-file JSON is the other common training-data
    interchange format)."""
    out = str(tmp_path / "nation_json")
    nat = table(spark, SF_SMOKE, "nation")
    nat.write.mode("overwrite").json(out)
    back = spark.read.schema(nat.schema).json(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nat.collect()))


def test_orc_roundtrip(spark, tmp_path):
    """ORC source/sink — the second columnar format Spark ships natively."""
    out = str(tmp_path / "nation_orc")
    nat = table(spark, SF_SMOKE, "nation")
    nat.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nat.collect()))


def test_temp_view_catalog_and_sql(spark):
    """createOrReplaceTempView + spark.sql — the reference's table setup
    (TPCDSQueryBenchmark.scala:69-74)."""
    register_views(spark, SF_SMOKE)
    got = spark.sql("SELECT COUNT(*) AS n FROM lineitem").first()["n"]
    assert got == table(spark, SF_SMOKE, "lineitem").count()


def test_noop_sink_forces_computation(spark):
    df = table(spark, SF_SMOKE, "orders").groupBy("o_orderstatus").count()
    write_noop(df)  # raises if the plan can't execute


def test_range_source(spark):
    """In-memory range source — synthetic_workload.py:27 parallelize."""
    n = spark.range(1, 1001, 1, 8).count()
    assert n == 1000


def test_unknown_table_rejected(spark):
    with pytest.raises(KeyError):
        table(spark, SF_SMOKE, "nonexistent")


def test_bucketed_join_needs_no_exchange(spark):
    """Two tables bucketed on the join key sort-merge-join with ZERO
    shuffle exchanges — the co-located join path for 100 TB fact-fact
    joins (brief: 'bucketing for co-located joins')."""
    from spark_cherry_shuffle_service_spark.plans.explain import plan_ops
    from spark_cherry_shuffle_service_spark.sources.catalog import write_bucketed

    li = table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    od = table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_bkt", ["l_orderkey"], 8)
    write_bucketed(od, "od_bkt", ["o_orderkey"], 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_bkt").join(
            spark.table("od_bkt"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        ops = plan_ops(joined)
        assert "SortMergeJoin" in ops
        assert not any("Exchange" in op for op in ops), ops
        n = joined.count()
        want = li.join(od, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS od_bkt")


def test_external_table_over_parquet_location(spark, tmp_path):
    """External table DDL — reference creates external tables over HDFS
    parquet (TPCDSPreparation.scala:31); same DDL over a local location."""
    out = str(tmp_path / "nation_ext")
    nat = table(spark, SF_SMOKE, "nation")
    nat.write.mode("overwrite").parquet(out)
    spark.sql("DROP TABLE IF EXISTS nation_ext")
    spark.sql(f"CREATE TABLE nation_ext USING parquet LOCATION '{out}'")
    try:
        got = spark.sql("SELECT COUNT(*) AS n FROM nation_ext").first()["n"]
        assert got == nat.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_ext")


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning (SURVEY.md §4, Optimizer.scala:55
    PartitionPruning batch): when the fact table is partitioned on the
    join key and the dim side carries a selective filter, the fact scan
    must be pruned at RUNTIME by a subquery on the dim — the mechanism
    that turns a 100 TB partitioned scan into only the matching
    partitions. Verified both in the plan (dynamicpruning expression) and
    by result equality."""
    out = str(tmp_path / "orders_by_priority")
    ords = table(spark, SF_SMOKE, "orders")
    write_partitioned(ords, out, ["o_orderpriority"])

    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", "hot"), ("5-LOW", "cold")], ["prio", "tier"]
    ).filter(F.col("tier") == "hot")
    joined = fact.join(dim, fact.o_orderpriority == dim.prio)

    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    want = ords.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert joined.count() == want


def test_observability_and_elasticity_conf(spark):
    """Prometheus metrics conf (reference: PrometheusResource.scala:110-190)
    must be baked into the factory session, and a second factory call must
    reuse the live session."""
    from spark_cherry_shuffle_service_spark.session import get_spark

    assert spark.conf.get("spark.ui.prometheus.enabled") == "true"
    s2 = get_spark(app_name="cherry-spark-tests", shuffle_partitions=8)
    assert s2 is spark

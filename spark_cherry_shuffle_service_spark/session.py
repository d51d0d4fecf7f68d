"""SparkSession factory with reference-derived configuration.

The reference tunes its cluster via spark-driver.sh flags: shuffle
partitions (`-p`, spark-driver.sh:147-148), snappy parquet
(spark-driver.sh:152), a 20 MB broadcast threshold + cross joins enabled
(TPCDSQueryBenchmark.scala:57-58). Its headline contribution — the Cherry
task-aware shuffle service (skew interest, look-ahead block caching,
shuffle survival across executor loss) — is reproduced here with Spark's
own adaptive execution: AQE skew-join splitting, partition coalescing and
local shuffle readers give the same *measurable effects* (SURVEY.md §2.12)
without any custom shuffle plumbing.

Scale notes (100 TB design point):
- `spark.sql.shuffle.partitions` is only the pre-AQE upper bound; AQE
  coalesces to match actual bytes, so a large static value is safe on a
  big cluster while local test runs stay small via SPARK_GRAFT_CPUS.
- Skewed keys (the reference's `skewed_synthetic_workload.py` k-fraction
  hot key) are split by `spark.sql.adaptive.skewJoin` at join time; for
  aggregations Spark's partial (map-side) aggregation already bounds the
  hot key's shuffle volume to one row per map partition.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 16g: the local[] JVM
    shares the host with the Python workers and the DuckDB oracle. A
    container's memory limit is not read; under a limit below the host's
    memory, set SPARK_GRAFT_DRIVER_MEM."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // (1 << 20)
    return f"{min(half_mb, 16 << 10)}m"


def get_spark(
    app_name: str = "cherry-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    This is the only code that configures a session, with one exception:
    the events read (catalog.read_events_file) sets the UTC session time
    zone and `spark.sql.legacy.parquet.nanosAsLong` itself, because
    `__spark_entry__` callers read events through a session of their own.
    The package's generators expect a session built here. Cluster confs
    (external shuffle service, dynamic allocation, off-heap memory) go
    through `extra_conf` or spark-defaults.conf, as the reference deploys them
    (conf/spark-defaults.conf:44-45). `getOrCreate` applies the runtime SQL
    confs to a live session too; JVM-launch confs (heap, master) take effect
    only in a new one.
    """
    p = shuffle_partitions or _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{_default_parallelism()}]")
        # Shuffle sizing: reference exposes -p (spark-driver.sh:147-148).
        .config("spark.sql.shuffle.partitions", str(p))
        .config("spark.default.parallelism", str(p))
        # AQE replaces Cherry's skew-awareness and small-block handling
        # (SURVEY.md §2.12): runtime partition coalescing, skew-join
        # splitting, local shuffle readers.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join planning parity: TPCDSQueryBenchmark.scala:57-58.
        .config("spark.sql.autoBroadcastJoinThreshold", str(20 * 1024 * 1024))
        # Deterministic cross-engine comparison (DuckDB oracle): the
        # generators' NTZ casts read naive wall-clock values as UTC instants
        # (the events read, catalog.read_events_file, sets it again).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Arrow for the few pandas-UDF operators (multimodal, streaming state).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.ts has shipped as TIMESTAMP(NANOS) (round-1 fixtures) and
        # timestamp[us] (round-2 regeneration); this conf makes the NANOS
        # form readable and is a no-op for µs files (the events read sets
        # it again). The catalog branches on the actual dtype
        # (sources/catalog.py::normalize_ts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Straggler mitigation: the Cherry paper's motivation is reduce-task
        # stalls on slow shuffle reads; on a real cluster speculative
        # re-launch of the slowest tasks covers the residual stragglers AQE
        # can't re-plan away. No-op under local[] (single "executor").
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "3")
        # Input split sizing: 128 MB parquet splits keep one task's columnar
        # batches inside executor memory at any SF (brief: size
        # maxPartitionBytes so partitions fit at the target SF).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Heap sizing: local[] runs driver and all executor threads in ONE
        # JVM whose default 1g heap starves 32 task slots of execution
        # memory and OOMs broadcast builds once a long bench session has
        # accumulated cached blocks. Size it like a real executor (only
        # effective at JVM launch; a getOrCreate() against a live session
        # keeps the existing heap).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        # Observability parity: the reference exports per-stage/task metrics
        # through Spark's Prometheus endpoint (core/.../PrometheusResource
        # .scala:110-190, upstream conf spark.ui.prometheus.enabled). The
        # conf is set unconditionally; metrics are actually served only when
        # the UI is on (extra_conf={"spark.ui.enabled": "true"} on a cluster;
        # local runs keep the UI off to avoid the port bind).
        .config("spark.ui.prometheus.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

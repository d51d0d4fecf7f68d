"""Table registry: parquet-backed named views.

Mirrors the reference's table setup — `spark.read.parquet(dir/table)` +
`createOrReplaceTempView(table)` for every benchmark table
(/root/reference/spark-code/code/sql/core/src/test/scala/org/apache/spark/
sql/execution/benchmark/TPCDSQueryBenchmark.scala:69-74) — over the
driver-generated TPC-H-ish fixtures (TESTDATA.md / FIXTURES.md).

Scan-path notes for 100 TB: reads go through Spark's vectorized parquet
reader; filters/projections expressed on these DataFrames push down to the
scan (verify with .explain → PushedFilters / ReadSchema). At cluster scale
the same API reads a partitioned table directory; partition-column filters
then prune entire directories.
"""

from __future__ import annotations

import os
import weakref

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Every driver fixture table (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Per-session plan memo for `table()` (guide §1.2 "per-task work" at the
#: driver: plan construction). A `spark.read.parquet` costs ~40-100 ms of
#: driver time (py4j + relation resolution + footer schema inference), and
#: builders re-read the same fixture tables on every query construction —
#: measured at ~25% of the headline bench's wall clock (OPTIMIZATION_r12.md
#: item 4). DataFrames are immutable plans, so reusing one is pure metadata
#: caching — every action still computes from the parquet input. One entry
#: per (session, resolved path) holds (file mtime, plan); a regenerated
#: fixture (new mtime) replaces its entry, so the memo never outgrows the
#: table set. Sessions are held weakly so a stopped session's plans are
#: collectable.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table as a DataFrame (memoized per session+mtime).

    Schema-on-read (TPCDSQueryBenchmark.scala:71 pattern): no physical-type
    assumptions. The events fixture has shipped `ts` as both TIMESTAMP(NANOS)
    and timestamp[us]; branch on the dtype Spark actually infers so either
    file works, always normalizing to session-TZ TimestampType.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    try:
        real, mtime = os.path.realpath(path), os.path.getmtime(path)
        cache = _TABLE_MEMO.setdefault(spark, {})
    except (OSError, TypeError):
        return _read_table(spark, sf_dir, name)  # unreadable path raises there; never cached
    hit = cache.get(real)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    df = _read_table(spark, sf_dir, name)
    cache[real] = (mtime, df)
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampType

        # Legacy conf makes a TIMESTAMP(NANOS) file readable (as long);
        # harmless no-op for µs files.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = raw.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # nanos-as-long → µs timestamp; lossless, fixture has no sub-µs.
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if not isinstance(ts_type, TimestampType):
            # TIMESTAMP_NTZ (µs, no tz) → session-TZ timestamp. The cast
            # interprets NTZ wall-clock in the session TZ, so pin it to UTC
            # (naive-as-UTC, matching DuckDB's epoch_us and the nanos path's
            # instant semantics) — otherwise instant math (unix_micros,
            # watermarks) would depend on the host TZ of a vanilla session.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Scale-adaptive repartition before CPU-heavy per-row work.

    The driver fixtures are single-row-group parquet files, so a scan —
    and every narrow operator fused into its stage: decimal partial
    aggregation, broadcast-join probes, md5/regex projections — runs as
    ONE task regardless of core count (BASELINE.md's 206 s → 5.5 s case).
    This helper pays one narrow exchange to spread that work across the
    cluster, but ONLY when the source actually under-splits: when the
    scan already yields >= defaultParallelism partitions (any real
    multi-file/multi-row-group table, i.e. cluster scale), it is a no-op
    and adds no shuffle (guide §2.4: remove shuffles outright).

    Pass hash columns (`cols`) when a reasonably uniform key is at hand:
    hash repartition skips the local sort round-robin repartition pays
    (spark.sql.execution.sortBeforeRepartition, guide §2.5).
    """
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    # Both the probe (a QueryExecution build: plan analysis + file listing,
    # ~9 ms, worse with cloud listings — ADVICE r11) and the repartition
    # plan construction (~9 ms of py4j) repeat identically per builder
    # call: table() memoizes per (session, path, mtime), so the SAME
    # DataFrame object recurs across query builds. Memoize the spread
    # result per (object, cols, p) — pure lazy-plan reuse, no data is
    # cached. Frames not from the table memo miss harmlessly (WeakKey:
    # entries die with their source frame).
    memo = _SPREAD_MEMO.get(df)
    if memo is None:
        try:
            memo = _SPREAD_MEMO.setdefault(df, {})
        except TypeError:
            memo = {}
    key = (cols, p)
    hit = memo.get(key)
    if hit is not None:
        return hit
    if "npart" not in memo:
        memo["npart"] = df.rdd.getNumPartitions()
    if memo["npart"] >= p:
        out = df
    else:
        out = df.repartition(p, *[F.col(c) for c in cols]) if cols else df.repartition(p)
    memo[key] = out
    return out


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of a table's parquet path (file or directory), or None
    when the path cannot be statted (non-local fs) — callers choosing an
    algorithm by input size should treat None as LARGE (scale-safe)."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        total = 0
        for root, _dirs, fnames in os.walk(path):
            for f in fnames:
                total += os.path.getsize(os.path.join(root, f))
        return total
    except OSError:
        return None


#: spread()'s probe + lazy result, memoized per source DataFrame object.
_SPREAD_MEMO: "weakref.WeakKeyDictionary[DataFrame, dict]" = weakref.WeakKeyDictionary()

#: Per-session pinned frames, unpersisted only by release_persisted().
_PINNED: "weakref.WeakKeyDictionary[SparkSession, list]" = weakref.WeakKeyDictionary()


def pin(df: DataFrame) -> DataFrame:
    """`persist()` a builder intermediate for the rest of the query.

    The one persist entry point for builders (SCALE.md §persist). A
    builder returns a LAZY plan that still references what it pinned, so
    nothing unpersists during a build: the frame stays cached until the
    harness calls release_persisted() after the query's final action.
    """
    _PINNED.setdefault(df.sparkSession, []).append(df)
    return df.persist()


def release_persisted() -> int:
    """Unpersist every frame pinned in any session; returns how many.
    Harnesses call it once per query, after the final action. A stopped
    session's frames are dropped from the registry all the same."""
    n = 0
    for spark in list(_PINNED):
        for df in _PINNED.pop(spark, []):
            n += 1
            try:
                df.unpersist()
            except Py4JError:  # stopped session: its blocks are already gone
                pass
    return n


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


#: Per-session temp-view owners: view name → (tag, plan object). A
#: createOrReplaceTempView costs a catalog round-trip per call, and every
#: sql_text builder re-registers every fixture view on every construction;
#: worse, the TPC-DS star shares the `customer` name with the TPC-H views,
#: so re-registration IS load-bearing across families. Since table()/
#: spread() memoize their plan objects per (session, path, mtime), "this
#: view already holds exactly this plan" is an object-identity check: skip
#: the catalog call when the same (tag, object) owns the name, re-register
#: when another family overwrote it or the fixture was regenerated (new
#: mtime → new memo object). Pure metadata caching — no data is cached.
_VIEW_OWNERS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def ensure_view(spark: SparkSession, name: str, df: DataFrame, tag: str) -> None:
    """createOrReplaceTempView(name → df), skipped when `name` is already
    registered to this exact (tag, plan object) in this session."""
    try:
        owners = _VIEW_OWNERS.setdefault(spark, {})
    except TypeError:
        df.createOrReplaceTempView(name)
        return
    prev = owners.get(name)
    if prev is not None and prev[0] == tag and prev[1] is df:
        return
    df.createOrReplaceTempView(name)
    owners[name] = (tag, df)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (TPCDSQueryBenchmark.scala:71
    pattern). Per-table isolation: one unreadable/drifted table must not
    take down the other nine views — queries touching only healthy tables
    keep working, and the failure names the exact table."""
    dfs: dict[str, DataFrame] = {}
    errors: dict[str, Exception] = {}
    for name in TABLES:
        try:
            df = table(spark, sf_dir, name)
            ensure_view(spark, name, df, "plain")
            dfs[name] = df
        except Exception as exc:  # noqa: BLE001 — collect, re-raise summarized
            errors[name] = exc
    if errors:
        detail = "; ".join(f"{t}: {type(e).__name__}: {e}" for t, e in errors.items())
        import warnings

        warnings.warn(
            f"register_views: {len(errors)} table(s) failed to register "
            f"({', '.join(errors)}) — remaining {len(dfs)} views are live. {detail}",
            RuntimeWarning,
            stacklevel=2,
        )
    return dfs


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    cluster_cols: list[str] | None = None,
) -> None:
    """Partitioned parquet sink — reference's generator writes partitioned,
    clustered fact tables (tpc-ds-gen/TPCDSPreparation.scala:17-25,
    `clusterByPartitionColumns=true`). `cluster_cols` sorts rows within each
    output file, which tightens parquet min/max stats → better row-group
    skipping for range predicates on those columns at scale."""
    writer = df
    if cluster_cols:
        # Sort key must LEAD with the partition columns: the file writer
        # requires rows ordered by partition cols and would otherwise insert
        # its own (unstable) sort, destroying the cluster order.
        writer = df.sortWithinPartitions(*partition_cols, *cluster_cols)
    writer.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame, name: str, bucket_cols: list[str], n_buckets: int = 8
) -> None:
    """Bucketed managed table: pre-shuffles data into `n_buckets` files by
    hash of `bucket_cols`, so joins/aggregations on those columns need NO
    exchange at read time — the co-located-join strategy for repeatedly
    joined 100 TB fact tables (equivalent effect to the reference pre-
    clustering fact tables, TPCDSPreparation.scala:17-25)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(name)
    )


def write_noop(df: DataFrame) -> None:
    """Benchmark sink: full computation, no materialization
    (TPCDSQueryBenchmark.scala:100 `.noop()`)."""
    df.write.format("noop").mode("overwrite").save()

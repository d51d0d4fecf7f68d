"""Differential-comparison harness mirroring the driver's t2 check:
row count + schema (sorted column names) + order-insensitive values.

Values are compared EXACTLY (not approximately): the engine's aggregation
convention (ROUND→DECIMAL→SUM→DOUBLE, see plans/registry.py) is designed
to make Spark and DuckDB bit-identical, so any mismatch here is a real
portability bug that would also fail the driver's value-hash.

This lives in the package (not just tests/) so the CLI `compare`
subcommand exposes the correctness gate as a user-facing feature.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from spark_cherry_shuffle_service_spark.sources.catalog import TABLES, release_persisted


def _norm_cell(v: Any) -> Any:
    """Type-TAGGED normalization.

    The grading driver hashes Arrow values type-sensitively: DuckDB
    HUGEINT (decimal128) vs Spark int64 is a hash mismatch even when the
    numbers are equal, because Python's `Decimal(5) == 5 == 5.0` is True.
    Tagging each scalar with a kind marker makes the local differential
    exactly as strict, so that class of drift fails in pytest instead of
    in the driver.
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("f", v)
    if isinstance(v, decimal.Decimal):
        # decimal-vs-decimal stays scale-insensitive (Decimal('5.0') ==
        # Decimal('5')), but a decimal never equals an int/float cell.
        return ("d", v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def spark_rows(df: DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(r[c]) for c in cols) for r in df.collect()]
    return cols, sorted(rows, key=repr)


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [names[i] for i in order]
    rows = [tuple(_norm_cell(row[i]) for i in order) for row in cur.fetchall()]
    return cols, sorted(rows, key=repr)


def adapt_oracle(sql: str, sf_dir: str) -> str:
    """Re-point TPC-DS star-slice oracle paths at `sf_dir`'s star dir.

    TPC-DS oracles are self-contained read_parquet SQL over the COMMITTED
    sf0.01 star slice (the grading driver runs oracle strings verbatim at
    sf0.01, so that path must be literal). When `compare` runs at another
    SF, the Spark side generates/uses .tpcds/<tag>/ — this rewrites the
    oracle to read the same tag. No-op for every non-TPC-DS oracle."""
    import os

    from spark_cherry_shuffle_service_spark.sources.tpcds_star import ORACLE_TAG, STAR_ROOT

    tag = os.path.basename(os.path.normpath(sf_dir))
    if tag == ORACLE_TAG:
        return sql
    return sql.replace(f"{STAR_ROOT}/{ORACLE_TAG}/", f"{STAR_ROOT}/{tag}/")


#: Caps for every oracle connection. With them an infeasible SQL oracle
#: raises (DuckDB "out of memory" / temp-directory full) and
#: compare_queries adjudicates with the spec's oracle_py, where the
#: uncapped triangle self-join at sf0.1 grew the process to 10.9 GB RSS
#: until the host killed it, or spilled all free disk.
_DUCK_MEMORY_LIMIT = "4GB"
_DUCK_MAX_TEMP_SIZE = "8GB"


def duck_connection(sf_dir: str):
    import os
    import tempfile
    import uuid

    import duckdb

    # A fresh spill directory per connection under the system temp dir
    # (DuckDB's default is `.tmp` in the working directory, i.e. the
    # checkout); DuckDB creates it on the first spill and removes it on close.
    # SET, not connect(config=...): DuckDB 1.0 ignores a spill cap given at
    # connect time (measured: 18 GB of spill under a 1 GB cap).
    spill = os.path.join(tempfile.gettempdir(), f"duckdb-spill-{uuid.uuid4().hex}")
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET memory_limit = '{_DUCK_MEMORY_LIMIT}'")
    con.execute(f"SET max_temp_directory_size = '{_DUCK_MAX_TEMP_SIZE}'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are multi-file directories (the generated-
        # scale fixtures, sources/genscale.py); glob the part files so
        # DuckDB reads the same data Spark does.
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def py_oracle_rows(oracle_py, con, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """Normalize a Python-oracle result exactly like duck_rows: sort the
    columns by name, type-tag every cell, sort rows by repr."""
    names, raw = oracle_py(con, sf_dir)
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [names[i] for i in order]
    rows = [tuple(_norm_cell(row[i]) for i in order) for row in raw]
    return cols, sorted(rows, key=repr)


def _assert_rows_equal(
    s_cols: list[str],
    s_rows: list[tuple],
    d_cols: list[str],
    d_rows: list[tuple],
    name: str = "",
) -> None:
    assert s_cols == d_cols, f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        assert sr == dr, f"{name}: row {i} differs\n spark={sr}\n  duck={dr}"


def assert_matches_oracle(df: DataFrame, con, sql: str, name: str = "") -> None:
    s_cols, s_rows = spark_rows(df)
    d_cols, d_rows = duck_rows(con, sql)
    _assert_rows_equal(s_cols, s_rows, d_cols, d_rows, name=name)


def compare_queries(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    prefer_py_oracle: bool = False,
) -> dict[str, str]:
    """Run every (or the named) registered oracle queries on both engines;
    return {name: 'match' | 'MISMATCH: ...' | 'ERROR: ...'}.

    prefer_py_oracle: route specs that carry an `oracle_py` straight to it
    instead of first exhausting the SQL oracle — for generated-scale runs
    where the SQL oracle is KNOWN resource-infeasible (the CC CTE chain
    fills DuckDB's temp disk at ~sf1 before failing; no point paying 20
    minutes and 30 GB to rediscover that per run). Results stay labeled
    "match (py-oracle)" either way."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    import sys
    import time

    specs = all_specs()
    con = duck_connection(sf_dir)
    results: dict[str, str] = {}
    for name in names or sorted(n for n, s in specs.items() if s.oracle or s.oracle_py):
        t_start = time.perf_counter()
        print(f"  [compare] {name} ...", file=sys.stderr, flush=True)
        spec = specs[name]
        if spec.oracle is None and spec.oracle_py is None:
            results[name] = "SKIP: no oracle (rows-only)"
            continue
        try:
            s_cols, s_rows = spark_rows(spec.builder(spark, sf_dir))
            # A spec whose semantics are not SQL-expressible carries ONLY a
            # Python oracle (e.g. iterative BPE merges) — adjudicate with it
            # and label the verdict so artifacts show which oracle ruled.
            if spec.oracle is None or (prefer_py_oracle and spec.oracle_py is not None):
                d_cols, d_rows = py_oracle_rows(spec.oracle_py, con, sf_dir)
                _assert_rows_equal(s_cols, s_rows, d_cols, d_rows, name=name)
                results[name] = "match (py-oracle)"
                continue
            try:
                d_cols, d_rows = duck_rows(con, adapt_oracle(spec.oracle, sf_dir))
            except Exception as ex:  # noqa: BLE001
                # SQL-oracle resource failure (NOT a value mismatch). If an
                # independent Python oracle is registered — proven ≡ the SQL
                # oracle at fixture scale — adjudicate with it and say so.
                if spec.oracle_py is None:
                    raise
                d_cols, d_rows = py_oracle_rows(spec.oracle_py, con, sf_dir)
                _assert_rows_equal(s_cols, s_rows, d_cols, d_rows, name=name)
                results[name] = f"match (py-oracle; SQL oracle failed: {str(ex)[:100]})"
                continue
            _assert_rows_equal(s_cols, s_rows, d_cols, d_rows, name=name)
            results[name] = "match"
        except AssertionError as ex:
            results[name] = f"MISMATCH: {str(ex)[:200]}"
        except Exception as ex:  # noqa: BLE001
            results[name] = f"ERROR: {str(ex)[:200]}"
        finally:
            # Release the frames the build pinned (catalog.pin) after the
            # query's final action, so a full compare run ends with zero
            # net-new cache blocks.
            release_persisted()
            print(
                f"  [compare] {name}: {results.get(name, '?')} "
                f"({time.perf_counter() - t_start:.1f}s)",
                file=sys.stderr,
                flush=True,
            )
    return results

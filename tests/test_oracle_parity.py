"""The main correctness gate: every registered query with an oracle must
hash-match DuckDB on sf0.01 (the driver's t2 scale factor)."""

from __future__ import annotations

import re

import pytest

from spark_cherry_shuffle_service_spark.plans.differential import assert_matches_oracle
from spark_cherry_shuffle_service_spark.plans.registry import all_specs
from tests.conftest import SF_CORRECT

SPECS = all_specs()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)
PY_ONLY_NAMES = sorted(
    n for n, s in SPECS.items() if s.oracle is None and s.oracle_py is not None
)
ROWS_ONLY_NAMES = sorted(
    n for n, s in SPECS.items() if s.oracle is None and s.oracle_py is None
)


#: The DuckDB release the oracle SQL is verified on. `AS MATERIALIZED`
#: CTEs (operators/dedup.py) parse on it; older releases reject them.
ORACLE_DUCKDB = (1, 0, 0)


def test_oracles_parse_on_the_verified_duckdb():
    """The installed DuckDB is at least ORACLE_DUCKDB and parses every SQL
    oracle, so an older oracle engine fails here by name instead of
    inside the oracles that use its newer syntax."""
    import duckdb

    assert tuple(map(int, re.findall(r"\d+", duckdb.__version__)[:3])) >= ORACLE_DUCKDB, duckdb.__version__
    con = duckdb.connect()
    unparsed = []
    for name in ORACLE_NAMES:
        try:
            con.extract_statements(SPECS[name].oracle)
        except duckdb.Error:
            unparsed.append(name)
    assert unparsed == []


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_matches_duckdb_oracle(spark, duck_correct, name):
    spec = SPECS[name]
    df = spec.builder(spark, SF_CORRECT)
    assert_matches_oracle(df, duck_correct, spec.oracle, name=name)


@pytest.mark.parametrize("name", PY_ONLY_NAMES)
def test_matches_py_oracle(spark, duck_correct, name):
    """Specs whose semantics have no SQL form (data-dependent recursion —
    e.g. BPE merges) carry ONLY a Python oracle; value-check them with the
    same normalize/sort/compare the SQL differential uses."""
    from spark_cherry_shuffle_service_spark.plans.differential import (
        py_oracle_rows,
        spark_rows,
    )

    spec = SPECS[name]
    s_cols, s_rows = spark_rows(spec.builder(spark, SF_CORRECT))
    d_cols, d_rows = py_oracle_rows(spec.oracle_py, duck_correct, SF_CORRECT)
    assert s_cols == d_cols
    assert s_rows == d_rows
    assert len(s_rows) > 0


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_run(spark, name):
    spec = SPECS[name]
    df = spec.builder(spark, SF_CORRECT)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_arrow_schema_has_no_surprise_decimals(duck_correct, name):
    """Guard for the driver's type-sensitive value hash: DuckDB returns
    HUGEINT (Arrow decimal128(38,0)) for SUM over integers, while Spark
    returns int64 — equal values, different hash. Every integer SUM in an
    oracle must be CAST(... AS BIGINT); a decimal column is only allowed
    when the query is explicitly decimal-native on BOTH engines (tagged
    'decimal-native')."""
    spec = SPECS[name]
    schema = duck_correct.execute(spec.oracle).arrow().schema
    decimal_cols = [
        f"{f.name}:{f.type}" for f in schema if "decimal" in str(f.type)
    ]
    if "decimal-native" in spec.tags:
        assert decimal_cols, f"{name}: tagged decimal-native but oracle returns none"
    else:
        assert not decimal_cols, (
            f"{name}: oracle returns decimal columns {decimal_cols} — wrap the "
            "integer SUM with CAST(... AS BIGINT) or tag the spec decimal-native"
        )


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, os = e.queries(), e.oracle_sql()
    assert set(os) <= set(qs)
    assert len(qs) >= 30


def test_cogrouped_asof_matches_jvm_asof(spark):
    """Same operator, three implementations: the cogrouped-pandas as-of
    (udf_cogrouped_asof) must row-for-row equal the pure-JVM union+window
    as-of (events_asof_join) — both already DuckDB-verified separately."""
    cols = ["purchase_id", "user_id", "click_id", "gap_us"]
    jvm = SPECS["events_asof_join"].builder(spark, SF_CORRECT).select(*cols)
    py = SPECS["udf_cogrouped_asof"].builder(spark, SF_CORRECT).select(*cols)
    assert sorted(map(tuple, jvm.collect())) == sorted(map(tuple, py.collect()))

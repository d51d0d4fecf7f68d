"""Build one fixture set inside the checkout, then record its oracle digests.

run.py starts this once per fixture set, with the benchmark's environment
(`common.child_env`): `prepare.py sf0.1`.

The tables come from the package's own deterministic generator
(`sources.genscale`) at the row counts of the sf0.1 test fixtures
(TESTDATA.md), and the TPC-DS star from `sources.tpcds_star.generate_star`.
Each table is written as one file, like those fixtures, so scans under-split
the same way. The oracle digests are computed once here with DuckDB (or the
spec's Python oracle when its SQL cannot run), so each benchmark run checks
Spark's rows against them without re-running DuckDB.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from common import (
    DATA,
    FIXTURES,
    STAR,
    fixture_digest,
    fixture_dir,
    oracle_sql,
    ready_marker,
    redirect_star_root,
    rows_digest,
    spark_conf,
)
from spec import WORKLOADS

#: The test fixtures' fixed dimension tables and document vocabulary,
#: which `genscale` copies or samples from a source fixture dir.
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
)


def _write_source_dims(src: str) -> None:
    os.makedirs(src, exist_ok=True)
    i32 = pa.int32()
    pq.write_table(
        pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(_REGIONS)}),
        os.path.join(src, "region.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
            }
        ),
        os.path.join(src, "nation.parquet"),
    )
    pq.write_table(pa.table({"text": [_VOCAB]}), os.path.join(src, "documents.parquet"))


def oracle_digests(sf_dir: str) -> dict[str, dict]:
    """{query: {"digest", "rows", "oracle"}} for every workload query."""
    from spark_cherry_shuffle_service_spark.plans.differential import (
        duck_connection,
        duck_rows,
        py_oracle_rows,
    )
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    specs = all_specs()
    con = duck_connection(sf_dir)
    out: dict[str, dict] = {}
    names = sorted({q for w in WORKLOADS.values() for q in w["queries"]})
    for name in names:
        spec = specs[name]
        kind = "sql"
        try:
            cols, rows = duck_rows(con, oracle_sql(spec.oracle, sf_dir))
        except Exception:
            if spec.oracle_py is None:
                raise
            cols, rows = py_oracle_rows(spec.oracle_py, con, sf_dir)
            kind = "py"
        out[name] = {"digest": rows_digest(cols, rows), "rows": len(rows), "oracle": kind}
        print(f"  [prepare] oracle {name}: {len(rows)} rows ({kind})", file=sys.stderr)
    return out


def prepare(tag: str) -> dict:
    from spark_cherry_shuffle_service_spark.session import get_spark
    from spark_cherry_shuffle_service_spark.sources.genscale import generate_scaled_fixtures
    from spark_cherry_shuffle_service_spark.sources.tpcds_star import generate_star

    sf_dir = fixture_dir(tag)
    shutil.rmtree(sf_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(STAR, tag), ignore_errors=True)
    src = os.path.join(DATA, "_source")
    _write_source_dims(src)
    spark = get_spark(app_name="perfbench-prepare", extra_conf=spark_conf())
    try:
        redirect_star_root()
        generate_scaled_fixtures(
            spark, sf_dir, scale=FIXTURES[tag], src_sf_dir=src, partitions=1, doc_scale=1.0
        )
        generate_star(spark, sf_dir)
    finally:
        spark.stop()
    ready = {"tag": tag, "fixture_digest": fixture_digest(tag), "oracles": oracle_digests(sf_dir)}
    with open(ready_marker(tag), "w") as fh:
        json.dump(ready, fh, indent=1, sort_keys=True)
    return ready


def main() -> int:
    tag = sys.argv[1]
    if tag not in FIXTURES:
        print(f"unknown fixture set {tag!r}; expected one of {sorted(FIXTURES)}", file=sys.stderr)
        return 2
    prepare(tag)
    return 0


if __name__ == "__main__":
    sys.exit(main())

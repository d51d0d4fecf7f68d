"""Paths, host sizing and fixture plumbing shared by the benchmark's processes.

Everything the benchmark writes lives under `.bench_build/` at the root of
the checkout it runs from: generated fixtures, the TPC-DS star, Spark's
scratch space, result records and span files.
"""

from __future__ import annotations

import hashlib
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BUILD, "data")
STAR = os.path.join(DATA, "tpcds")
OUT = os.path.join(BUILD, "out")
TMP = os.path.join(BUILD, "tmp")

PACKAGE = "spark_cherry_shuffle_service_spark"

#: Fixture sets: tag -> genscale scale factor relative to sf0.1. The tag is
#: the fixture dir's basename, which also keys its TPC-DS star slice.
FIXTURES = {"sf0.1": 1.0, "sf0.01": 0.1}

#: Host sizing for every Spark process the benchmark starts. Without these
#: `session.get_spark` defaults to local[32] and a 16g heap.
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "3g"


def child_env() -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=TMP,
        TMPDIR=TMP,
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def spark_conf() -> dict[str, str]:
    """Extra confs: keep the JVM's temp files inside the checkout and keep
    enough finished stages in the status store to attribute a whole run."""
    return {
        "spark.local.dir": TMP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def fixture_dir(tag: str) -> str:
    return os.path.join(DATA, tag)


def redirect_star_root() -> str:
    """Point the TPC-DS star at the benchmark's data dir and return the
    package's original root, which the committed oracle texts still name."""
    from spark_cherry_shuffle_service_spark.operators import tpcds
    from spark_cherry_shuffle_service_spark.sources import tpcds_star

    original = getattr(tpcds_star, "_PERFBENCH_ORIGINAL_ROOT", tpcds_star.STAR_ROOT)
    tpcds_star._PERFBENCH_ORIGINAL_ROOT = original
    tpcds_star.STAR_ROOT = STAR
    tpcds.STAR_ROOT = STAR
    return original


def oracle_sql(sql: str, sf_dir: str) -> str:
    """The spec's DuckDB oracle re-pointed at this fixture set's star slice."""
    from spark_cherry_shuffle_service_spark.plans.differential import adapt_oracle

    original = redirect_star_root()
    return adapt_oracle(sql.replace(f"{original}/", f"{STAR}/"), sf_dir)


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    """Digest of a normalized (sorted-column, sorted-row) result; equal
    digests mean the differential harness would call the results equal."""
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def fixture_digest(tag: str) -> str:
    """Digest of the rows of every table of a fixture set and its star: row
    count plus per-column hash sums, so neither part-file names nor row
    order within the files (which differ between generations) change it."""
    import duckdb

    con = duckdb.connect()
    entries = []
    for base in (fixture_dir(tag), os.path.join(STAR, tag)):
        for name in sorted(os.listdir(base)):
            path = os.path.join(base, name)
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            row = con.execute(
                f"SELECT count(*), sum(hash(COLUMNS(*))::HUGEINT) FROM read_parquet('{src}')"
            ).fetchone()
            entries.append((os.path.relpath(path, DATA), [str(v) for v in row]))
    con.close()
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()[:16]


def ready_marker(tag: str) -> str:
    return os.path.join(fixture_dir(tag), "_PERFBENCH_READY.json")

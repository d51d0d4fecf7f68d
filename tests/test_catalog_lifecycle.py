"""Per-session catalog state: the table/star plan memos hold one entry per
table and replace it when the file changes, and ensure_view re-registers a
shared view name exactly when another family took it over."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame

from spark_cherry_shuffle_service_spark.sources import catalog, tpcds_star
from tests.conftest import SF_SMOKE


def _copy_fixtures(tmp_path) -> str:
    sf_dir = str(tmp_path / "sf0.001")
    os.makedirs(sf_dir)
    for t in catalog.TABLES:
        shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    return sf_dir


def test_table_memo_replaces_entry_on_new_mtime(spark, tmp_path):
    """Two mtime bumps: each re-reads every table, the fresh plan is the one
    returned, and the memo keeps exactly one entry per table."""
    sf_dir = _copy_fixtures(tmp_path)
    paths = {t: os.path.realpath(f"{sf_dir}/{t}.parquet") for t in catalog.TABLES}
    prev = catalog.load_tables(spark, sf_dir)
    memo = catalog._TABLE_MEMO[spark]
    try:
        again = catalog.load_tables(spark, sf_dir)  # unchanged files hit the memo
        assert all(again[t] is prev[t] for t in catalog.TABLES)
        t0 = os.path.getmtime(paths["orders"])
        for bump in (10, 20):
            for path in paths.values():
                os.utime(path, (t0 + bump, t0 + bump))
            fresh = catalog.load_tables(spark, sf_dir)
            for t, path in paths.items():
                assert fresh[t] is not prev[t], t
                assert memo[path][0] == t0 + bump and memo[path][1] is fresh[t], t
            assert len([k for k in memo if k in paths.values()]) == len(paths)
            assert catalog.table(spark, sf_dir, "orders") is fresh["orders"]
            prev = fresh
    finally:
        for path in paths.values():
            memo.pop(path, None)


def test_star_read_memo_replaces_entry_on_new_mtime(spark, tmp_path, monkeypatch):
    """Same for the star: a new manifest mtime replaces each table's entry,
    and the re-registered view holds the fresh plan."""
    tpcds_star.generate_star(spark, SF_SMOKE)  # the source slice to copy
    src = tpcds_star.star_dir(SF_SMOKE)
    sf_dir = _copy_fixtures(tmp_path)
    monkeypatch.setattr(tpcds_star, "STAR_ROOT", str(tmp_path / "star"))
    out = tpcds_star.star_dir(sf_dir)
    shutil.copytree(src, out)
    manifest = os.path.join(out, tpcds_star.MANIFEST)
    with open(manifest) as fh:
        have = json.load(fh)
    with open(manifest, "w") as fh:
        json.dump(dict(have, sf_dir=sf_dir), fh)

    real = os.path.realpath(tpcds_star.register_star_views(spark, sf_dir))
    memo = tpcds_star._STAR_READ_MEMO[spark]
    try:
        prev = memo[(real, "store_sales")][1]
        t0 = os.path.getmtime(manifest)
        for bump in (10, 20):
            os.utime(manifest, (t0 + bump, t0 + bump))
            tpcds_star.register_star_views(spark, sf_dir)
            mine = sorted(k for k in memo if k[0] == real)
            assert mine == sorted((real, t) for t in tpcds_star.TPCDS_TABLES)
            mtime, fresh = memo[(real, "store_sales")]
            assert mtime == t0 + bump and fresh is not prev
            owner = catalog._VIEW_OWNERS[spark]["store_sales"]
            assert owner[0] == "star" and owner[1] is fresh
            prev = fresh
    finally:
        for k in [k for k in memo if k[0] == real]:
            memo.pop(k)
        monkeypatch.undo()
        tpcds_star.register_star_views(spark, SF_SMOKE)  # restore the smoke star views


def test_ensure_view_shared_customer_plain_star_plain(spark, monkeypatch):
    """`customer` is shared by the TPC-H views and the TPC-DS star: each
    takeover re-registers, and an identical (tag, object) re-registration
    skips the catalog call."""
    plain = catalog.table(spark, SF_SMOKE, "customer")
    calls: list[str] = []
    create = type(plain).createOrReplaceTempView

    def counting(df, name):
        calls.append(name)
        return create(df, name)

    monkeypatch.setattr(type(plain), "createOrReplaceTempView", counting)

    def resolves_to(df: DataFrame) -> bool:
        view = spark.table("customer")
        return view.schema == df.schema and view.inputFiles() == df.inputFiles()

    catalog.ensure_view(spark, "customer", plain, "plain")
    assert resolves_to(plain)

    calls.clear()
    out = tpcds_star.register_star_views(spark, SF_SMOKE)
    star = tpcds_star._STAR_READ_MEMO[spark][(os.path.realpath(out), "customer")][1]
    assert "customer" in calls  # the star took the name over from the plain view
    assert resolves_to(star) and "c_customer_sk" in spark.table("customer").columns

    calls.clear()
    catalog.ensure_view(spark, "customer", plain, "plain")
    assert calls == ["customer"]
    assert resolves_to(plain) and "c_custkey" in spark.table("customer").columns

    calls.clear()
    catalog.ensure_view(spark, "customer", plain, "plain")  # identical (tag, object)
    assert calls == []
    catalog.ensure_view(spark, "customer", plain, "other-tag")
    assert calls == ["customer"]
    catalog.ensure_view(spark, "customer", plain, "plain")
    assert resolves_to(plain)


def test_release_persisted_tolerates_stopped_session(spark):
    """A frame whose session is gone still leaves the registry and counts."""
    from py4j.protocol import Py4JError

    class StoppedSessionFrame:
        def unpersist(self):
            raise Py4JError("SparkContext was shut down")

    catalog.release_persisted()
    catalog._PINNED.setdefault(spark, []).append(StoppedSessionFrame())
    assert catalog.release_persisted() == 1
    assert not catalog._PINNED

"""Per-session catalog state: the plan memo (fixture and star reads) and
bpe's merge-table memo hold one entry per table or corpus and replace it
when the file changes, ensure_view re-registers a shared view name exactly
when another family took it over, and every module-level memo or size gate
has a row in SCALE.md's branch and memo ledger, and only session.get_spark
configures a session (no runtime conf.set but the events read's two, four
env vars). Parquet reads: read_parquet's footer schema and parquet_rows'
footer counts equal Spark's inference and count(), and view registration
launches no Spark job."""

from __future__ import annotations

import ast
import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import DataFrame

from spark_cherry_shuffle_service_spark.sources import catalog, tpcds_star
from tests.conftest import SF_CORRECT, SF_SMOKE


def _copy_fixtures(tmp_path) -> str:
    sf_dir = str(tmp_path / "sf0.001")
    os.makedirs(sf_dir)
    for t in catalog.TABLES:
        shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    return sf_dir


def _bump(paths, t0: float, bump: int) -> None:
    for path in paths:
        os.utime(path, (t0 + bump, t0 + bump))


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
            _bump(paths.values(), t0, bump)
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
    """Same for the star, whose 24 reads share the plan memo: bumping their
    paths replaces each table's entry, and the re-registered view holds the
    fresh plan."""
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
    star = {t: os.path.realpath(f"{out}/{t}.parquet") for t in tpcds_star.TPCDS_TABLES}
    tpcds_star.register_star_views(spark, sf_dir)
    memo = catalog._TABLE_MEMO[spark]
    try:
        prev = {t: memo[path][1] for t, path in star.items()}
        t0 = os.path.getmtime(star["store_sales"])
        for bump in (10, 20):
            _bump(star.values(), t0, bump)
            tpcds_star.register_star_views(spark, sf_dir)
            assert len([k for k in memo if k.startswith(os.path.realpath(out) + os.sep)]) == len(star)
            owners = catalog._VIEW_OWNERS[spark]
            for t, path in star.items():
                mtime, fresh = memo[path]
                assert mtime == t0 + bump and fresh is not prev[t], t
                assert owners[t][0] == "star" and owners[t][1] is fresh, t
            prev = {t: memo[path][1] for t, path in star.items()}
    finally:
        for path in star.values():
            memo.pop(path, None)
        monkeypatch.undo()
        tpcds_star.register_star_views(spark, SF_SMOKE)  # restore the smoke star views


def test_train_memo_replaces_entry_on_new_mtime(spark, tmp_path):
    """bpe's merge-table memo holds one entry per fixture dir: retraining
    after a documents mtime bump replaces it."""
    from spark_cherry_shuffle_service_spark.operators import bpe

    sf_dir = _copy_fixtures(tmp_path)
    real, docs = os.path.realpath(sf_dir), f"{sf_dir}/documents.parquet"
    try:
        merges = bpe._train(spark, sf_dir)
        t0 = os.path.getmtime(docs)
        assert bpe._TRAIN_MEMO[real] == (t0, merges)
        assert bpe._train(spark, sf_dir) is merges  # an unchanged corpus hits the memo
        os.utime(docs, (t0 + 10, t0 + 10))
        again = bpe._train(spark, sf_dir)
        assert again == merges and again is not merges  # retrained on the new mtime
        assert [k for k in bpe._TRAIN_MEMO if real in str(k)] == [real]
        assert bpe._TRAIN_MEMO[real] == (t0 + 10, again)
    finally:
        bpe._TRAIN_MEMO.pop(real, None)
        memo = catalog._TABLE_MEMO[spark]
        for t in catalog.TABLES:
            memo.pop(os.path.realpath(f"{sf_dir}/{t}.parquet"), None)


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
    star = catalog._TABLE_MEMO[spark][os.path.realpath(f"{out}/customer.parquet")][1]
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


# --- read_parquet: footer schema, footer row counts, zero set-up jobs -------

_PACKAGE = os.path.dirname(os.path.dirname(catalog.__file__))
_STAR_SF001 = tpcds_star.star_dir(SF_CORRECT)  # the committed star slice


def test_parquet_reads_only_through_read_parquet():
    """Source scan: every `<x>.read[...].parquet(...)` call in the package
    sits inside catalog.read_parquet, the one read that skips inference."""
    stray, inside = [], 0
    for root, _dirs, files in os.walk(_PACKAGE):
        for fname in (f for f in files if f.endswith(".py")):
            path = os.path.join(root, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            allowed = {
                id(node)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef) and fn.name == "read_parquet"
                and path == catalog.__file__
                for node in ast.walk(fn)
            }
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and ".read." in f".{ast.unparse(node.func.value)}."
                ):
                    if id(node) in allowed:
                        inside += 1
                    else:
                        stray.append(f"{os.path.relpath(path, _PACKAGE)}:{node.lineno}")
    assert stray == [] and inside == 2


def _ledger() -> str:
    """The table of SCALE.md §Branch and memo ledger."""
    with open(os.path.join(os.path.dirname(_PACKAGE), "SCALE.md")) as fh:
        section = fh.read().split("## Branch and memo ledger", 1)[1].split("\n## ", 1)[0]
    return "\n".join(line for line in section.splitlines() if line.startswith("|"))


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, (ast.Dict, ast.List)):
        return not (node.keys if isinstance(node, ast.Dict) else node.elts)
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        func = ast.unparse(node.func)
        return func == "set" or func.startswith("weakref.Weak")
    return False


def test_module_state_and_size_gates_have_ledger_rows():
    """Every module-level name bound to an empty {}, [], set() or
    weakref.Weak*() (a memo or registry), and every function that picks a
    plan by table_bytes, is named in the ledger; no spark.cherry.* conf."""
    ledger = _ledger()
    missing, knobs = [], []
    for root, _dirs, files in os.walk(_PACKAGE):
        for fname in (f for f in files if f.endswith(".py")):
            path = os.path.join(root, fname)
            with open(path) as fh:
                src = fh.read()
            rel = os.path.relpath(path, _PACKAGE)
            if "spark.cherry." in src:
                knobs.append(rel)
            tree = ast.parse(src)
            names = [
                ast.unparse(target)
                for node in tree.body
                if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None
                and _is_empty_container(node.value)
                for target in (node.targets if isinstance(node, ast.Assign) else [node.target])
            ]
            names += [
                fn.name
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef) and fn.name != "table_bytes"
                and any(
                    isinstance(c, ast.Call) and ast.unparse(c.func).endswith("table_bytes")
                    for c in ast.walk(fn)
                )
            ]
            missing += [
                f"{rel}:{name}" for name in names
                if f"`{name}`" not in ledger and f"{rel}:{name}" != "plans/registry.py:REGISTRY"
            ]
    assert (missing, knobs) == ([], [])


#: The environment variables the package and bench.py may read: host
#: sizing (get_spark) and the default fixture and generated-data dirs.
_ENV_ALLOWLIST = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_GEN_DIR"}


#: The package's only runtime conf writes: the events read sets the two
#: confs its `ts` decode depends on, for a session get_spark did not build.
_CATALOG_PY = "spark_cherry_shuffle_service_spark/sources/catalog.py"
_EVENTS_CONF_SETS = [
    (_CATALOG_PY, 'spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")'),
    (_CATALOG_PY, 'spark.conf.set("spark.sql.session.timeZone", "UTC")'),
]


def test_session_is_configured_only_by_get_spark():
    """Source scan of the package and bench.py: no runtime `.conf.set(`
    but catalog.read_events_file's two (session.get_spark owns every other
    conf), and no environment read outside _ENV_ALLOWLIST. A read whose
    name is not a literal, or any other use of os.environ / os.getenv,
    counts as outside."""
    paths = [os.path.join(r, f) for r, _d, fs in os.walk(_PACKAGE) for f in fs if f.endswith(".py")]
    conf_sets, env = [], []
    for path in paths + [os.path.join(os.path.dirname(_PACKAGE), "bench.py")]:
        with open(path) as fh:
            src = fh.read()
        rel = os.path.relpath(path, os.path.dirname(_PACKAGE))
        conf_sets += [(rel, ln.strip()) for ln in src.splitlines() if ".conf.set(" in ln]
        tree = ast.parse(src)
        reads = [
            node.args[0] if isinstance(node, ast.Call) else node.slice
            for node in ast.walk(tree)
            if (isinstance(node, ast.Call) and ast.unparse(node.func) in ("os.environ.get", "os.getenv"))
            or (isinstance(node, ast.Subscript) and ast.unparse(node.value) == "os.environ")
        ]
        uses = sum(
            isinstance(node, ast.Attribute) and ast.unparse(node) in ("os.environ", "os.getenv")
            for node in ast.walk(tree)
        )
        env += [
            f"{rel}:{ast.unparse(r)}" for r in reads
            if not (isinstance(r, ast.Constant) and r.value in _ENV_ALLOWLIST)
        ]
        env += [f"{rel}:os.environ"] * (uses - len(reads))
    assert (conf_sets, env) == (_EVENTS_CONF_SETS, [])


_PARITY_CASES = (
    [pytest.param("smoke", t, False, id=f"smoke-{t}") for t in catalog.TABLES]
    + [pytest.param("star", t, True, id=f"star-{t}") for t in tpcds_star.TPCDS_TABLES]
    + [pytest.param("written", "orders", True, id="spark-written-orders")]
)


@pytest.mark.parametrize("where,name,footer", _PARITY_CASES)
def test_read_parquet_matches_inference(spark, tmp_path, where, name, footer):
    """Footer schema (nullability included) and footer row count equal
    Spark's inference and count(); Spark-written files take the footer
    path, the smoke fixtures (written by pyarrow) fall back to inference."""
    if where == "written":
        path = str(tmp_path / f"{name}.parquet")
        spark.read.parquet(f"{SF_SMOKE}/{name}.parquet").write.parquet(path)
    else:
        path = os.path.join(SF_SMOKE if where == "smoke" else _STAR_SF001, f"{name}.parquet")
    assert (catalog._footer_schema(spark, path) is not None) == footer
    inferred = spark.read.parquet(path)
    assert catalog.read_parquet(spark, path).schema == inferred.schema
    assert catalog.parquet_rows(path) == inferred.count()


def test_read_parquet_falls_back_under_merge_schema(spark, tmp_path):
    """With mergeSchema on, Spark unions every footer's schema; one footer
    cannot give that, so read_parquet infers like spark.read.parquet."""
    out = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").write.parquet(out)
    spark.range(2).selectExpr("id AS a", "id AS b").write.mode("append").parquet(out)
    assert catalog._footer_schema(spark, out) is not None
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert catalog._footer_schema(spark, out) is None
        merged = catalog.read_parquet(spark, out).schema
        assert merged == spark.read.parquet(out).schema and merged.names == ["a", "b"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_read_parquet_falls_back_without_spark_footer_key(spark, tmp_path):
    """A footer with no Spark row schema (here: written by pyarrow) gets
    Spark's own inference, and so does a path that does not exist."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "arrow.parquet")
    pq.write_table(pa.table({"k": pa.array([1, None], pa.int32()), "s": ["x", "y"]}), path)
    assert catalog._footer_schema(spark, path) is None
    assert catalog.read_parquet(spark, path).schema == spark.read.parquet(path).schema
    assert catalog.parquet_rows(path) == 2
    assert catalog._footer_schema(spark, str(tmp_path / "missing.parquet")) is None


def _group_jobs(spark, fn) -> list[int]:
    """Job ids `fn()` launches, attributed through a fresh job group."""
    sc = spark.sparkContext
    group = f"no-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_register_star_views_launches_no_jobs(spark):
    """With the star's memo entries cleared, validating the manifest (footer
    row counts) and reading all 24 tables (footer schemas) runs no Spark job."""
    out = tpcds_star.star_dir(SF_SMOKE)
    tpcds_star.generate_star(spark, SF_SMOKE)  # the star exists before timing
    star = [os.path.realpath(f"{out}/{t}.parquet") for t in tpcds_star.TPCDS_TABLES]
    memo = catalog._TABLE_MEMO.setdefault(spark, {})
    for path in star:
        memo.pop(path, None)
    assert _group_jobs(spark, lambda: tpcds_star.register_star_views(spark, SF_SMOKE)) == []
    assert all(path in memo for path in star)


def test_register_views_launches_no_jobs_on_spark_written_fixtures(spark, tmp_path):
    """register_views over a Spark-written copy of the fixture set: ten
    views, zero jobs (the smoke fixtures themselves are not Spark-written
    and keep inference)."""
    sf_dir = str(tmp_path / "sf0.001")
    for t in catalog.TABLES:
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").write.parquet(f"{sf_dir}/{t}.parquet")
    try:
        views: dict = {}
        jobs = _group_jobs(spark, lambda: views.update(catalog.register_views(spark, sf_dir)))
        assert jobs == [] and sorted(views) == sorted(catalog.TABLES)
    finally:
        memo = catalog._TABLE_MEMO[spark]
        for t in catalog.TABLES:
            memo.pop(os.path.realpath(f"{sf_dir}/{t}.parquet"), None)
        catalog.register_views(spark, SF_SMOKE)  # restore the smoke views

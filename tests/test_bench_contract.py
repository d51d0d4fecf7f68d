"""Driver-contract pre-flight (VERDICT r2 item #2).

Round 2 shipped a bench that crashed at query 12/75 because nothing built
the HEADLINE queries at test time. These tests BUILD (not execute) every
HEADLINE DataFrame plus every registered query, so a plan-level crash in
any driver-facing contract fails pytest at commit time instead of the
grading run.
"""

from __future__ import annotations

from spark_cherry_shuffle_service_spark.plans.measure import HEADLINE
from spark_cherry_shuffle_service_spark.plans.registry import all_specs
from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted
from tests.conftest import SF_SMOKE


def test_every_headline_query_builds(spark):
    """Every HEADLINE entry must resolve in the registry and build
    to a DataFrame with a non-empty schema (analysis runs; no execution)."""
    specs = all_specs()
    missing = [n for n in HEADLINE if n not in specs]
    assert not missing, f"HEADLINE names absent from registry: {missing}"
    failed: dict[str, str] = {}
    for name in HEADLINE:
        try:
            df = specs[name].builder(spark, SF_SMOKE)
            assert len(df.schema.fields) > 0
        except Exception as exc:  # noqa: BLE001 — report all, not first
            failed[name] = f"{type(exc).__name__}: {exc}"[:200]
        release_persisted()
    assert not failed, f"{len(failed)} HEADLINE queries fail to build: {failed}"


def test_headline_has_no_duplicates():
    assert len(HEADLINE) == len(set(HEADLINE))


def test_entry_module_contract(spark):
    """__spark_entry__ must expose entry/queries/oracle_sql with matching
    keys, and entry() must build against the smoke fixture."""
    import __spark_entry__ as mod

    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(qs), "oracle_sql keys must be a subset of queries"
    df = mod.entry(spark)
    assert len(df.schema.fields) > 0


def test_baseline_queries_file_matches_headline():
    """BASELINE_QUERIES.json (BASELINE.md's canonical per-query sf0.1
    table, and the denominators of the sf1 scaling check below) must cover
    exactly the HEADLINE set with positive timings."""
    import json

    with open("/root/repo/BASELINE_QUERIES.json") as fh:
        base = json.load(fh)["queries"]
    assert set(base) == set(HEADLINE), (
        f"baseline/HEADLINE drift: only-baseline={set(base) - set(HEADLINE)}, "
        f"only-headline={set(HEADLINE) - set(base)} — re-run `python bench.py` "
        "and refresh BASELINE_QUERIES.json after changing HEADLINE"
    )
    assert all(v > 0 for v in base.values())


def test_sf1_bench_artifact_scales_sublinearly():
    """BENCH_sf1.json (full headline bench on the generated ~sf1
    fixtures, 10x the sf0.1 fact tables) is the committed scaling
    evidence: every per-query ratio vs the sf0.1 baseline must stay
    under 10x — a query that costs 10x at 10x data has stopped being
    sub-linear, and an O(n^2) regression would read ~100x. Observed
    worst at commit time: 4.75x (agg_percentiles, the documented
    exact-unbounded query whose registry entry names its bounded
    scale_twin)."""
    import json
    import os

    import pytest

    path = "/root/repo/BENCH_sf1.json"
    if not os.path.exists(path):
        pytest.skip("BENCH_sf1.json not yet generated")
    with open(path) as fh:
        sf1 = json.load(fh)
    assert sf1["sf"] == 1.0
    with open("/root/repo/BASELINE_QUERIES.json") as fh:
        base = json.load(fh)["queries"]
    assert set(sf1["queries"]) == set(HEADLINE)
    bad = {
        k: round(sf1["queries"][k] / base[k], 2)
        for k in sf1["queries"]
        if k in base and sf1["queries"][k] > 10 * base[k]
    }
    assert not bad, f"super-linear scaling at 10x data: {bad}"


def test_only_the_canonical_sf01_dir_is_canonical():
    """bench.py refreshes BENCH_FULL.json and COLD_BASELINE.json only from
    the canonical sf0.1 fixtures, keyed on the RESOLVED path: a generated
    .genscale/sf0.1 shares the basename but not the data (ADVICE r10)."""
    import os

    from bench import _REPO, CANONICAL_SF01, _is_canonical_sf01

    assert _is_canonical_sf01(CANONICAL_SF01)
    assert _is_canonical_sf01(CANONICAL_SF01 + "/")
    assert not _is_canonical_sf01(os.path.join(_REPO, ".genscale", "sf0.1"))
    assert not _is_canonical_sf01(os.path.join(_REPO, "nonexistent", "sf42"))


def test_bench_main_prints_one_line_and_writes_only_canonical_artifacts(
    spark, monkeypatch, tmp_path, capsys
):
    """bench.py's stdout contract: exactly one parseable JSON line, the
    bulky `queries` map first and `sf` last (the driver keeps only the
    tail of stdout). A non-canonical run writes no file and names none; a
    canonical one writes BENCH_FULL.json, whose medians are those of its
    runs, names it as `full_copy`, and writes COLD_BASELINE.json."""
    import json
    import statistics

    import bench

    from spark_cherry_shuffle_service_spark.session import _default_parallelism

    names = ["join_inner", "top_revenue"]
    monkeypatch.setattr(bench, "HEADLINE", names)
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.setattr(bench, "DEFAULT_SF_DIR", SF_SMOKE)

    bench.main()
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    rec = json.loads(lines[0])
    keys = list(rec)
    assert keys[0] == "queries" and keys[-2:] == ["value", "sf"], keys
    assert list(rec["queries"]) == names and rec["n_queries"] == 2
    assert rec["value"] == round(sum(rec["queries"].values()), 3)
    # the session runs 8 partitions on local[SPARK_GRAFT_CPUS]: `cores` is the latter
    assert rec["cores"] == _default_parallelism()
    assert rec["executor_cpu_s"] > 0 and rec["calibration_sec"] > 0
    assert "details" not in rec and "full_copy" not in rec
    assert list(tmp_path.iterdir()) == []

    monkeypatch.setattr(bench, "CANONICAL_SF01", SF_SMOKE)
    bench.main()
    rec = json.loads(capsys.readouterr().out)
    assert rec["full_copy"] == "BENCH_FULL.json" and list(rec)[-2:] == ["value", "sf"]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["BENCH_FULL.json", "COLD_BASELINE.json"]
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    for n in names:
        assert full["queries"][n] == statistics.median(full["details"][n]["runs"])
    cold = json.loads((tmp_path / "COLD_BASELINE.json").read_text())
    assert cold["queries"] == {n: full["details"][n]["runs"][0] for n in names}


def test_cold_baseline_covers_headline_set():
    """COLD_BASELINE.json (VERDICT r9 item 8, r12 item 7): every headline
    query must carry a cold runs[0] entry from the canonical bench."""
    import json
    import os

    import pytest

    path = "/root/repo/COLD_BASELINE.json"
    if not os.path.exists(path):
        pytest.skip("COLD_BASELINE.json not yet generated")
    with open(path) as fh:
        cold = json.load(fh)
    assert set(HEADLINE) <= set(cold["queries"])
    assert all(v > 0 for v in cold["queries"].values())
    # ADVICE r10: the artifact must name the canonical fixture dir it was
    # measured on — a generated sf0.1 lookalike can never refresh it.
    from bench import CANONICAL_SF01

    assert cold["_sf_dir"] == CANONICAL_SF01

"""Graph-operator oracle plumbing: the numpy oracle twins and the compare
harness's transparent py-oracle fallback.

Background (round 7): the full-registry generated-scale (~sf1)
differential killed the connected-components SQL oracle — DuckDB's
min-label CTE chain spilled >30 GB of temp and ENOSPC'd — while the
engine-side query ran fine. The fix is an independent numpy oracle
(graph.py::_cc_oracle_py) used only when the SQL oracle raises a
resource error. These tests anchor that fallback:

1. py-oracle ≡ SQL oracle at fixture scale (so the fallback is itself
   differentially verified against the primary);
2. the harness labels a fallback adjudication as "match (py-oracle...)"
   rather than silently reporting plain "match".
"""

from __future__ import annotations

import os

import pytest

from spark_cherry_shuffle_service_spark.plans.differential import (
    compare_queries,
    duck_connection,
    duck_rows,
    py_oracle_rows,
)
from spark_cherry_shuffle_service_spark.operators import dedup, graph
from spark_cherry_shuffle_service_spark.plans.registry import (
    REGISTRY,
    QuerySpec,
    all_specs,
)
from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted
from tests.conftest import SF_CORRECT, SF_SMOKE

SF_01 = os.path.join(os.path.dirname(SF_CORRECT), "sf0.1")


@pytest.mark.parametrize(
    "name, sf_dir",
    [
        ("graph_connected_components", SF_CORRECT),
        ("graph_pagerank", SF_CORRECT),
        ("graph_kcore", SF_CORRECT),
        ("graph_sssp_bounded", SF_CORRECT),
        ("graph_label_propagation", SF_CORRECT),
        # the SQL oracle's three-way self-join is infeasible at sf0.1
        ("graph_triangle_count", SF_CORRECT),
        # At sf0.1 the edge set is ~10x sf0.01 and these SQL oracles still
        # fit DuckDB, one scale below where they become infeasible.
        ("graph_connected_components", SF_01),
        ("graph_pagerank", SF_01),
        ("graph_kcore", SF_01),
        ("graph_sssp_bounded", SF_01),
        ("graph_label_propagation", SF_01),
    ],
    ids=lambda v: v.rsplit("/", 1)[-1],
)
def test_py_oracle_matches_sql_oracle(name, sf_dir):
    """The numpy fallback oracle equals the SQL oracle, row for row."""
    spec = all_specs()[name]
    assert spec.oracle_py is not None
    con = duck_connection(sf_dir)
    d_cols, d_rows = duck_rows(con, spec.oracle)
    p_cols, p_rows = py_oracle_rows(spec.oracle_py, con, sf_dir)
    assert p_cols == d_cols
    assert p_rows == d_rows
    assert len(p_rows) > 0


def test_py_oracle_fallback_is_transparent(spark, duck_correct):
    """When the SQL oracle raises (here: invalid SQL standing in for the
    sf1 ENOSPC), the harness must adjudicate via oracle_py and SAY SO in
    the result string; a value mismatch through the fallback must still
    read MISMATCH."""
    import pyspark.sql.functions as F

    def builder(s, sf_dir):
        return s.range(3).select(F.col("id").cast("long").alias("n"))

    def good_py_oracle(con, sf_dir):
        return ["n"], [(0,), (1,), (2,)]

    def bad_py_oracle(con, sf_dir):
        return ["n"], [(0,), (1,), (99,)]

    names = ["__t_fallback_ok__", "__t_fallback_bad__", "__t_no_py__"]
    try:
        REGISTRY[names[0]] = QuerySpec(
            name=names[0], builder=builder, oracle="SELECT * FROM no_such_table_xyz",
            oracle_py=good_py_oracle,
        )
        REGISTRY[names[1]] = QuerySpec(
            name=names[1], builder=builder, oracle="SELECT * FROM no_such_table_xyz",
            oracle_py=bad_py_oracle,
        )
        REGISTRY[names[2]] = QuerySpec(
            name=names[2], builder=builder, oracle="SELECT * FROM no_such_table_xyz",
        )
        results = compare_queries(spark, SF_CORRECT, names)
    finally:
        for n in names:
            REGISTRY.pop(n, None)

    assert results[names[0]].startswith("match (py-oracle"), results[names[0]]
    assert results[names[1]].startswith("MISMATCH"), results[names[1]]
    assert results[names[2]].startswith("ERROR"), results[names[2]]


def test_sql_oracle_value_mismatch_never_falls_back(spark, duck_correct):
    """A VALUE disagreement with the working SQL oracle is a real bug and
    must surface as MISMATCH even when an oracle_py is registered — the
    fallback is for oracle resource failures only."""
    import pyspark.sql.functions as F

    def builder(s, sf_dir):
        return s.range(2).select(F.col("id").cast("long").alias("n"))

    def py_oracle(con, sf_dir):  # agrees with Spark; must NOT be consulted
        return ["n"], [(0,), (1,)]

    name = "__t_sql_mismatch__"
    try:
        REGISTRY[name] = QuerySpec(
            name=name, builder=builder,
            oracle="SELECT CAST(7 AS BIGINT) AS n", oracle_py=py_oracle,
        )
        results = compare_queries(spark, SF_CORRECT, [name])
    finally:
        REGISTRY.pop(name, None)
    assert results[name].startswith("MISMATCH"), results[name]


def test_kcore_actually_peels(duck_correct):
    """The fixture graph must exercise the peel: some nodes die (the
    output is a strict subset of the node set), and edge deletion is
    SYMMETRIC — the src-derived degree map (the query's output) must be
    identical to the dst-derived degree map over the surviving edge set.
    (A degree >= 1 check is vacuous here: a GROUP BY over the edge table
    can never emit a zero-count group — ADVICE r7.)"""
    spec = all_specs()["graph_kcore"]
    _, rows = py_oracle_rows(spec.oracle_py, duck_correct, SF_CORRECT)
    n_all = duck_correct.execute(
        """
        SELECT COUNT(DISTINCT node) FROM (
          SELECT 2 * l_suppkey AS node FROM lineitem
          UNION ALL
          SELECT 2 * o_custkey + 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        )
        """
    ).fetchone()[0]
    assert 0 < len(rows) < n_all
    # Symmetry: rerun the SQL oracle with its final GROUP BY flipped from
    # src to dst. Undirected peeling must make the two maps identical.
    flipped_sql = spec.oracle.replace(
        "SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree",
        "SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS degree",
    )
    flipped_sql = flipped_sql[: flipped_sql.rfind("GROUP BY src")] + "GROUP BY dst\n    "
    assert "GROUP BY dst" in flipped_sql and "SELECT dst AS node" in flipped_sql
    _, src_rows = duck_rows(duck_correct, spec.oracle)
    _, dst_rows = duck_rows(duck_correct, flipped_sql)
    assert src_rows == dst_rows, "k-core peel is not symmetric in src/dst"
    assert sorted(rows) == sorted(src_rows)


def test_sssp_distances_are_sound(duck_correct):
    """Seeds sit at distance 0; every other reached node is strictly
    positive; and the reached SET equals the BFS reachable set at the same
    round bound (min-plus relaxation reaches exactly the <=4-hop
    neighborhood regardless of weights, all >= 1)."""
    spec = all_specs()["graph_sssp_bounded"]
    _, rows = py_oracle_rows(spec.oracle_py, duck_correct, SF_CORRECT)
    # cols sorted: (dist, node); cells tagged ("i", v).
    dists = {r[1][1]: r[0][1] for r in rows}
    seeds = {
        2 * x[0]
        for x in duck_correct.execute(
            "SELECT DISTINCT s_suppkey FROM supplier WHERE s_nationkey = 0"
        ).fetchall()
    }
    assert seeds <= set(dists)
    assert all(dists[n] == 0 for n in seeds)
    assert all(d > 0 for n, d in dists.items() if n not in seeds)


def test_lpa_actually_coarsens(duck_correct):
    """After 3 rounds the label set must be strictly smaller than the node
    set (propagation merged somebody) and every community min_node must
    be a member candidate (min_node's community is its own label source)."""
    spec = all_specs()["graph_label_propagation"]
    _, rows = py_oracle_rows(spec.oracle_py, duck_correct, SF_CORRECT)
    n_nodes_total = sum(r[2][1] for r in rows)  # cols sorted: community, min_node, n_nodes
    assert 0 < len(rows) < n_nodes_total


@pytest.mark.parametrize(
    "name, sf_dir",
    [
        ("graph_connected_components", SF_CORRECT),
        ("dedup_cluster_canonical", SF_CORRECT),
        ("graph_sssp_bounded", SF_CORRECT),
        ("graph_bfs_levels", SF_CORRECT),
        # no nation-0 supplier exists at sf0.001: every hop reads 0
        ("graph_bfs_levels", SF_SMOKE),
    ],
    ids=lambda v: v.rsplit("/", 1)[-1],
)
def test_min_relax_callers_match_their_oracles(spark, name, sf_dir):
    """The `_min_relax` queries agree with their SQL oracles in the
    default tier, not only in the opt-in full-registry differential."""
    assert compare_queries(spark, sf_dir, [name])[name] == "match"


def _leaves(df) -> int:
    return df._jdf.queryExecution().logical().collectLeaves().size()


#: each `_min_relax` query -> (its module, the constant holding its round count)
_RELAX_ROUNDS = {
    "graph_connected_components": (graph, "_CC_ITER"),
    "dedup_cluster_canonical": (dedup, "_CLUSTER_ROUNDS"),
    "graph_sssp_bounded": (graph, "_SSSP_ROUNDS"),
    "graph_bfs_levels": (graph, "_BFS_HOPS"),
}


@pytest.mark.parametrize("name", list(_RELAX_ROUNDS))
def test_min_relax_plans_grow_linearly_in_rounds(spark, monkeypatch, name):
    """Each round reads its state once and the edges once, so every round
    adds exactly the edges' leaves to the built logical plan. A round that
    reads its state twice doubles the plan per round (connected components
    built 62 leaves in 4 rounds that way)."""
    module, rounds_const = _RELAX_ROUNDS[name]
    real = dedup._min_relax
    edge_leaves = set()

    def spy(edges, state, col, step=None):
        edge_leaves.add(_leaves(edges))
        return real(edges, state, col, step)

    monkeypatch.setattr(module, "_min_relax", spy)
    plan_leaves = []
    for rounds in (1, 2, 3):
        monkeypatch.setattr(module, rounds_const, rounds)
        plan_leaves.append(_leaves(all_specs()[name].builder(spark, SF_CORRECT)))
        release_persisted()
    (per_round,) = edge_leaves
    assert [b - a for a, b in zip(plan_leaves, plan_leaves[1:])] == [per_round, per_round], plan_leaves

"""Iterative graph algorithm: PageRank over the supplier↔customer trade
graph. The reference runs Spark's JavaPageRank example as one of its
workloads (spark-driver.sh:48-51, SURVEY.md §0.4) — this is the
DataFrame-native form of that computation.

Graph: undirected supplier↔customer edges (one edge per distinct pair that
traded, derived from lineitem⋈orders), expressed as two directed edges, so
every node has out-degree ≥ 1 (no dangling-node mass loss). Semantics match
the classic Spark example: ranks start at 1.0; each iteration
rank' = 0.15 + 0.85 · Σ_in (rank/out_degree).

Determinism: ranks live in FIXED-POINT micro-units (BIGINT, 1e6 = rank
1.0) with integer floor-division contributions — no floats anywhere in the
iteration, so a fixed iteration count is bit-identical at any parallelism
AND across engines (float quantization of rank/d ratios hit cross-engine
ROUND ties at sf0.1; integers have no ties). The oracle unrolls the loop
as chained CTEs — same dataflow Catalyst sees.

Scale: edges are the only large table; they're built once, persisted, and
re-joined each iteration (hash join on node id — the natural partitioning
to reuse). 3 iterations = 3 shuffles on node id; at 100 TB you bucket the
edge table by src so the per-iteration join is exchange-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.operators.dedup import _min_label_rounds, _min_relax
from spark_cherry_shuffle_service_spark.plans.registry import query
from spark_cherry_shuffle_service_spark.sources.catalog import pin, table


# ---------------------------------------------------------------------------
# The trade graph, written once per engine. Node encoding: supplier s → 2s,
# customer c → 2c+1 (disjoint integer namespaces; integers hash/shuffle far
# cheaper than string ids). Spark: _trade_join / _trade_pairs / _sym_edges.
# Oracle twins: _pairs_sql / _edges_cte (SQL) and _trade_edges_np (numpy);
# they never call the Spark helpers, so the differential stays independent.
# Each builder keeps its own repartition and pin calls.
# ---------------------------------------------------------------------------
def _trade_join(spark: SparkSession, sf_dir: str, *li_cols: str) -> DataFrame:
    """lineitem ⋈ orders on the order key. The single-file fixture scans as
    ONE partition, so lineitem is repartitioned before the join and edge
    construction parallelizes (BASELINE.md perf note)."""
    par = spark.sparkContext.defaultParallelism
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", *li_cols)
        .repartition(par)
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


def _trade_nodes() -> list[Column]:
    """s_node, c_node of a _trade_join row."""
    return [
        (2 * F.col("l_suppkey")).alias("s_node"),
        (2 * F.col("o_custkey") + 1).alias("c_node"),
    ]


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (s_node, c_node): one undirected edge per pair that traded."""
    return _trade_join(spark, sf_dir).select(*_trade_nodes()).distinct()


def _pairs_sql(weighted: bool = False) -> str:
    """SQL twin of _trade_pairs; `weighted` adds graph_sssp_bounded's
    w = MIN(l_quantity) per pair."""
    nodes = "2 * l_suppkey AS s_node, 2 * o_custkey + 1 AS c_node"
    join = "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    if weighted:
        return f"SELECT {nodes}, MIN(CAST(l_quantity AS BIGINT)) AS w {join} GROUP BY 1, 2"
    return f"SELECT DISTINCT {nodes} {join}"


def _edges_cte(weighted: bool = False) -> str:
    """`WITH pairs, edges(src, dst[, w])` head of every trade-graph SQL
    oracle: both directions of each pair (SQL twin of _sym_edges)."""
    w = ", w" if weighted else ""
    return f"""
    WITH pairs AS (
      {_pairs_sql(weighted)}
    ), edges AS (
      SELECT s_node AS src, c_node AS dst{w} FROM pairs
      UNION ALL
      SELECT c_node AS src, s_node AS dst{w} FROM pairs
    )"""


def _trade_edges_np(con, weighted: bool = False) -> tuple:
    """numpy twin of _edges_cte: (src, dst[, w]) int64 arrays holding both
    directions of each pair, for the oracle_py functions."""
    import numpy as np

    res = con.execute(_pairs_sql(weighted)).fetchnumpy()
    s = np.asarray(res["s_node"], dtype=np.int64)
    c = np.asarray(res["c_node"], dtype=np.int64)
    out = (np.concatenate([s, c]), np.concatenate([c, s]))
    if weighted:
        w = np.asarray(res["w"], dtype=np.int64)
        out += (np.concatenate([w, w]),)
    return out


def _sym_edges(pairs: DataFrame, *extra: str) -> DataFrame:
    """Both directions of the undirected (s_node, c_node) edge set in ONE
    pass over `pairs`: a 2-element explode instead of a unionByName of two
    swapped projections. The union's branches each re-evaluate the pairs
    subtree (the distinct's post-shuffle dedup pass runs once PER BRANCH —
    no ReusedExchange covers it, verified in the r12 plan dumps); the
    explode evaluates it once and emits a multiset-identical edge list."""
    both = [
        F.struct(
            F.col("s_node").alias("src"),
            F.col("c_node").alias("dst"),
            *[F.col(c) for c in extra],
        ),
        F.struct(
            F.col("c_node").alias("src"),
            F.col("s_node").alias("dst"),
            *[F.col(c) for c in extra],
        ),
    ]
    return pairs.select(F.explode(F.array(*both)).alias("e")).select(
        "e.src", "e.dst", *[f"e.{c}" for c in extra]
    )


_ITER = 3
_DAMP = 0.85


def _oracle() -> str:
    # FIXED-POINT ranks (micro-rank units, BIGINT): rank/d ratios are
    # irrational-ish doubles, and quantizing them (ROUND(x, 6)) lands on
    # .5-boundaries where Spark (shortest-decimal HALF_UP) and DuckDB
    # (binary libm) disagree by 1e-6 — observed at sf0.1. Integer floor
    # division has NO ties and no float at all: every engine, every
    # parallelism, every scale computes the identical BIGINT. Semantics
    # shift vs float PageRank is < 1e-6 per contribution (floor vs round),
    # i.e. inside the quantization the float form already applied.
    parts = [
        _edges_cte(),
        """, deg AS (
      SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), r0 AS (
      SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg
    )""",
    ]
    for i in range(1, _ITER + 1):
        parts.append(
            f""", r{i} AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM(r{i - 1}.rank // deg.d)) // 100 AS BIGINT) AS rank
      FROM edges e
      JOIN r{i - 1} ON e.src = r{i - 1}.node
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    )"""
        )
    parts.append(
        f"""
    SELECT node, ROUND(rank / 1000000.0, 6) AS pagerank FROM r{_ITER}
    """
    )
    return "".join(parts)


def _pagerank_oracle_py(con, sf_dir: str):
    """Independent Python oracle for PageRank — the same fixed-point
    micro-unit iteration as numpy passes. Needed for the same reason as
    the CC twin (_cc_oracle_py): the unrolled CTE chain joins
    edges⋈ranks⋈deg per round, and at generated ~sf5 (fixed entity
    tables, 50× facts ⇒ near-saturated 30M-edge bipartite graph) DuckDB
    exhausts a 20 GB temp cap mid-chain while the Spark side finishes in
    seconds. Integer floor-division per edge, summed per dst — Python
    `//` on non-negative ints is the same floor DuckDB `//` and Spark
    DIV compute, so the BIGINT micro-ranks are bit-identical; the final
    rank/1e6 is a single correctly-rounded IEEE division of a ≤2^53
    integer, on which ROUND(x, 6) is the identity in every engine
    (6-dp-rational rule, CLAUDE.md). Pinned ≡ the SQL oracle at fixture
    scale by tests/test_graph.py."""
    import numpy as np

    src, dst = _trade_edges_np(con)
    nodes = np.unique(src)
    src_idx = np.searchsorted(nodes, src)
    dst_idx = np.searchsorted(nodes, dst)
    deg = np.bincount(src_idx, minlength=len(nodes)).astype(np.int64)
    order = np.argsort(dst_idx, kind="stable")
    dst_sorted = dst_idx[order]
    src_for_dst = src_idx[order]
    boundaries = np.searchsorted(dst_sorted, np.arange(len(nodes)))
    rank = np.full(len(nodes), 1_000_000, dtype=np.int64)
    for _ in range(_ITER):
        contrib = rank[src_for_dst] // deg[src_for_dst]
        sums = np.add.reduceat(contrib, boundaries)
        rank = 150_000 + (85 * sums) // 100
    rows = [(int(n), int(r) / 1_000_000.0) for n, r in zip(nodes, rank)]
    return ["node", "pagerank"], rows


@query(
    "graph_pagerank",
    oracle=_oracle(),
    tags=("graph", "iterative", "pagerank"),
    oracle_py=_pagerank_oracle_py,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    edges = _sym_edges(_trade_pairs(spark, sf_dir))
    # Degree via a window over the SAME src partitioning the per-round join
    # probes — one shuffle builds both (the old groupBy-then-join-back
    # shape shuffled edges twice and then destroyed the src partitioning
    # with a round-robin repartition; this form A/B'd 12.6 s → 9.2 s at
    # sf0.1). No broadcast hints anywhere in this file: orders and the
    # per-node ranks/labels tables all scale with SF, so a hint would
    # force a driver-sized build at large scale (SCALE.md policy) — the
    # 20MB threshold/AQE still broadcasts them at fixture sizes, and at
    # billions of nodes the right plan (shuffle-hash join against an edge
    # table bucketed by src) emerges without code change.
    from pyspark.sql import Window

    edges_deg = (
        edges.repartition(par, "src")
        .withColumn("d", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .transform(pin)
    )
    # Fixed-point micro-rank units (see _oracle): integer floor-division
    # contributions — tie-free, float-free, bit-identical on any engine.
    ranks = (
        edges_deg.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(1_000_000).cast("long").alias("rank"))
    )
    for _ in range(_ITER):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div d")).alias("contrib"))
        )
        ranks = contribs.select(
            F.col("dst").alias("node"),
            (F.lit(150_000) + F.expr("(85 * contrib) div 100")).cast("long").alias("rank"),
        # Persist every round: each round's broadcast runs as its OWN job,
        # and jobs don't share shuffle outputs across separate actions —
        # without the cache, round k recomputes rounds 1..k-1 (O(k²) work).
        ).transform(pin)
    return ranks.select("node", F.round(F.col("rank") / 1_000_000.0, 6).alias("pagerank"))


_CC_ITER = 4


def _cc_oracle() -> str:
    # k rounds of min-label propagation; labels after round k are
    # deterministic whether or not the graph has fully converged.
    return f"""{_edges_cte()}{_min_label_rounds(_CC_ITER)}
    SELECT label AS component, COUNT(*) AS n_nodes, MIN(node) AS min_node
    FROM l{_CC_ITER}
    GROUP BY label
    """


def _cc_oracle_py(con, sf_dir: str):
    """Independent Python oracle: the same k rounds of min-label
    propagation, but as numpy array passes instead of DuckDB's self-joined
    CTE chain.

    Why it exists: the SQL oracle is CORRECT but resource-infeasible at
    generated scale — each l{i} CTE materializes a node×neighbor join, and
    at ~sf1 DuckDB's temp spill grew past 30 GB and died with ENOSPC
    (round-7 full-registry differential). The engine-side query is fine;
    only the oracle needed a scale-feasible twin. Equivalence to the SQL
    oracle at fixture scale is pinned by
    tests/test_graph.py::test_py_oracle_matches_sql_oracle.

    Semantics mirrored exactly: l0 = node labels = node ids over DISTINCT
    edge sources; round i: label_i(n) = LEAST(label_{i-1}(n),
    MIN over n's out-edges of label_{i-1}(dst)); every node has ≥1 edge by
    construction (edges are bidirectional), so the SQL's inner joins drop
    nothing. Output: per surviving label, node count and min node id —
    pure int64 arithmetic, no float drift possible.
    """
    import numpy as np

    src, dst = _trade_edges_np(con)
    nodes = np.unique(src)  # == unique(dst): edges are symmetric
    src_idx = np.searchsorted(nodes, src)
    dst_idx = np.searchsorted(nodes, dst)
    # Sort edges by src once so each round is a gather + min.reduceat
    # (O(E) per round; no per-element dispatch like minimum.at).
    order = np.argsort(src_idx, kind="stable")
    src_sorted = src_idx[order]
    dst_sorted = dst_idx[order]
    boundaries = np.searchsorted(src_sorted, np.arange(len(nodes)))
    label = nodes.copy()
    for _ in range(_CC_ITER):
        neighbor_min = np.minimum.reduceat(label[dst_sorted], boundaries)
        label = np.minimum(label, neighbor_min)
    components, inverse, counts = np.unique(label, return_inverse=True, return_counts=True)
    min_node = np.full(len(components), np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(min_node, inverse, nodes)
    rows = [
        (int(comp), int(cnt), int(mn))
        for comp, cnt, mn in zip(components, counts, min_node)
    ]
    return ["component", "n_nodes", "min_node"], rows


# ---------------------------------------------------------------------------
# Connected components via k rounds of min-label propagation over the same
# trade graph — the other canonical iterative graph workload (GraphX's
# ConnectedComponents does exactly this under Pregel). Each round is one
# `_min_relax` (dedup.py): every node takes the min of its own and its
# neighbors' labels — one join + one groupBy per round.
# ---------------------------------------------------------------------------
@query(
    "graph_connected_components",
    oracle=_cc_oracle(),
    tags=("graph", "iterative", "components"),
    oracle_py=_cc_oracle_py,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    # Edges partitioned by src, the key the round's join probes; the
    # labels inherit that partitioning through the distinct, so with equal
    # partition counts the join needs no exchange and the round's
    # groupBy(node) is its ONE shuffle — the shape src-bucketed edge
    # tables give at 100 TB.
    edges = _sym_edges(_trade_pairs(spark, sf_dir)).repartition(par, "src").transform(pin)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(_CC_ITER):
        # per-round persist: see pagerank note — avoids O(k²) recompute
        labels = _min_relax(edges, labels, "label").transform(pin)
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node")
    )


# ---------------------------------------------------------------------------
# Triangle counting over the co-supplier graph (suppliers that shared an
# order): the third classic graph workload next to PageRank and connected
# components. Edges are canonical (a < b) distinct pairs; triangles are
# counted once each via the ordered 3-way edge self-join a < b < c — the
# standard distributed triangle-join. Scale: the per-order pair fan-out is
# bounded by lines-per-order (≤13 in the fixtures, C(13,2)=78 pairs max);
# the edge table shuffles on its join keys and at 100 TB would be bucketed
# by src like the PageRank edges. Per-node output (triangle membership
# count per supplier) keeps the result a stable, oracle-able table.
# ---------------------------------------------------------------------------
_TRI_PAIRS_CTE = """
    WITH li AS (
      SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_suppkey < 1000
    ), pairs AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    )"""


def _triangle_oracle_py(con, sf_dir: str):
    """numpy twin: per-node triangle count = diag(A³)/2 over the co-supplier
    adjacency matrix A (≤ 1000 nodes by the cohort cap). The SQL oracle's
    three-way self-join is infeasible at sf0.1, where the graph is 91%
    dense (453,588 edges over 1000 suppliers, ~124M triangles): it outgrows
    the oracle connection's spill cap (plans/differential.py). Row i of
    A² ∘ A summed is Σ_j (A²)_ij A_ij = diag(A³)_i; every entry is an
    integer ≤ 1000², exact in the float64 BLAS product. Pinned ≡ the SQL
    oracle at sf0.01 by tests/test_graph.py."""
    import numpy as np

    res = con.execute(f"{_TRI_PAIRS_CTE} SELECT u, v FROM pairs").fetchnumpy()
    u = np.asarray(res["u"], dtype=np.int64)
    v = np.asarray(res["v"], dtype=np.int64)
    nodes = np.unique(np.concatenate([u, v]))
    ui, vi = np.searchsorted(nodes, u), np.searchsorted(nodes, v)
    adj = np.zeros((len(nodes), len(nodes)))
    adj[ui, vi] = adj[vi, ui] = 1.0
    tri = np.rint(((adj @ adj) * adj).sum(axis=1) / 2).astype(np.int64)
    rows = [(int(n), int(t)) for n, t in zip(nodes, tri) if t > 0]
    return ["node", "n_triangles"], rows


@query(
    "graph_triangle_count",
    oracle=f"""{_TRI_PAIRS_CTE}, tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, COUNT(*) AS n_triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b AS node FROM tri
      UNION ALL SELECT c AS node FROM tri
    )
    GROUP BY node
    ORDER BY n_triangles DESC, node
    """,
    tags=("graph", "join", "triangle"),
    oracle_py=_triangle_oracle_py,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cohort cap (round 8): triangle ENUMERATION over a saturated
    # co-occurrence graph is Θ(V³) at constant density — genscale v2's
    # sqrt-entity scaling took the generated-sf1 supplier domain to 3162
    # and the triangle intermediate to ~3e9 rows (measured: ENOSPC at
    # ~70 GB of shuffle spill in the sf1 full compare). The analysis
    # cohort is pinned to the driver fixtures' supplier domain
    # (l_suppkey < 1000 — a NO-OP at sf0.001/0.01/0.1, where suppkey
    # tops out at 999), the standard bounded-subgraph practice for
    # co-occurrence analytics; the lineitem scan still grows with SF and
    # the filter is pushed to the parquet scan. Unbounded-domain triangle
    # work would need degree-ordered orientation AND a thresholded graph;
    # the cohort keeps the operator exact and oracle-checkable at every
    # generated scale.
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .filter(F.col("l_suppkey") < 1000)
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .distinct()
    )
    # Three roles of the same edge table; persist so the build happens once
    # (same reuse rationale as the PageRank edge table).
    pairs = pairs.transform(pin)
    e1 = pairs.select(F.col("u").alias("t_a"), F.col("v").alias("t_b"))
    e2 = pairs.select(F.col("u").alias("s_b"), F.col("v").alias("t_c"))
    e3 = pairs.select(F.col("u").alias("w_a"), F.col("v").alias("w_c"))
    tri = (
        e1.join(e2, F.col("t_b") == F.col("s_b"))
        .join(e3, (F.col("w_a") == F.col("t_a")) & (F.col("w_c") == F.col("t_c")))
        .select("t_a", "t_b", "t_c")
    )
    nodes = (
        tri.select(F.col("t_a").alias("node"))
        .unionAll(tri.select(F.col("t_b").alias("node")))
        .unionAll(tri.select(F.col("t_c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
    )


# ---------------------------------------------------------------------------
# Bounded BFS: min-hop distance from a seed set, 3 rounds. Each round is
# one `_min_relax` (dedup.py) with step 1: a node reached at hop h offers
# h + 1 to its neighbors, so after k rounds the state holds every node
# within k hops at its min hop count. 100 TB: the round's join probes the
# src-partitioned (at scale: bucketed) edge table; each round's state is
# persisted so round k never recomputes rounds 1..k-1 (CLAUDE.md
# iterative rule).
# ---------------------------------------------------------------------------
_BFS_HOPS = 3


def _bfs_oracle() -> str:
    parts = [
        _edges_cte(),
        """, f0 AS (
      SELECT DISTINCT 2 * s_suppkey AS node FROM supplier WHERE s_nationkey = 0
    ), v0 AS (
      SELECT node FROM f0
    )""",
    ]
    for k in range(1, _BFS_HOPS + 1):
        parts.append(
            f""", f{k} AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN f{k - 1} ON e.src = f{k - 1}.node
      EXCEPT
      SELECT node FROM v{k - 1}
    ), v{k} AS (
      SELECT node FROM v{k - 1} UNION SELECT node FROM f{k}
    )"""
        )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM f{k}"
        for k in range(_BFS_HOPS + 1)
    )
    parts.append(f"\n    SELECT * FROM (\n    {unions}\n    ) ORDER BY hop")
    return "".join(parts)


@query(
    "graph_bfs_levels",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative", "bfs"),
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes reachable at each min-hop distance (0..3) from the nation-0
    supplier seed set, over the supplier<->customer trade graph; a hop no
    node reaches reads 0."""
    par = spark.sparkContext.defaultParallelism
    edges = _sym_edges(_trade_pairs(spark, sf_dir)).repartition(par, "src").transform(pin)
    hops = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select((2 * F.col("s_suppkey")).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("hop"))
    )
    for _ in range(_BFS_HOPS):
        hops = _min_relax(edges, hops, "hop", F.lit(1)).transform(pin)
    counts = hops.groupBy("hop").agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        spark.range(_BFS_HOPS + 1)
        .select(F.col("id").cast("int").alias("hop"))
        .join(counts, "hop", "left")
        .select("hop", F.coalesce("n_nodes", F.lit(0)).cast("bigint").alias("n_nodes"))
        .orderBy("hop")
    )


# ---------------------------------------------------------------------------
# Degree distribution of the trade graph in power-of-two buckets — the
# first skew diagnostic read before choosing a partitioning strategy
# (does a hot node exist, how heavy is the tail). Bucketing is a pure
# integer CASE chain (no log2 — transcendental-free), counts only.
# ---------------------------------------------------------------------------
_DEG_BOUNDS = [2, 4, 8, 16, 32, 64, 128]


def _deg_bucket_sql(col: str) -> str:
    branches = " ".join(
        f"WHEN {col} < {b} THEN {i}" for i, b in enumerate(_DEG_BOUNDS)
    )
    return f"CASE {branches} ELSE {len(_DEG_BOUNDS)} END"


@query(
    "graph_degree_histogram",
    oracle=f"""{_edges_cte()}, deg AS (
      SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    )
    SELECT CAST({_deg_bucket_sql('d')} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1 ORDER BY bucket
    """,
    tags=("graph", "degree", "skew-diagnostic"),
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = (
        _trade_pairs(spark, sf_dir)
        .select(F.explode(F.array(F.col("s_node"), F.col("c_node"))).alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    bucket = None
    for i, b in enumerate(_DEG_BOUNDS):
        cond = F.col("d") < b
        bucket = F.when(cond, i) if bucket is None else bucket.when(cond, i)
    bucket = bucket.otherwise(len(_DEG_BOUNDS))
    return (
        deg.groupBy(bucket.cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").cast("bigint").alias("min_degree"),
            F.max("d").cast("bigint").alias("max_degree"),
        )
        .select("bucket", F.col("n_nodes").cast("bigint").alias("n_nodes"), "min_degree", "max_degree")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# k-core peeling: iteratively delete nodes with degree < k; what survives
# is the densest "core" of the trade graph — the standard preprocessing
# step before community detection or embedding training, and the fourth
# classic iterative graph workload next to PageRank / components / BFS.
# Bounded to a fixed number of peel rounds (like _CC_ITER): the result is
# deterministic at any scale whether or not peeling has converged, which
# is what keeps the unrolled SQL oracle exact. Each round is one
# map-side-combined degree count (reusing the src partitioning) + two
# semi-joins; per-round persist per the iterative rule (CLAUDE.md). At
# 100 TB the dst-side semi-join is the round's one real shuffle — when
# few nodes die per round, the production variant broadcasts the DEAD
# set and anti-joins instead, but that plan's benefit is data-dependent
# so the portable shape stays semi-join.
# ---------------------------------------------------------------------------
_KCORE_K = 20
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    parts = [_edges_cte(), ", e0 AS (SELECT src, dst FROM edges)"]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""", a{i} AS (
      SELECT src AS node FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
    ), e{i} AS (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN a{i} x ON e.src = x.node
      JOIN a{i} y ON e.dst = y.node
    )"""
        )
    parts.append(
        f"""
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{_KCORE_ROUNDS} GROUP BY src
    """
    )
    return "".join(parts)


def _kcore_oracle_py(con, sf_dir: str):
    """Independent numpy twin of the unrolled peel (same reason as
    _cc_oracle_py: the SQL oracle re-materializes the edge table per round
    and is the resource risk at generated scale, not the query). Pure
    int64 counting — no float drift possible. Pinned ≡ the SQL oracle at
    fixture scale by tests/test_graph.py."""
    import numpy as np

    src, dst = _trade_edges_np(con)
    for _ in range(_KCORE_ROUNDS):
        nodes, inv = np.unique(src, return_inverse=True)
        deg = np.bincount(inv)
        alive = nodes[deg >= _KCORE_K]
        keep = np.isin(src, alive) & np.isin(dst, alive)
        src, dst = src[keep], dst[keep]
    nodes, inv = np.unique(src, return_inverse=True)
    deg = np.bincount(inv)
    rows = [(int(n), int(d)) for n, d in zip(nodes, deg)]
    return ["node", "degree"], rows


@query(
    "graph_kcore",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "kcore"),
    oracle_py=_kcore_oracle_py,
    doc="Bounded k-core peeling of the supplier<->customer trade graph: "
    "4 rounds of delete-degree-below-20, then surviving nodes with their "
    "core-subgraph degrees.",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    edges = _sym_edges(_trade_pairs(spark, sf_dir)).repartition(par, "src").transform(pin)
    for _ in range(_KCORE_ROUNDS):
        alive = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("src")
            .transform(pin)  # probed twice below (src- and dst-side semi-joins)
        )
        edges = (
            edges.join(alive, "src", "left_semi")
            .join(alive.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .repartition(par, "src")
            .transform(pin)  # per-round persist: see pagerank note (O(k^2) otherwise)
        )
    return edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("degree"))


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford single-source shortest paths: min-plus relaxation
# from the nation-0 supplier seed set over quantity-weighted trade edges —
# the weighted companion to graph_bfs_levels (hop counts) and the fifth
# classic iterative graph workload. Weights are MIN(l_quantity) per
# distinct supplier<->customer pair, cast to BIGINT (fixture quantities
# are integral doubles, so the cast is exact in both engines; a
# fractional quantity would diverge — DuckDB rounds, Spark truncates —
# which tests/test_fixtures.py's schema pin would surface). Bounded to
# _SSSP_ROUNDS relaxations like _CC_ITER/_KCORE_ROUNDS: deterministic at
# any scale whether or not distances have converged. Per round: one
# `_min_relax` (dedup.py) with step w — one join against the
# src-partitioned edge table + one min groupBy; per-round persist per the
# iterative rule. Distances stay tiny integers
# (<= rounds x 50), so min-plus arithmetic can never overflow.
# ---------------------------------------------------------------------------
_SSSP_ROUNDS = 4


def _sssp_oracle() -> str:
    parts = [
        _edges_cte(weighted=True),
        """, d0 AS (
      SELECT DISTINCT 2 * s_suppkey AS node, CAST(0 AS BIGINT) AS dist
      FROM supplier WHERE s_nationkey = 0
    )""",
    ]
    for i in range(1, _SSSP_ROUNDS + 1):
        parts.append(
            f""", d{i} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM edges e JOIN d{i - 1} d ON e.src = d.node
      ) GROUP BY node
    )"""
        )
    parts.append(f"\n    SELECT node, dist FROM d{_SSSP_ROUNDS}\n    ")
    return "".join(parts)


def _sssp_oracle_py(con, sf_dir: str):
    """numpy min-plus twin (same scale rationale as _cc_oracle_py /
    _kcore_oracle_py: the unrolled SQL re-joins edges x dist per round and
    is the resource risk at generated scale). Integer-only arithmetic;
    pinned ≡ the SQL oracle at fixture scale by tests/test_graph.py."""
    import numpy as np

    src, dst, ww = _trade_edges_np(con, weighted=True)
    seeds = np.asarray(
        con.execute(
            "SELECT DISTINCT 2 * s_suppkey AS n FROM supplier WHERE s_nationkey = 0"
        ).fetchnumpy()["n"],
        dtype=np.int64,
    )
    nodes = np.unique(np.concatenate([src, seeds]))
    src_idx = np.searchsorted(nodes, src)
    dst_idx = np.searchsorted(nodes, dst)
    big = np.int64(2**62)
    dist = np.full(len(nodes), big, dtype=np.int64)
    dist[np.searchsorted(nodes, seeds)] = 0
    for _ in range(_SSSP_ROUNDS):
        valid = dist[src_idx] < big
        new = dist.copy()
        np.minimum.at(new, dst_idx[valid], dist[src_idx[valid]] + ww[valid])
        dist = new
    rows = [(int(n), int(d)) for n, d in zip(nodes, dist) if d < big]
    return ["node", "dist"], rows


@query(
    "graph_sssp_bounded",
    oracle=_sssp_oracle(),
    tags=("graph", "iterative", "sssp"),
    oracle_py=_sssp_oracle_py,
    doc="Bounded Bellman-Ford: 4 min-plus relaxations from the nation-0 "
    "supplier seeds over MIN(l_quantity)-weighted trade edges; one edge "
    "join + one min groupBy per round.",
)
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    edges_one_way = (
        _trade_join(spark, sf_dir, "l_quantity")
        .groupBy(*_trade_nodes())
        .agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    )
    edges = _sym_edges(edges_one_way, "w").repartition(par, "src").transform(pin)
    dist = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select((2 * F.col("s_suppkey")).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(_SSSP_ROUNDS):
        # per-round persist: see pagerank note (O(k^2) otherwise)
        dist = _min_relax(edges, dist, "dist", F.col("w")).transform(pin)
    return dist


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous LPA, bounded rounds): each
# node adopts the most frequent label among its NEIGHBORS, ties broken by
# the smallest label — a fully deterministic variant of Raghavan et al.'s
# algorithm (classic LPA breaks ties randomly; a random tiebreak can
# never be oracle-checked, so the spec pins (count DESC, label ASC)).
# Completes the classic iterative set: PageRank, components, BFS,
# triangles, k-core, SSSP, LPA. Per round: one (node,label) count
# aggregation + one per-node argmax window; per-round persist per the
# iterative rule. Deterministic at any scale whether or not labels have
# converged (same bounded-round contract as _CC_ITER).
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    parts = [
        _edges_cte(),
        """, l0 AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
    )""",
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f""", c{i} AS (
      SELECT e.src AS node, l.label, COUNT(*) AS cnt
      FROM edges e JOIN l{i - 1} l ON l.node = e.dst
      GROUP BY e.src, l.label
    ), l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT label AS community, COUNT(*) AS n_nodes, MIN(node) AS min_node
    FROM l{_LPA_ROUNDS}
    GROUP BY label
    """
    )
    return "".join(parts)


def _lpa_oracle_py(con, sf_dir: str):
    """numpy twin (same scale rationale as the CC/k-core/SSSP twins).
    Per round: per-(node,label) neighbor counts via np.unique on a packed
    key, then per-node argmax by (count DESC, label ASC) via lexsort —
    pure integer ops, bit-identical to the SQL semantics."""
    import numpy as np

    src, dst = _trade_edges_np(con)
    nodes = np.unique(src)
    n = len(nodes)
    src_idx = np.searchsorted(nodes, src)
    dst_idx = np.searchsorted(nodes, dst)
    label = nodes.copy()
    for _ in range(_LPA_ROUNDS):
        lab_idx = np.searchsorted(nodes, label[dst_idx])  # labels are node ids
        packed, counts = np.unique(src_idx * np.int64(n) + lab_idx, return_counts=True)
        node_u = packed // n
        lab_u = packed % n
        order = np.lexsort((lab_u, -counts, node_u))
        node_sorted = node_u[order]
        first = np.searchsorted(node_sorted, np.arange(n))
        label = nodes[lab_u[order][first]]
    communities, counts = np.unique(label, return_counts=True)
    min_node = np.full(len(communities), np.iinfo(np.int64).max, dtype=np.int64)
    inv = np.searchsorted(communities, label)
    np.minimum.at(min_node, inv, nodes)
    rows = [
        (int(comm), int(cnt), int(mn))
        for comm, cnt, mn in zip(communities, counts, min_node)
    ]
    return ["community", "n_nodes", "min_node"], rows


@query(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative", "communities"),
    oracle_py=_lpa_oracle_py,
    doc="Deterministic synchronous LPA (3 rounds, most-frequent neighbor "
    "label, min-label tiebreak): community id, size, min node.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    par = spark.sparkContext.defaultParallelism
    edges = (
        _sym_edges(_trade_pairs(spark, sf_dir))
        .repartition(par, "dst")  # the per-round join probes on dst (CC note)
        .transform(pin)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    w = Window.partitionBy("nd").orderBy(F.col("cnt").desc(), "label")
    for _ in range(_LPA_ROUNDS):
        counted = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("nd"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("nd").alias("node"), "label")
            # per-round persist: see pagerank note (O(k^2) otherwise)
            .transform(pin)
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node")
    )

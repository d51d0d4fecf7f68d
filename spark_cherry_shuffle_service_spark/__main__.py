"""CLI — the engine's equivalent of the reference's spark-driver.sh dispatch
(/root/reference/spark-driver.sh:56-72: -w {tpcds,synthetic,skew,py} -q
<query-filter> -p <parallelism> -k <skew-fraction>), re-expressed for a
PySpark-native engine:

    python -m spark_cherry_shuffle_service_spark query <name> [--sf-dir D] [--show N]
    python -m spark_cherry_shuffle_service_spark query --list
    python -m spark_cherry_shuffle_service_spark sql "SELECT ..." [--sf-dir D]
    python -m spark_cherry_shuffle_service_spark workload synthetic -n 1000000 -p 100
    python -m spark_cherry_shuffle_service_spark workload skew -n 1000000 -p 100 -k 0.8
    python -m spark_cherry_shuffle_service_spark bench [--queries a,b,c] [--runs N]
    python -m spark_cherry_shuffle_service_spark explain <name>

Cluster sizing flags map to config exactly as the reference's -p flag maps
to spark.default.parallelism / spark.sql.shuffle.partitions
(spark-driver.sh:147-148).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from spark_cherry_shuffle_service_spark.session import get_spark
from spark_cherry_shuffle_service_spark.sources.catalog import (
    DEFAULT_SF_DIR,
    register_views,
)


def _spark(args):
    return get_spark(
        app_name="cherry-spark-cli",
        shuffle_partitions=args.parallelism,
    )


# The reference selects benchmark queries by number (spark-driver.sh
# --query-filter q2,q5); map TPC-H numbers to the analog query names.
TPCH_ALIASES = {
    "q1": "pricing_summary", "q2": "min_cost_supplier", "q3": "shipping_priority",
    "q4": "order_priority_check", "q5": "local_supplier_volume", "q6": "forecast_revenue",
    "q7": "volume_shipping", "q8": "market_share", "q9": "product_profit",
    "q10": "returned_items", "q11": "important_parts", "q12": "late_line_priority",
    "q13": "customer_distribution", "q14": "promo_revenue", "q15": "top_supplier",
    "q16": "supplier_part_counts", "q17": "small_qty_revenue",
    "q18": "large_volume_customers", "q19": "discounted_revenue",
    "q20": "promotion_candidates", "q21": "waiting_suppliers",
    "q22": "global_sales_opportunity",
}


def _resolve(name: str | None) -> str | None:
    return TPCH_ALIASES.get(name.lower(), name) if name else name


def cmd_query(args) -> int:
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    specs = all_specs()
    args.name = _resolve(args.name)
    if args.list:
        for name in sorted(specs):
            spec = specs[name]
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name:32s} [{kind}] {','.join(spec.tags)}")
        return 0
    if not args.name or args.name not in specs:
        print(f"unknown query {args.name!r}; use --list", file=sys.stderr)
        return 2
    spark = _spark(args)
    t0 = time.perf_counter()
    df = specs[args.name].builder(spark, args.sf_dir)
    df.show(args.show, truncate=False)
    print(f"[{args.name}] {time.perf_counter() - t0:.3f}s", file=sys.stderr)
    return 0


def cmd_sql(args) -> int:
    spark = _spark(args)
    register_views(spark, args.sf_dir)
    spark.sql(args.text).show(args.show, truncate=False)
    return 0


def cmd_workload(args) -> int:
    from spark_cherry_shuffle_service_spark.operators.workloads import (
        group_count,
        skewed_pairs,
        synthetic_pairs,
    )

    spark = _spark(args)
    pairs = (
        skewed_pairs(spark, args.n, args.parallelism or 100, args.k)
        if args.kind == "skew"
        else synthetic_pairs(spark, args.n, args.parallelism or 100)
    )
    t0 = time.perf_counter()
    counts = group_count(pairs).collect()  # reference collects too (synthetic_workload.py:35)
    dt = time.perf_counter() - t0
    print(json.dumps({"workload": args.kind, "n": args.n, "keys": len(counts), "sec": round(dt, 3)}))
    return 0


def cmd_compare(args) -> int:
    """DuckDB differential check as a product feature: every oracle query
    (or --queries subset) run on both engines, per-query verdicts."""
    from spark_cherry_shuffle_service_spark.plans.differential import compare_queries

    spark = _spark(args)
    names = args.queries.split(",") if args.queries else None
    results = compare_queries(
        spark, args.sf_dir, names, prefer_py_oracle=getattr(args, "py_oracle", False)
    )
    bad = 0
    for name, verdict in sorted(results.items()):
        print(f"{name:32s} {verdict}")
        bad += not verdict.startswith(("match", "SKIP"))
    print(f"{len(results)} compared, {bad} failures")
    return 1 if bad else 0


def cmd_genscale(args) -> int:
    """Generate the deterministic scaled fixture set (sources/genscale.py)
    and print its manifest — pair with `compare --sf-dir <out>` for the
    past-sf0.1 differential gate."""
    from spark_cherry_shuffle_service_spark.sources.genscale import (
        GEN_DIR,
        generate_scaled_fixtures,
        value_sensitive_names,
    )

    spark = _spark(args)
    manifest = generate_scaled_fixtures(
        spark, out_dir=args.out or GEN_DIR, scale=args.scale, force=args.force,
        doc_scale=args.doc_scale,
    )
    manifest = dict(manifest, value_sensitive_slice=value_sensitive_names())
    print(json.dumps(manifest, indent=1))
    return 0


def cmd_explain(args) -> int:
    """Formatted physical plan for a registered query — the .explain
    feedback loop (pushdown / broadcast / exchange inspection) as a
    product feature."""
    from spark_cherry_shuffle_service_spark.plans.explain import formatted_plan
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    specs = all_specs()
    args.name = _resolve(args.name)
    if args.name not in specs:
        print(f"unknown query {args.name!r}; use query --list", file=sys.stderr)
        return 2
    spark = _spark(args)
    print(formatted_plan(specs[args.name].builder(spark, args.sf_dir)))
    return 0


def cmd_bench(args) -> int:
    """bench.py's protocol (plans/measure.py::bench) on any query subset,
    HEADLINE by default. Prints one JSON line with the per-run `details`
    inline. A single-query A/B is `bench --queries X --runs 5` in a fresh
    process per code variant."""
    from spark_cherry_shuffle_service_spark.plans.measure import HEADLINE, bench

    spark = _spark(args)
    names = [_resolve(n) for n in args.queries.split(",")] if args.queries else HEADLINE
    print(json.dumps(bench(spark, names, args.sf_dir, max(1, args.runs))))
    return 0


def cmd_shufflestats(args) -> int:
    """Measured shuffle accounting (plans/shufflestats.py): per-query
    shuffle/input bytes from the status store + static exchange counts
    from the plan. Writes the artifact JSON and prints a summary line."""
    from spark_cherry_shuffle_service_spark.plans.measure import HEADLINE
    from spark_cherry_shuffle_service_spark.plans.shufflestats import (
        measure_queries,
        summarize,
    )

    spark = get_spark(app_name="cherry-spark-shufflestats", shuffle_partitions=args.parallelism)
    # Default to the HEADLINE protocol (the committed SHUFFLE_STATS
    # artifacts are headline-scoped); measuring the whole registry
    # serially at a generated SF is hours of wall-clock.
    names = [_resolve(n) for n in args.queries.split(",")] if args.queries else list(HEADLINE)
    results = measure_queries(spark, args.sf_dir, names)
    payload = {"_sf_dir": args.sf_dir, "_summary": summarize(results), **results}
    with open(args.out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps({"out": args.out, **payload["_summary"]}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="spark_cherry_shuffle_service_spark")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("-p", "--parallelism", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run a registered query by name")
    q.add_argument("name", nargs="?")
    q.add_argument("--list", action="store_true")
    q.add_argument("--show", type=int, default=20)

    s = sub.add_parser("sql", help="run raw SQL text over the registered catalog")
    s.add_argument("text")
    s.add_argument("--show", type=int, default=20)

    w = sub.add_parser("workload", help="reference synthetic/skew workloads")
    w.add_argument("kind", choices=["synthetic", "skew"])
    w.add_argument("-n", type=int, default=1_000_000)
    w.add_argument("-k", type=float, default=0.8)

    b = sub.add_parser("bench", help="time queries through the noop sink")
    b.add_argument("--queries", default=None)
    b.add_argument(
        "--runs",
        type=int,
        default=3,
        help="runs per query; the median is reported (bench.py protocol)",
    )

    c = sub.add_parser("compare", help="DuckDB differential check per query")
    c.add_argument("--queries", default=None)
    c.add_argument(
        "--py-oracle",
        dest="py_oracle",
        action="store_true",
        help="route specs with a registered oracle_py straight to it "
        "(generated-scale runs where the SQL oracle is resource-infeasible)",
    )

    g = sub.add_parser("genscale", help="write deterministic scaled fixtures")
    g.add_argument("--out", default=None)
    g.add_argument("--scale", type=float, default=10.0)
    g.add_argument(
        "--doc-scale",
        type=float,
        default=None,
        help="generate documents/embeddings at this multiple of their "
        "sf0.1 rows instead of copying them (the dedup/ANN/text scale axis)",
    )
    g.add_argument("--force", action="store_true")

    e = sub.add_parser("explain", help="print a query's formatted physical plan")
    e.add_argument("name")

    st = sub.add_parser(
        "shufflestats", help="measured per-query shuffle/input bytes (stage metrics)"
    )
    st.add_argument("--queries", default=None)
    st.add_argument("--out", default="SHUFFLE_STATS.json")

    args = ap.parse_args(argv)
    return {
        "query": cmd_query,
        "sql": cmd_sql,
        "workload": cmd_workload,
        "bench": cmd_bench,
        "compare": cmd_compare,
        "genscale": cmd_genscale,
        "explain": cmd_explain,
        "shufflestats": cmd_shufflestats,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())

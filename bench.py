#!/usr/bin/env python
"""Benchmark harness (driver contract, BASELINE.md).

Runs the headline query set on $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) with local[$SPARK_GRAFT_CPUS], forcing full
computation through the noop sink (the reference benchmarks the same way:
TPCDSQueryBenchmark.scala:100 `spark.sql(q).noop()`), and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from spark_cherry_shuffle_service_spark.plans.registry import all_specs
from spark_cherry_shuffle_service_spark.session import get_spark
from spark_cherry_shuffle_service_spark.sources.catalog import release_persisted, write_noop

# Headline set: the relational spine + shuffle-heavy workloads + the
# north-star extension operators. A representative slice of SURVEY.md §2.
HEADLINE = [
    "pricing_summary",
    "top_revenue",
    "join_inner",
    "join_theta",
    "join_full",
    "cumulative_compare",
    "rollup_grouping",
    "window_avg_dev",
    "agg_distinct",
    "synthetic_groupcount",
    "skewed_groupcount",
    "events_sessionize",
    "text_token_count",
    "text_fingerprint",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk",
    "similarity_lsh_buckets",
    "similarity_ivf",
    "agg_cube",
    "window_lead_lag",
    "skewed_salted_groupcount",
    "shipping_priority",
    "local_supplier_volume",
    "events_asof_join",
    "graph_pagerank",
    "text_wordcount",
    "events_multi_rollup",
    "orders_pivot",
    "udaf_grouped_geomean",
    "dedup_embedding_cosine",
    "events_funnel",
    "events_retention",
    "events_sliding_window",
    "window_distribution",
    "udf_grouped_map_zscore",
    "dedup_crossmodal",
    "graph_connected_components",
    # TPC-H spine completion (operators/tpch_suite.py): the heaviest of the
    # Q2-Q22 analogs — multi-way join trees, EXISTS/NOT-EXISTS chains,
    # correlated-avg decorrelation, disjunctive join predicates.
    "volume_shipping",
    "market_share",
    "product_profit",
    "returned_items",
    "customer_distribution",
    "large_volume_customers",
    "discounted_revenue",
    "waiting_suppliers",
    # Training-data pipeline stages (operators/datapipe.py).
    "dataset_split",
    "pack_sequences",
    "corpus_filter_funnel",
    "kmeans_assign",
    "skewed_salted_join",
    # Round-2 additions: bucketed pair generation, temporal range join,
    # full Lloyd iteration, decontamination, quantization, decimal-native
    # money, verbatim SQL-text spine.
    "similarity_pairs",
    "dedup_ngram_jaccard",
    "events_range_join",
    "kmeans_lloyd",
    "corpus_decontaminate",
    "embedding_quantize",
    "decimal_pricing",
    "sql_text_q1",
    # Round-2 second tranche: repetition/quality filters, BM25 + index,
    # token-budget cut, near-dup clustering, exact percentiles, and the
    # disjunctive-predicate SQL text.
    "text_repetition",
    "text_bm25",
    "text_inverted_index",
    "corpus_token_budget",
    "dedup_cluster_canonical",
    "agg_percentiles",
    "sql_text_q19",
    # Round-2 third tranche: unigram-LM surprisal scoring, temperature
    # language mixing, RAG chunking, LSH k-NN graph.
    "text_surprisal",
    "corpus_temperature_sample",
    "text_chunk",
    "similarity_knn_graph",
    "events_value_histogram",
    "events_streaks",
    "orders_market_basket",
    "dedup_boilerplate_prefix",
    "sql_text_lateral",
    "sql_text_recursive",
    "agg_correlation",
    "multimodal_audio_energy",
    "events_anomaly_mad",
    "dedup_containment",
    # Round-3 additions: Z-order layout math, cogrouped-Arrow as-of,
    # deterministic mode.
    "zorder_block_stats",
    "udf_cogrouped_asof",
    "agg_mode",
    "cdc_merge_apply",
    "events_user_sequences",
    "search_hybrid_rrf",
    "udtf_bigrams",
    "udf_maparrow_tokencount",
    "corpus_curriculum",
    "embedding_pq",
    "similarity_pq_adc",
    "similarity_ivfpq",
    "events_transition_matrix",
    # Round-4 additions: the verbatim-SQL-text twins of the two hairiest
    # TPC-H parser shapes (Q2 correlated MIN, Q21 EXISTS+NOT EXISTS chain) —
    # the reference's actual spark.sql(queryString) execution path.
    "sql_text_q2",
    "sql_text_q21",
    # Round-4 pipeline additions: incremental dedup, zero-shuffle stratified
    # sampling, deterministic contrastive negatives, JL random projection.
    "dedup_incremental",
    "corpus_stratified_sample",
    "similarity_contrastive_negatives",
    "embedding_random_projection",
    "corpus_prepare_pipeline",
    "similarity_ann_recall",
    # Round-4 ML-adjacent pipeline ops (operators/pipeline_ml.py):
    # fixed-point EWMA window, zero-shuffle hashed linear classifier,
    # degree-capped common-neighbor link prediction, blocked ER.
    "events_ewma",
    "text_hash_classifier",
    "graph_common_neighbors",
    "er_blocked_linkage",
    "events_attribution",
    "events_winsorized_revenue",
    "dedup_lsh_recall",
    "events_rolling_dau",
    "dq_k_anonymity",
    "text_keywords",
    "orders_yoy_growth",
    # Round-4 continuation: warehouse round-out (interval sweep, privacy,
    # equi-depth stats, association lift, IVM partial-merge, compaction
    # planning) + behavioral analytics (pivot split, TWAP, Tukey fences,
    # gap analysis, HHI concentration, neighborhood Jaccard).
    "events_concurrency",
    "dq_l_diversity",
    "events_equidepth_histogram",
    "orders_basket_lift",
    "ivm_incremental_rollup",
    "layout_compaction_bins",
    "events_before_after",
    "events_twap",
    "dq_outlier_iqr",
    "orders_interpurchase_gap",
    "supplier_hhi",
    "graph_jaccard_ppm",
    # Round-5: SPC/observability suite (closed-form CUSUM, Benford audit,
    # cohort drift in bp, peak detection, hour-of-day seasonality) +
    # bounded BFS, backlog aging, cross-source n-gram leakage.
    "events_cusum",
    "dq_benford",
    "dq_distribution_drift",
    "events_local_peaks",
    "events_hourly_seasonality",
    "graph_bfs_levels",
    "orders_backlog_aging",
    "corpus_cross_source_leakage",
    # Round-5b: time-series statistics (Mann-Kendall trend, changepoint,
    # persistence backtest) + novelty scoring, PK audit, top paths.
    "events_trend_mannkendall",
    "events_changepoint",
    "events_forecast_backtest",
    "corpus_novelty",
    "dq_pk_uniqueness",
    "events_top_paths",
    # Round-9: the reference's OWN headline pair, benchmarked exactly as
    # its README does (README.md:125-126 names TPC-DS q2+q5 at
    # parallelism 100; TPCDSQueryBenchmark.scala:100 runs the verbatim
    # text through spark.sql + noop) — raising the headline set to 140.
    "sql_text_tpcds_q2",
    "sql_text_tpcds_q5",
]


#: Machine-readable per-query baselines (median-of-3, fresh process,
#: sf0.1) — the single canonical table BASELINE.md points at. bench.py
#: uses it to auto-adjudicate host stalls in-run (see below); absent or
#: unlisted queries simply skip the re-time check.
_REPO = os.path.dirname(os.path.abspath(__file__))
BASELINE_FILE = os.path.join(_REPO, "BASELINE_QUERIES.json")


def baseline_file_for(sf_dir: str) -> str | None:
    """Baseline table keyed by the fixture dir's SF tag (VERDICT r9 item
    2): the canonical BASELINE_QUERIES.json holds sf0.1 numbers, so
    benching another SF against it manufactures phantom "violations" out
    of expected data scale-ups (BENCH_sf1 carried 5 such). Other SFs use
    BASELINE_QUERIES_<tag>.json (e.g. _sf1) when committed, else NO
    baseline (n_baselined 0, zero violations — honest, not green-washed).
    """
    if _is_canonical_sf01(sf_dir):
        return BASELINE_FILE
    tag = os.path.basename(os.path.normpath(sf_dir))
    cand = os.path.join(_REPO, f"BASELINE_QUERIES_{tag}.json")
    return cand if os.path.exists(cand) else None


#: The one fixture dir the canonical baselines (and COLD_BASELINE.json)
#: describe. A generated .genscale/sf0.1 shares the basename but not the
#: data distribution (ADVICE r10): it must neither be graded against the
#: canonical table nor overwrite the committed cold baseline — keying on
#: the RESOLVED path, not the basename, prevents both.
CANONICAL_SF01 = "/root/testdata/sf0.1"


def _is_canonical_sf01(sf_dir: str) -> bool:
    return os.path.realpath(sf_dir) == os.path.realpath(CANONICAL_SF01)


#: Queries whose median-of-3 measures warm persisted-cache re-hits
#: (iterative/persist-heavy plans); their COLD cost is runs[0], recorded
#: per run in COLD_BASELINE.json so rounds compare cold-vs-cold without
#: artifact archaeology (VERDICT r9 item 8; BASELINE.md "medians of
#: persist-heavy queries").
PERSIST_HEAVY = (
    "graph_pagerank",
    "graph_connected_components",
    "graph_bfs_levels",
    "graph_common_neighbors",
    "graph_jaccard_ppm",
    "kmeans_lloyd",
    "dedup_cluster_canonical",
)

#: One run per query is stall-fragile: a single bad host-scheduling window
#: poisons the committed artifact with numbers that read as 2x-gate
#: failures (BENCH_r03: agg_correlation 16.5 s recorded vs 3.5 s fresh).
#: Median-of-3 absorbs one bad window; any query still >2x its baseline is
#: re-timed up to RETIME_RUNS more times in the same process and records
#: its best observed time with a `retimed` flag, so the artifact needs no
#: manual adjudication. The reference harness re-runs queries the same way
#: (TPCDSQueryBenchmark.scala:88-100, numIters).
RUNS_PER_QUERY = 3
RETIME_RUNS = 2
STALL_FACTOR = 2.0
#: A query is stall-suspect only when it breaches the 2x window by at
#: least this many ABSOLUTE seconds too: for sub-second queries the 2x
#: window is narrower than ordinary host jitter (a 0.28 s query reading
#: 0.58 s in a busy window is noise, not a regression — BASELINE.md's
#: round-3 adjudications treated exactly this class as noise), while any
#: real regression on a query that matters clears half a second easily.
STALL_ABS_SLACK = 0.5


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def drift_factor(cal_now: float | None, cal_base: float | None) -> float:
    """Host-window drift multiplier for the stall gate (VERDICT r7 item 2).

    The calibration probe is code-independent, so cal_now/cal_base measures
    pure host-state drift between the baseline epoch's window and this run's
    window. Baselines are scaled UP by it in a slower window (so uniform VM
    slowness stops flagging sub-second queries as 2x violations — BENCH_r07
    carried 4 such phantoms) but never DOWN in a faster one (a genuinely
    faster window must not mask a real regression)."""
    if not cal_now or not cal_base:
        return 1.0
    return max(1.0, cal_now / cal_base)


def is_violation(
    t: float, base: float | None, drift: float, factor: float = STALL_FACTOR,
    abs_slack: float = STALL_ABS_SLACK,
) -> bool:
    """The single stall/violation predicate (shared by the in-run re-time
    trigger and the artifact's violations list; unit-tested against a
    synthetic uniformly-slowed window in tests/test_bench_contract.py)."""
    if base is None:
        return False
    eff = base * drift
    return t > factor * eff and t - eff > abs_slack


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", RUNS_PER_QUERY))
    spark = get_spark(app_name="cherry-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    baselines: dict[str, float] = {}
    cal_base: float | None = None
    baseline_file = baseline_file_for(sf_dir)
    try:
        with open(baseline_file) as fh:
            base_doc = json.load(fh)
        baselines = {k: float(v) for k, v in base_doc["queries"].items()}
        cal_base = float(base_doc["calibration_sec"]) if "calibration_sec" in base_doc else None
    except (OSError, KeyError, ValueError, TypeError):
        pass

    # Engine warmup (JIT, codegen, parquet reader init) so per-query numbers
    # measure the query, not JVM startup. The reference's harness does the
    # same via numIters warmup runs (TPCDSQueryBenchmark.scala:96-101).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # Host-calibration probe (BENCH_AB_HOSTDRIFT lesson): a fixed,
    # CODE-INDEPENDENT Spark job (generator + md5 + small shuffle) timed
    # median-of-3. Its value moves only with host state, never with repo
    # changes, so any future bench total can be normalized:
    # total/calibration is comparable across host windows where raw totals
    # are not. Reference value for the current window in BASELINE.md.
    def _calibration_probe() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 16_000_000, 1, 32)
            .selectExpr("substring(md5(cast(id AS string)), 1, 4) AS k")
            .groupBy("k")
            .count()
            .selectExpr("sum(count) AS s", "count(*) AS n")
            .collect()
        )
        return time.perf_counter() - t0

    # Statistic is MIN of 3 probes, matching BASELINE_QUERIES.json's
    # calibration_sec which pins the baseline window's FASTEST probe — a
    # median-vs-fastest mismatch made drift_factor systematically >1 on an
    # unchanged host, silently widening the 2x gate (ADVICE r8, medium).
    # min is also the right estimator of unloaded host speed: probe noise
    # is one-sided (scheduling stalls only ever add time).
    cal_probes = [round(_calibration_probe(), 3) for _ in range(3)]
    calibration = min(cal_probes)
    drift = round(drift_factor(calibration, cal_base), 3)
    print(
        f"  [calibration: {calibration:.3f}s; baseline epoch "
        f"{cal_base if cal_base is not None else 'n/a'}; drift x{drift:.3f}]",
        file=sys.stderr,
    )

    specs = all_specs()
    timings: dict[str, float] = {}
    details: dict[str, dict] = {}
    for name in HEADLINE:
        builder = specs[name].builder

        def one_run() -> float:
            # Rebuild the DataFrame each run so the timing covers plan
            # construction too; repeated runs share warm caches (persisted
            # intermediates re-match by logical plan), same methodology as
            # the canonical baseline.
            t0 = time.perf_counter()
            write_noop(builder(spark, sf_dir))
            return time.perf_counter() - t0

        runs = [one_run() for _ in range(runs_per_query)]
        t = _median(runs)
        base = baselines.get(name)
        retimed = False
        if is_violation(t, base, drift):
            # Stall suspect: re-time in the same process and keep the best
            # observed run — a genuine plan regression stays slow across
            # all runs; a host stall does not.
            runs += [one_run() for _ in range(RETIME_RUNS)]
            t = min(runs)
            retimed = True
        timings[name] = round(t, 3)
        details[name] = {
            "t": timings[name],
            "runs": [round(r, 3) for r in runs],
            "retimed": retimed,
        }
        flag = " [retimed]" if retimed else ""
        print(f"  {name}: {timings[name]:.3f}s{flag}", file=sys.stderr)
        # Builders persist only through catalog.pin. Release once the
        # query's runs complete: its warm runs re-hit its own pinned
        # frames, and no query inherits another query's cached blocks, so
        # runs[0] pays the query's full cold cost.
        release_persisted()

    total = round(sum(timings.values()), 3)
    # Per-query baseline verdicts, computed in-run so the artifact is
    # self-adjudicating: a query "violates" only past BOTH the 2x factor
    # and the absolute slack (the round-3/4 adjudication rule).
    # Each violation carries its OWN raw runs + retimed flag so a
    # truncated artifact is still self-adjudicating: BENCH_r05's 2,000-char
    # tail cut off the `details` map and the one committed violation could
    # not be checked against its re-time evidence (VERDICT r5 item 3).
    violations = [
        {
            "query": n,
            "t": t,
            "baseline": baselines[n],
            "runs": details[n]["runs"],
            "retimed": details[n]["retimed"],
        }
        for n, t in timings.items()
        if is_violation(t, baselines.get(n), drift)
    ]
    # Key order matters: the driver's BENCH_r{N}.json keeps only a ~2000
    # char TAIL of stdout, so the bulky queries map goes FIRST and the
    # compact summary (violations WITH their runs, total, sf) goes LAST on
    # the one JSON line — BENCH_r03/r04 committed with the headline total
    # truncated away (VERDICT r4 item 3). The per-run `details` map is NOT
    # printed at all (VERDICT r11 item 2: BENCH_r10's capture was tail-only
    # and unparseable because details tripled the line); it lives in
    # BENCH_FULL.json (repo root, overwritten per run) together with the
    # complete line.
    payload = {
        "metric": "headline_query_set_wall_clock",
        "unit": "sec",
        "protocol": {
            "runs_per_query": runs_per_query,
            "stat": "median",
            "stall_factor": STALL_FACTOR,
            "retime_runs": RETIME_RUNS,
        },
        "queries": timings,
        "n_queries": len(timings),
        "n_baselined": sum(1 for n in timings if n in baselines),
        "full_copy": "BENCH_FULL.json",
        "violations": violations,
        "n_violations": len(violations),
        "calibration_sec": calibration,
        "calibration_probes": cal_probes,
        "calibration_stat": "min",
        "calibration_baseline_sec": cal_base,
        "baseline_file": os.path.basename(baseline_file) if baseline_file else None,
        "drift_factor": drift,
        "value": total,
        "sf": sf,
    }
    line = json.dumps(payload)
    try:
        full = dict(payload)
        full["details"] = details
        with open(os.path.join(_REPO, "BENCH_FULL.json"), "w") as fh:
            fh.write(json.dumps(full) + "\n")
    except OSError:
        pass  # read-only checkout: stdout carries everything but details
    # Cold-path record for the persist-heavy set (runs[0] = no warm
    # cache), refreshed only by canonical sf0.1 runs so the committed
    # file stays one protocol.
    if _is_canonical_sf01(sf_dir):
        cold = {
            "_protocol": "runs[0] of the canonical sf0.1 bench (cold persisted caches)",
            "_sf_dir": CANONICAL_SF01,
            "_calibration_sec": calibration,
            "queries": {
                n: details[n]["runs"][0] for n in PERSIST_HEAVY if n in details
            },
        }
        try:
            with open(os.path.join(_REPO, "COLD_BASELINE.json"), "w") as fh:
                json.dump(cold, fh, indent=1)
        except OSError:
            pass
    print(line)


if __name__ == "__main__":
    main()

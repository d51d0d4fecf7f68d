"""Generated-scale fixtures: a deterministic, spark.range-based data
generator that reproduces the driver fixtures' schemas and value domains at
any scale factor — the determinism evidence path PAST sf0.1.

Why this exists (VERDICT r6 item 1): every cross-engine determinism bug so
far (CDC ROUND tie, pagerank ulp, surprisal libm drift, changepoint int64
headroom) surfaced exactly one scale factor above where tests ran, and the
driver fixtures stop at sf0.1. This module generates a ~sf1 (10x sf0.1)
lineitem/orders/events set so the value-sensitive registry slice can be
differentially verified against DuckDB at a scale where fixed-point and
decimal arithmetic actually approach their documented bounds
(events_changepoint's int64 guard arms at ~sf0.5-sf1 with skewed types).

Reference parity: the reference also generates its benchmark data
programmatically and writes it as partitioned parquet before running
queries (tpc-ds-gen/TPCDSPreparation.scala:17-25); this generator plays
that role for the engine's own fixture schema (TESTDATA.md).

Design rules:
- **Deterministic**: every cell is a pure md5 function of (seed tag, row
  id) — regeneration is bit-identical, no RNG state, no driver loops. The
  same derivation runs distributed over `spark.range` partitions, so the
  generator itself scales (100 TB of synthetic data = more range
  partitions, nothing else changes).
- **Consistent keys without joins**: lineitem recomputes o_orderdate from
  l_orderkey with the SAME tagged md5 expression orders uses, so
  shipdate > orderdate holds with zero shuffles.
- **Fixture-faithful domains**: event types / priorities / flags / key
  ranges / value distributions match the sf0.1 profile (FIXTURES.md), so
  every registered query's predicates select comparable fractions at any
  scale. region/nation/documents/embeddings are SF-invariant in the
  driver's design and are copied from the source fixture dir;
  customer/supplier/part are GENERATED at sqrt(scale) entity counts
  (round 8 — see entity_counts) with fixture-faithful value domains.
- **Physical types match the r2 driver fixtures**: timestamp[us] NTZ
  (written from TimestampNTZType under get_spark's UTC session time
  zone), int64 keys, int32 l_linenumber, double money — so
  `sources/catalog.py::normalize_ts`'s dtype branches exercise the same
  paths.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.sources.catalog import parquet_rows

#: Default output location for the generated ~sf1 set (inside the repo —
#: /root/testdata is read-only to the engine).
GEN_DIR = os.environ.get("SPARK_GRAFT_GEN_DIR", "/root/repo/.genscale/sf1")

#: sf0.1 row counts (FIXTURES.md) — `scale` multiplies these.
BASE_ROWS = {"orders": 150_000, "events": 100_000}
MEAN_LINES_PER_ORDER = 4  # lineitem ~= 4x orders, matching the fixture

#: SF-invariant tables copied verbatim from the source fixture dir.
#: region/nation are fixed-25/5-row reference dims; documents/embeddings
#: are SF-invariant in the driver's design. customer/supplier/part moved
#: to the GENERATED set in round 8 (entity scaling below).
COPIED_TABLES = (
    "region",
    "nation",
    "documents",
    "embeddings",
)

#: sf0.1 documents/embeddings base rows (FIXTURES.md) — `doc_scale`
#: multiplies these. The fixture corpus is a word-soup over a small fixed
#: vocabulary (31 words at sf0.1) with ~0.32% exact-duplicate rows, and
#: unit-norm random 64-dim embeddings whose labels carry NO geometric
#: structure (measured within-label cosine ≈ across-label ≈ 0) — profiles
#: measured from /root/testdata/sf0.1 in round 11.
DOC_BASE_ROWS = {"documents": 5_000, "embeddings": 2_000}
_DOC_LANG_CDF = (("en", 0.412), ("zh", 0.562), ("es", 0.711), ("fr", 0.860), ("de", 1.0))
_DOC_DUP_RATE = 0.0032  # 16 / 5000 fixture exact-dup rows
_DOC_ANCHOR_SPAN = 500  # dup rows copy the text of their span's anchor doc
_EMB_DIM = 64

#: Entity-domain sizes at scale=1.0 (the sf0.1 fixture profile).
_BASE_ENTITIES = {
    "customers": 15_000,
    "parts": 20_000,
    "suppliers": 1_000,
    "users": 1_500,
}


def entity_counts(scale: float) -> dict[str, int]:
    """Entity domains grow with sqrt(scale) past the sf0.1 anchor
    (VERDICT r7 item 3): with FIXED entity tables, per-entity degree grows
    linearly with the fact data and every pairs-within-block oracle
    (er_blocked_linkage, graph_common_neighbors, graph_jaccard_ppm)
    explodes quadratically — ~2500x at 50x data, the COMPARE_sf5
    exclusions. entities ∝ sqrt(rows) keeps degree ∝ sqrt(rows), so total
    candidate pairs grow ~rows^1.5 instead of rows^2: the sf5 oracle load
    lands at ~3.5x the (passing) fixed-entity sf1 level instead of 25x.
    Density still GROWS with scale — the graph families get genuinely
    harder, not watered down to constant degree. Below scale=1 the
    domains clamp to the fixture profile so small generated sets keep the
    driver fixtures' selectivities (FIXTURES.md)."""
    import math

    f = math.sqrt(max(1.0, scale))
    return {k: int(v * f) for k, v in _BASE_ENTITIES.items()}


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_ORDER_STATUS = ("O", "P", "F")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_RETURN_FLAGS = ("A", "N", "R")
_LINE_STATUS = ("F", "O")
_ORDERS_EPOCH = datetime.date(1995, 1, 1)
_ORDERS_SPAN_DAYS = (datetime.date(2001, 8, 1) - _ORDERS_EPOCH).days  # 2404
_EVENTS_BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
_EVENTS_SPAN_DAYS = 30

MANIFEST = "_GENSCALE.json"
_GENERATOR_VERSION = 2


def _u(tag: str, *cols: Column) -> Column:
    """Deterministic uniform [0,1): top 52 bits of md5(tag, cols).

    52 hex→binary bits divide exactly by 2^52, so the value is an exact
    dyadic rational — identical on every executor, every run, every
    parallelism (the workloads.py md5-chain convention)."""
    h = F.md5(F.concat_ws("\x1f", F.lit(tag), *[c.cast("string") for c in cols]))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / float(1 << 52)


def _pick(u: Column, values: tuple[str, ...]) -> Column:
    """Map a uniform to one of `values` (exact floor-index, never OOB)."""
    idx = F.least(F.floor(u * len(values)).cast("int"), F.lit(len(values) - 1))
    return F.element_at(F.array(*[F.lit(v) for v in values]), idx + 1)


def _uint(u: Column, n: int) -> Column:
    """Uniform integer in [0, n)."""
    return F.least(F.floor(u * n).cast("long"), F.lit(n - 1).cast("long"))


def _orderdate(orderkey: Column) -> Column:
    """o_orderdate as a pure function of the order key — shared by the
    orders generator and lineitem's shipdate derivation (no join)."""
    days = _uint(_u("o_orderdate", orderkey), _ORDERS_SPAN_DAYS).cast("int")
    return F.date_add(F.lit(_ORDERS_EPOCH), days).cast("timestamp_ntz")


def gen_orders(
    spark: SparkSession, n: int, n_customers: int = _BASE_ENTITIES["customers"],
    partitions: int = 32,
) -> DataFrame:
    ids = spark.range(0, n, 1, partitions)
    k = F.col("id")
    return ids.select(
        k.alias("o_orderkey"),
        _uint(_u("o_custkey", k), n_customers).alias("o_custkey"),
        _pick(_u("o_orderstatus", k), _ORDER_STATUS).alias("o_orderstatus"),
        F.round(F.lit(1000.0) + _u("o_totalprice", k) * 499_000.0, 2).alias("o_totalprice"),
        _orderdate(k).alias("o_orderdate"),
        _pick(_u("o_orderpriority", k), _PRIORITIES).alias("o_orderpriority"),
    )


def gen_lineitem(
    spark: SparkSession, n_orders: int, n_parts: int = _BASE_ENTITIES["parts"],
    n_suppliers: int = _BASE_ENTITIES["suppliers"], partitions: int = 32,
) -> DataFrame:
    """1..7 lines per order (mean 4, the fixture's shape) via a per-order
    explode — no shuffle, and l_shipdate = o_orderdate + 1..95 days holds
    by construction because both sides derive the date from the key."""
    ok = F.col("l_orderkey")
    ln = F.col("l_linenumber")
    base = spark.range(0, n_orders, 1, partitions).select(F.col("id").alias("l_orderkey"))
    lines = base.select(
        "l_orderkey",
        F.explode(
            F.sequence(F.lit(1), (_uint(_u("n_lines", ok), 7) + 1).cast("int"))
        ).alias("l_linenumber"),
    )
    qty = (_uint(_u("l_quantity", ok, ln), 50) + 1).cast("double")
    unit_price = F.lit(900.0) + _u("l_unitprice", ok, ln) * 1200.0
    ship_delta = (_uint(_u("l_shipdelta", ok, ln), 95) + 1).cast("int")
    return lines.select(
        ok.alias("l_orderkey"),
        ln.cast("int").alias("l_linenumber"),
        _uint(_u("l_partkey", ok, ln), n_parts).alias("l_partkey"),
        _uint(_u("l_suppkey", ok, ln), n_suppliers).alias("l_suppkey"),
        qty.alias("l_quantity"),
        F.round(qty * unit_price, 2).alias("l_extendedprice"),
        F.round(_uint(_u("l_discount", ok, ln), 11).cast("double") / 100.0, 2).alias("l_discount"),
        F.round(_uint(_u("l_tax", ok, ln), 9).cast("double") / 100.0, 2).alias("l_tax"),
        _pick(_u("l_returnflag", ok, ln), _RETURN_FLAGS).alias("l_returnflag"),
        _pick(_u("l_linestatus", ok, ln), _LINE_STATUS).alias("l_linestatus"),
        (F.date_add(F.lit(_ORDERS_EPOCH), _uint(_u("o_orderdate", ok), _ORDERS_SPAN_DAYS).cast("int") + ship_delta)).cast("timestamp_ntz").alias("l_shipdate"),
    )


def gen_events(
    spark: SparkSession, n: int, n_users: int = _BASE_ENTITIES["users"], partitions: int = 32
) -> DataFrame:
    """Strictly ts-increasing event stream over a 30-day window (the
    fixture property sessionization/as-of queries rely on): each event gets
    a fixed slot `id * gap` plus jitter < gap. Values are Exp(mean=50) to
    match the fixture profile (avg 49.9, std 49.6, max ~560 at 100k)."""
    span_us = _EVENTS_SPAN_DAYS * 86_400 * 1_000_000
    gap_us = span_us // n
    if gap_us < 2:
        raise ValueError(f"n={n} too large for a {_EVENTS_SPAN_DAYS}-day window")
    k = F.col("id")
    ids = spark.range(0, n, 1, partitions)
    jitter = _uint(_u("ts_jitter", k), max(1, (gap_us * 9) // 10))
    ts_us = F.lit(_EVENTS_BASE_US).cast("long") + k * gap_us + jitter
    value = F.round(F.lit(-50.0) * F.log(F.lit(1.0) - _u("value", k)), 2)
    return ids.select(
        k.alias("event_id"),
        F.timestamp_micros(ts_us).cast("timestamp_ntz").alias("ts"),
        _uint(_u("user_id", k), n_users).alias("user_id"),
        _pick(_u("event_type", k), _EVENT_TYPES).alias("event_type"),
        value.alias("value"),
        F.concat(F.lit('{"k": '), _uint(_u("props", k), 100).cast("string"), F.lit("}")).alias(
            "props"
        ),
    )


def _doc_vocab(src_sf_dir: str) -> list[str]:
    """The source fixtures' exact word vocabulary (driver-side, one small
    read): generated docs stay token-compatible with the fixture corpus,
    so every shingle/minhash/token-stat query sees the same value domain
    the fixture queries were verified on."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(src_sf_dir, "documents.parquet"), columns=["text"]
    )
    vocab: set[str] = set()
    for chunk in tbl.column("text").chunks:
        for s in chunk.to_pylist():
            vocab.update(s.split(" "))
    vocab.discard("")
    return sorted(vocab)


def gen_documents(
    spark: SparkSession, n: int, src_sf_dir: str, partitions: int = 32
) -> DataFrame:
    """documents at doc scale: word-soup over the fixture vocabulary,
    8..100 words per doc (the fixture's n_chars 44..577, mean ~297),
    exact round-robin sources (the fixture's 250-per-source property),
    CDF-weighted langs, and ~0.32% planted exact duplicates — each dup
    copies the TEXT of its 500-span anchor doc while keeping its own
    lang/source, so exact dedup AND cross-source leakage queries see
    signal at every scale. Every value is a pure md5 function of doc_id:
    bit-identical at any parallelism, any number of executors."""
    vocab = _doc_vocab(src_sf_dir)
    vocab_arr = F.array(*[F.lit(w) for w in vocab])
    k = F.col("id")
    ids = spark.range(0, n, 1, partitions)
    anchor = k - (k % _DOC_ANCHOR_SPAN)
    is_dup = (_u("d_dup", k) < _DOC_DUP_RATE) & (k != anchor)
    src_id = F.when(is_dup, anchor).otherwise(k)
    n_words = (_uint(_u("d_nwords", src_id), 93) + 8).cast("int")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda j: F.element_at(
                vocab_arr,
                (_uint(_u("d_word", src_id, j), len(vocab)) + 1).cast("int"),
            ),
        ),
    )
    u_lang = _u("d_lang", k)
    lang = F.lit(_DOC_LANG_CDF[-1][0])
    for name, ceil in reversed(_DOC_LANG_CDF[:-1]):
        lang = F.when(u_lang < ceil, F.lit(name)).otherwise(lang)
    return ids.select(
        k.alias("doc_id"),
        text.alias("text"),
        lang.alias("lang"),
        F.concat(F.lit("src"), (k % 20).cast("string")).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def gen_embeddings(spark: SparkSession, n: int, partitions: int = 16) -> DataFrame:
    """embeddings at doc scale: unit-normalized deterministic 64-dim
    float vectors with uniform labels 0..9 — the fixture profile exactly
    (values in ±1/sqrt(sum), no planted cluster geometry)."""
    k = F.col("id")
    ids = spark.range(0, n, 1, partitions)
    raw = F.transform(
        F.sequence(F.lit(1), F.lit(_EMB_DIM)),
        lambda i: _u("e_val", k, i) * 2.0 - 1.0,
    )
    norm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda acc, x: acc + x * x))
    return ids.select(
        k.alias("vec_id"),
        F.transform(raw, lambda x: (x / norm).cast("float")).alias("embedding"),
        _uint(_u("e_label", k), 10).cast("int").alias("label"),
    )


_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def gen_customer(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """customer at entity scale — fixture-faithful domains (FIXTURES.md:
    Customer#%09d names, nation 0-24, acctbal ~[-1000, 10000] 2dp, the 5
    TPC-H market segments)."""
    k = F.col("id")
    return spark.range(0, n, 1, partitions).select(
        k.alias("c_custkey"),
        F.format_string("Customer#%09d", k).alias("c_name"),
        _uint(_u("c_nation", k), 25).cast("int").alias("c_nationkey"),
        F.round(F.lit(-1000.0) + _u("c_acctbal", k) * 11_000.0, 2).alias("c_acctbal"),
        _pick(_u("c_mktsegment", k), _SEGMENTS).alias("c_mktsegment"),
    )


def gen_supplier(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    k = F.col("id")
    return spark.range(0, n, 1, partitions).select(
        k.alias("s_suppkey"),
        F.format_string("Supplier#%09d", k).alias("s_name"),
        _uint(_u("s_nation", k), 25).cast("int").alias("s_nationkey"),
        F.round(F.lit(-1000.0) + _u("s_acctbal", k) * 11_000.0, 2).alias("s_acctbal"),
    )


def gen_part(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """part at entity scale — the fixture's 8x8 adj/noun name vocabulary,
    Brand#1-25, 6 types, size 1-50, retailprice 900 + (key % 1000)/10."""
    k = F.col("id")
    return spark.range(0, n, 1, partitions).select(
        k.alias("p_partkey"),
        F.concat(
            _pick(_u("p_adj", k), _PART_ADJS), F.lit(" "), _pick(_u("p_noun", k), _PART_NOUNS)
        ).alias("p_name"),
        F.concat(F.lit("Brand#"), (_uint(_u("p_brand", k), 25) + 1).cast("string")).alias(
            "p_brand"
        ),
        _pick(_u("p_type", k), _PART_TYPES).alias("p_type"),
        (_uint(_u("p_size", k), 50) + 1).cast("int").alias("p_size"),
        F.round(F.lit(900.0) + (k % 1000).cast("double") / 10.0, 1).alias("p_retailprice"),
    )


def generate_scaled_fixtures(
    spark: SparkSession,
    out_dir: str = GEN_DIR,
    scale: float = 10.0,
    src_sf_dir: str = "/root/testdata/sf0.1",
    partitions: int = 32,
    force: bool = False,
    doc_scale: float | None = None,
) -> dict:
    """Write a complete 10-table fixture dir at `scale` x sf0.1.

    Idempotent: a manifest records (scale, version, row counts); a
    matching manifest short-circuits regeneration. Fact tables are written
    as multi-file parquet directories (real scan parallelism — the sf0.1
    single-file fixtures scan as ONE partition, BASELINE.md's 206s→5.5s
    lesson); `plans/differential.py::duck_connection` globs directories.

    `doc_scale` (round 11): when set, documents/embeddings are GENERATED
    at doc_scale x their sf0.1 row counts (gen_documents/gen_embeddings)
    instead of copied from src_sf_dir — the scale axis for the dedup /
    similarity / text-analysis / datapipe stack, which the fact-table
    `scale` never exercises (the driver keeps those tables SF-invariant)."""
    manifest_path = os.path.join(out_dir, MANIFEST)
    entities = entity_counts(scale)
    want = {
        "version": _GENERATOR_VERSION,
        "scale": scale,
        "orders": int(BASE_ROWS["orders"] * scale),
        "events": int(BASE_ROWS["events"] * scale),
        "src_sf_dir": src_sf_dir,
        "entities": entities,
        "doc_scale": doc_scale,
    }
    if not force and os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            have = json.load(fh)
        if {k: have.get(k) for k in want} == want:
            return have
    os.makedirs(out_dir, exist_ok=True)
    n_orders, n_events = want["orders"], want["events"]
    frames = {
        "orders": gen_orders(spark, n_orders, entities["customers"], partitions),
        "lineitem": gen_lineitem(
            spark, n_orders, entities["parts"], entities["suppliers"], partitions
        ),
        "events": gen_events(spark, n_events, entities["users"], partitions),
        "customer": gen_customer(spark, entities["customers"]),
        "supplier": gen_supplier(spark, entities["suppliers"]),
        "part": gen_part(spark, entities["parts"]),
    }
    if doc_scale is not None:
        frames["documents"] = gen_documents(
            spark, int(DOC_BASE_ROWS["documents"] * doc_scale), src_sf_dir, partitions
        )
        frames["embeddings"] = gen_embeddings(
            spark, int(DOC_BASE_ROWS["embeddings"] * doc_scale)
        )
    counts: dict[str, int] = {}
    for name, df in frames.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        counts[name] = parquet_rows(path)
    copied = COPIED_TABLES if doc_scale is None else tuple(
        t for t in COPIED_TABLES if t not in ("documents", "embeddings")
    )
    for name in copied:
        src = os.path.join(src_sf_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.isdir(src):  # a previously generated dir as source
            if os.path.abspath(src) != os.path.abspath(dst):
                shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, dst)
    manifest = dict(want, row_counts=counts)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


# ---------------------------------------------------------------------------
# The value-sensitive registry slice: every oracle query from the modules
# where fixed-point / decimal / windowed-sum arithmetic lives (the families
# where all four historical cross-engine bugs surfaced), plus named extras
# from other modules. `python -m spark_cherry_shuffle_service_spark
# compare --sf-dir <gen dir> --queries "$(... value_sensitive_names)"`
# is the sf1 gate; tests/test_genscale.py runs a subset in the suite.
# ---------------------------------------------------------------------------
VALUE_SENSITIVE_MODULES = ("monitoring", "pipeline_ml", "warehouse_extras", "decimal_native")

#: The documents/embeddings consumer modules — the slice the `doc_scale`
#: axis exercises (every oracle-bearing dedup / ANN / text-analysis /
#: datapipe / BPE / multimodal query).
DOC_SCALE_MODULES = ("dedup", "similarity", "textanalysis", "datapipe", "bpe", "multimodal")


def doc_scale_names() -> list[str]:
    """Every oracle-bearing query whose builder lives in a documents/
    embeddings consumer module — resolved against the live registry so
    the doc-scale gate can never silently shrink."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    return [
        n
        for n, s in sorted(all_specs().items())
        if (s.oracle or s.oracle_py)
        and s.builder.__module__.rsplit(".", 1)[-1] in DOC_SCALE_MODULES
    ]

#: Past-bug families + decimal-heavy queries living in other modules:
#: cdc_merge_apply (the CDC ROUND-tie bug), graph_pagerank (the ulp bug),
#: text_surprisal (the libm 4dp bug), agg_correlation (widened-DECIMAL
#: sufficient stats), percentiles (exact vs histogram twin), events_twap /
#: supplier_hhi / events_ohlc (micro-unit money math).
VALUE_SENSITIVE_EXTRAS = (
    "cdc_merge_apply",
    "graph_pagerank",
    "text_surprisal",
    "agg_correlation",
    "agg_percentiles",
    "agg_percentiles_histogram",
    "events_twap",
    "events_ohlc",
    "supplier_hhi",
    "pricing_summary",
    "abc_classification",
    "orders_rfm",
    # Queries whose DECIMAL→DOUBLE conversion was swept to the split form
    # in round 7 — each must stay in the past-sf0.1 gate:
    "window_running_sum",
    "window_avg_dev",
    "cumulative_compare",
    "cumulative_compare_v2",
    "skewed_salted_join",
    "math_funcs",
    "market_share",
    "small_qty_revenue",
    "customer_gini",
    "agg_cube",
    "agg_grouping_sets",
    "sql_text_q1",
    "sql_text_tpch_q6",
    "sql_text_channel_union",
)


def value_sensitive_names() -> list[str]:
    """Resolve the slice against the live registry (missing extras raise —
    the slice must never silently shrink)."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    specs = all_specs()
    names = [
        n
        for n, s in sorted(specs.items())
        if s.oracle and s.builder.__module__.rsplit(".", 1)[-1] in VALUE_SENSITIVE_MODULES
    ]
    for extra in VALUE_SENSITIVE_EXTRAS:
        if extra not in specs:
            raise KeyError(f"value-sensitive extra {extra!r} not in registry")
        if specs[extra].oracle and extra not in names:
            names.append(extra)
    return names

"""Verbatim TPC-DS slice (VERDICT r7 item 1): texts byte-identical to the
reference's shipped .sql files, pinned Spark output schemas, non-empty
results on the committed star fixtures, and star-generator invariants the
query predicates depend on. Value correctness rides the auto-parametrized
differential (tests/test_oracle_parity.py picks every sql_text_tpcds_*
oracle up at sf0.01) plus the committed two-SF compare artifacts.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from spark_cherry_shuffle_service_spark.operators.tpcds import (
    SPARK_COLS,
    V27_QUERIES,
    ref_sql_path,
    tpcds_oracle,
)
from spark_cherry_shuffle_service_spark.operators.tpcds_texts import TPCDS_TEXTS
from spark_cherry_shuffle_service_spark.plans.differential import adapt_oracle, duck_rows
from spark_cherry_shuffle_service_spark.plans.registry import all_specs
from spark_cherry_shuffle_service_spark.sources.tpcds_star import (
    MANIFEST,
    TPCDS_TABLES,
    register_star_views,
    star_dir,
)
from tests.conftest import SF_CORRECT

_REF_SQL_DIR = (
    "/root/reference/spark-code/code/sql/core/src/test/resources/tpcds"
)
_REF_SQL_DIR_V27 = _REF_SQL_DIR + "-v2.7.0"
_REF_RESOURCES = os.path.dirname(_REF_SQL_DIR)
# In-repo copies of reference .sql files the registry does not embed, laid
# out like the reference's resources dir (so one relpath addresses both).
_ANCHOR_DIR = os.path.join(os.path.dirname(__file__), "tpcds_ref")
#: sha256 of each anchored copy, with the same outer-newline normalization
#: as tpcds_text_sha256.json. tpcds/q75.sql is the v1.4 text that was
#: embedded as TPCDS_TEXTS["q75"] (and compared byte-for-byte with the
#: reference file) before q75 was excluded.
_ANCHORED_SHA256 = {
    "tpcds/q75.sql": "290f252971607e74fe4af4e7a39a8b658364910cf511ca1c64038a8bf92860cd",
}


def test_texts_cover_the_query_set():
    assert set(TPCDS_TEXTS) == set(SPARK_COLS)
    assert len(TPCDS_TEXTS) == 124
    # The reference's headline pair (README.md:125-126) must be present,
    # and the v2.7 variant surface is represented.
    assert {"q2", "q5"} <= set(TPCDS_TEXTS)
    assert V27_QUERIES <= set(TPCDS_TEXTS)


@pytest.mark.skipif(not os.path.isdir(_REF_SQL_DIR), reason="reference checkout not mounted")
@pytest.mark.parametrize("qname", sorted(TPCDS_TEXTS))
def test_texts_are_verbatim(qname):
    """The whole point of this module: the Spark-side text is the
    reference's .sql file byte-for-byte (modulo outer whitespace from the
    embedding). Any 'adaptation' belongs on the oracle side only."""
    with open(ref_sql_path(qname)) as fh:
        ref = fh.read()
    assert TPCDS_TEXTS[qname].strip("\n") == ref.strip("\n")


def test_texts_match_committed_sha256():
    """In-repo anchor for the verbatim check above, which needs the
    reference checkout: the sha256 of every text (same outer-newline
    normalization), pinned when the texts last changed and were compared
    byte-for-byte with the reference files. An edit to any text, or an
    added or dropped query, fails here with no reference mount."""
    with open(os.path.join(os.path.dirname(__file__), "tpcds_text_sha256.json")) as fh:
        pinned = json.load(fh)
    have = {
        q: hashlib.sha256(text.strip("\n").encode()).hexdigest()
        for q, text in TPCDS_TEXTS.items()
    }
    assert have == pinned


def _sha256(path: str) -> str:
    with open(path) as fh:
        return hashlib.sha256(fh.read().strip("\n").encode()).hexdigest()


def test_anchored_texts_match_pinned_sha256():
    """The in-repo copies under tests/tpcds_ref/ are exactly the pinned
    texts: an edit to a copy, or a copy added without a pin, fails here
    with no reference mount."""
    have = {
        os.path.relpath(os.path.join(d, f), _ANCHOR_DIR): _sha256(os.path.join(d, f))
        for d, _, files in os.walk(_ANCHOR_DIR)
        for f in files
    }
    assert have == _ANCHORED_SHA256


@pytest.mark.parametrize(
    "relpath",
    [
        pytest.param(
            rel,
            marks=pytest.mark.skipif(
                not os.path.isfile(os.path.join(_REF_RESOURCES, rel)),
                reason="reference checkout not mounted",
            ),
        )
        for rel in sorted(_ANCHORED_SHA256)
    ],
)
def test_anchored_texts_are_verbatim(relpath):
    """Each anchored copy is the reference's .sql file byte-for-byte
    (modulo outer newlines), wherever the reference is mounted."""
    with open(os.path.join(_ANCHOR_DIR, relpath)) as fh:
        mine = fh.read()
    with open(os.path.join(_REF_RESOURCES, relpath)) as fh:
        ref = fh.read()
    assert mine.strip("\n") == ref.strip("\n")


@pytest.mark.parametrize("qname", sorted(TPCDS_TEXTS))
def test_spark_output_columns_match_pinned(spark, qname):
    """The oracle re-aliases DuckDB output to Spark's names positionally —
    so the pinned name tuples must track the live Spark version exactly."""
    register_star_views(spark, SF_CORRECT)
    df = spark.sql(TPCDS_TEXTS[qname])
    assert tuple(df.columns) == SPARK_COLS[qname], qname


@pytest.mark.parametrize("qname", sorted(TPCDS_TEXTS))
def test_oracle_is_nonempty_on_committed_fixtures(duck_correct, qname):
    """Every verbatim query must exercise real rows on the committed
    sf0.01 star slice — an accidentally-empty differential would be a
    vacuous pass (every literal the predicates probe has matching
    generated rows by construction, sources/tpcds_star.py)."""
    cols, rows = duck_rows(duck_correct, tpcds_oracle(qname))
    assert len(rows) > 0, qname
    assert sorted(cols) == sorted(SPARK_COLS[qname])


@pytest.mark.parametrize("qname", ["q24a", "q24b", "q24_v27"])
def test_q24_py_oracle_matches_sql_oracle(duck_correct, qname):
    """The q24 family's staged exact-integer Python oracle (the ~sf5
    adjudicator — the SQL oracle's twice-inlined ssales CTE is
    RAM-infeasible in DuckDB past ~sf1) must be value-identical to the
    SQL oracle at fixture scale, the graph.py py-oracle precedent:
    column names, Decimal-typed paid cells, and the 0.05*avg HALF_UP
    threshold all compared through the same normalization the
    differential uses."""
    from spark_cherry_shuffle_service_spark.plans.differential import (
        py_oracle_rows,
    )

    spec = all_specs()[f"sql_text_tpcds_{qname}"]
    assert spec.oracle_py is not None
    d_cols, d_rows = duck_rows(duck_correct, tpcds_oracle(qname))
    p_cols, p_rows = py_oracle_rows(spec.oracle_py, duck_correct, SF_CORRECT)
    assert p_cols == d_cols, qname
    assert p_rows == d_rows, qname
    assert len(p_rows) > 0, qname


def test_q5_rollup_stays_under_its_limit(duck_correct):
    """q5 LIMIT 100 must never bind (its ORDER BY has engine-divergent
    NULL placement over the rollup subtotal rows): 3 channels x {12
    stores, 20 pages, 12 sites} + subtotals caps the result by dimension
    construction."""
    _, rows = duck_rows(duck_correct, tpcds_oracle("q5"))
    assert len(rows) < 100


def test_star_generation_is_idempotent(spark):
    """Second call must be manifest-short-circuited (no rewrite): the
    committed sf0.01 slice is the driver's oracle substrate and must not
    churn."""
    out = star_dir(SF_CORRECT)
    register_star_views(spark, SF_CORRECT)
    with open(os.path.join(out, MANIFEST)) as fh:
        manifest = json.load(fh)
    mtimes = {
        t: os.path.getmtime(os.path.join(out, f"{t}.parquet")) for t in TPCDS_TABLES
    }
    register_star_views(spark, SF_CORRECT)
    assert manifest == json.load(open(os.path.join(out, MANIFEST)))
    assert mtimes == {
        t: os.path.getmtime(os.path.join(out, f"{t}.parquet")) for t in TPCDS_TABLES
    }


def test_adapt_oracle_rewrites_star_tag_only():
    sql = tpcds_oracle("q3")
    assert "/.tpcds/sf0.01/" in sql
    adapted = adapt_oracle(sql, "/root/testdata/sf0.1")
    assert "/.tpcds/sf0.1/" in adapted and "/.tpcds/sf0.01/" not in adapted
    assert adapt_oracle(sql, "/root/testdata/sf0.01") == sql
    # Non-TPC-DS oracles are untouched.
    other = all_specs()["pricing_summary"].oracle
    assert adapt_oracle(other, "/root/testdata/sf0.1") == other


def test_star_fixture_invariants(duck_correct):
    """The generator contracts the verbatim predicates rely on:
    1-based sks, FK closure into the dims, channel partition of lineitem,
    ticket-level visit consistency, and literal coverage ('ese',
    'Williamson County', month-start skew)."""
    import duckdb

    con = duckdb.connect()
    d = star_dir(SF_CORRECT)
    for t in TPCDS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'")
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731

    # Channel split partitions lineitem — except the v9 cohort slot lines,
    # which land in all three channels by design (2 extra rows each; the
    # generator records the slot count in the manifest).
    n_lines = duck_correct.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
    n_facts = one(
        "SELECT (SELECT COUNT(*) FROM store_sales) + (SELECT COUNT(*) FROM catalog_sales)"
        " + (SELECT COUNT(*) FROM web_sales)"
    )
    with open(os.path.join(d, MANIFEST)) as fh:
        n_slots = json.load(fh)["n_slot_lines"]
    assert n_slots > 0
    assert n_facts == n_lines + 2 * n_slots

    # FK closure: every fact sk resolves (no dangling joins -> the
    # verbatim inner joins never silently drop rows).
    assert one(
        "SELECT COUNT(*) FROM store_sales LEFT JOIN date_dim ON ss_sold_date_sk = d_date_sk"
        " WHERE d_date_sk IS NULL"
    ) == 0
    assert one(
        "SELECT COUNT(*) FROM store_sales LEFT JOIN item ON ss_item_sk = i_item_sk"
        " WHERE i_item_sk IS NULL"
    ) == 0
    assert one(
        "SELECT COUNT(*) FROM store_returns LEFT JOIN date_dim ON sr_returned_date_sk = d_date_sk"
        " WHERE d_date_sk IS NULL"
    ) == 0
    assert one(
        "SELECT COUNT(*) FROM web_returns LEFT JOIN web_sales ON wr_item_sk = ws_item_sk"
        " AND wr_order_number = ws_order_number WHERE ws_item_sk IS NULL"
    ) == 0

    # Tickets are visit-consistent: one customer/store/date per ticket.
    # Checked per column (ADVICE r9): the old concat form went NULL on
    # the ~2% line-grain NULL-store lines (v9, q76) and silently dropped
    # them from the DISTINCT count. Store masking is per-LINE, so the
    # store check is "at most one NON-NULL store per ticket" — COUNT
    # (DISTINCT ...) ignores NULLs, which is exactly that semantics.
    assert one(
        "SELECT MAX(GREATEST(nc, nd)) FROM (SELECT"
        " COUNT(DISTINCT ss_customer_sk) AS nc,"
        " COUNT(DISTINCT ss_sold_date_sk) AS nd"
        " FROM store_sales GROUP BY ss_ticket_number)"
    ) == 1
    assert one(
        "SELECT MAX(n) FROM (SELECT COUNT(DISTINCT ss_store_sk) AS n"
        " FROM store_sales GROUP BY ss_ticket_number)"
    ) <= 1

    # i_item_id is unique per item row: q12/q20's ORDER BY (category,
    # class, i_item_id, ...) under a binding LIMIT relies on it.
    assert one("SELECT COUNT(*) - COUNT(DISTINCT i_item_id) FROM item") == 0

    # Literal coverage the queries filter on.
    assert one("SELECT COUNT(*) FROM store WHERE s_store_name = 'ese'") >= 2
    assert one("SELECT COUNT(*) FROM store WHERE s_county = 'Williamson County'") >= 1
    assert one("SELECT COUNT(*) FROM store WHERE s_gmt_offset = -5") >= 1
    assert one(
        "SELECT COUNT(*) FROM household_demographics WHERE hd_buy_potential = '>10000'"
    ) == 50
    assert one(
        "SELECT COUNT(*) FROM customer_demographics WHERE cd_gender = 'M'"
        " AND cd_marital_status = 'S' AND cd_education_status = 'College'"
    ) == 1
    assert one("SELECT COUNT(DISTINCT i_manufact_id) FROM item") == min(
        1000, one("SELECT COUNT(*) FROM item")
    )
    # Month-start skew keeps d_dom BETWEEN 1 AND 3 well-populated (q34).
    dom123 = one(
        "SELECT COUNT(*) FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk"
        " WHERE d_dom BETWEEN 1 AND 3"
    )
    assert dom123 > 0.25 * one("SELECT COUNT(*) FROM store_sales")

    # Week sequencing consistent with day names: every d_week_seq covers
    # at most 7 days and every Sunday starts a new week.
    assert one(
        "SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM date_dim GROUP BY d_week_seq)"
    ) == 7
    assert one(
        "SELECT COUNT(*) FROM date_dim a JOIN date_dim b ON b.d_date_sk = a.d_date_sk + 1"
        " WHERE b.d_day_name = 'Sunday' AND b.d_week_seq <> a.d_week_seq + 1"
    ) == 0

    # --- v4 invariants (round 9) ---
    # d_month_seq anchored at 1900: the corpus's BETWEEN 1200 AND 1211
    # window is exactly calendar year 2000.
    assert one(
        "SELECT COUNT(DISTINCT d_year) FROM date_dim WHERE d_month_seq BETWEEN 1200 AND 1211"
    ) == 1
    assert one(
        "SELECT MIN(d_year) FROM date_dim WHERE d_month_seq BETWEEN 1200 AND 1211"
    ) == 2000
    # Inventory FK closure + snapshot grain: every inv sk resolves, one
    # row per (date, item, warehouse), and the weekly snapshots span the
    # probed 1999-2001 window (q72 d_year 1999 .. q39-class 2001).
    assert one(
        "SELECT COUNT(*) FROM inventory LEFT JOIN date_dim ON inv_date_sk = d_date_sk"
        " WHERE d_date_sk IS NULL"
    ) == 0
    assert one(
        "SELECT COUNT(*) FROM inventory LEFT JOIN item ON inv_item_sk = i_item_sk"
        " WHERE i_item_sk IS NULL"
    ) == 0
    assert one(
        "SELECT COUNT(*) FROM inventory LEFT JOIN warehouse ON inv_warehouse_sk = w_warehouse_sk"
        " WHERE w_warehouse_sk IS NULL"
    ) == 0
    assert one(
        "SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM inventory"
        " GROUP BY inv_date_sk, inv_item_sk, inv_warehouse_sk)"
    ) == 1
    assert one(
        "SELECT COUNT(DISTINCT d_year) FROM inventory JOIN date_dim ON inv_date_sk = d_date_sk"
        " WHERE d_year IN (1999, 2000, 2001)"
    ) == 3
    # cs-side FK closure into the three v4 dims q16/q72 join through.
    assert one(
        "SELECT COUNT(*) FROM catalog_sales LEFT JOIN call_center"
        " ON cs_call_center_sk = cc_call_center_sk WHERE cc_call_center_sk IS NULL"
    ) == 0
    assert one(
        "SELECT COUNT(*) FROM catalog_sales LEFT JOIN warehouse"
        " ON cs_warehouse_sk = w_warehouse_sk WHERE w_warehouse_sk IS NULL"
    ) == 0
    assert one("SELECT COUNT(*) FROM call_center WHERE cc_county = 'Williamson County'") >= 1
    # Planted brand/class triples (q53/q63's literal brand lists) and the
    # q21 price band.
    assert one(
        "SELECT COUNT(*) FROM item WHERE i_brand = 'scholaramalgamalg #14'"
        " AND i_class = 'reference' AND i_category = 'Books'"
    ) >= 1
    assert one(
        "SELECT COUNT(*) FROM item WHERE i_brand = 'exportiunivamalg #9'"
        " AND i_class = 'self-help' AND i_category = 'Books'"
    ) >= 1
    assert one(
        "SELECT COUNT(*) FROM item WHERE i_brand = 'edu packscholar #1'"
        " AND i_class = 'pants' AND i_category = 'Men'"
    ) >= 1
    assert one(
        "SELECT COUNT(*) FROM item WHERE i_current_price BETWEEN 0.99 AND 1.49"
    ) >= 1
    # q44's comparison cohort: NULL-address store-4 rows exist, and the
    # NULL rate stays a small minority of store_sales.
    n_null = one("SELECT COUNT(*) FROM store_sales WHERE ss_store_sk = 4 AND ss_addr_sk IS NULL")
    assert n_null >= 1
    assert one("SELECT COUNT(*) FROM store_sales WHERE ss_addr_sk IS NULL") < 0.1 * one(
        "SELECT COUNT(*) FROM store_sales"
    )


# ---------------------------------------------------------------------------
# Mechanized LIMIT-boundary audit (VERDICT r10 item 2): CLAUDE.md's
# "probe rows[99]==rows[100] at every compare SF" registration rule as a
# permanent, registry-wide check. See operators/tpcds.py::
# limit_boundary_probe for the stability criterion (sub-LIMIT / strict key
# inequality at the cut / identical-row tie group).
# ---------------------------------------------------------------------------
_BOUNDARY_SF_DIRS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
if os.path.isdir("/root/repo/.genscale/sf1"):
    _BOUNDARY_SF_DIRS.append("/root/repo/.genscale/sf1")

_BOUNDARY_CONS: dict[str, object] = {}


def _boundary_con(sf_dir: str):
    import duckdb

    if sf_dir not in _BOUNDARY_CONS:
        _BOUNDARY_CONS[sf_dir] = duckdb.connect()
    return _BOUNDARY_CONS[sf_dir]


@pytest.mark.parametrize("sf_dir", _BOUNDARY_SF_DIRS)
@pytest.mark.parametrize("qname", sorted(TPCDS_TEXTS))
def test_limit_boundary_is_tie_free(spark, qname, sf_dir):
    """For every verbatim query with a trailing LIMIT n, the full-sort
    result must cut unambiguously: <= n rows, OR strict ORDER-BY-key
    inequality between positions n-1 and n, OR a boundary tie group of
    pairwise-identical rows (any engine's pick is the same multiset —
    q59/q84's class). An AMBIGUOUS boundary is exactly the measured
    engine-divergence that deregistered q75."""
    from spark_cherry_shuffle_service_spark.operators.tpcds import (
        boundary_key_funcs,
        limit_boundary_probe,
    )
    from spark_cherry_shuffle_service_spark.plans.differential import adapt_oracle

    probe = limit_boundary_probe(qname)
    if probe is None:
        pytest.skip("no trailing LIMIT: differential is order-insensitive")
    register_star_views(spark, sf_dir)  # materialize this SF's star slice
    n, sql, keys = probe
    cur = _boundary_con(sf_dir).execute(adapt_oracle(sql, sf_dir))
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    if len(rows) <= n:
        return  # LIMIT never binds
    fns = boundary_key_funcs(qname, keys, cols)

    def key(r):
        return tuple(f(r) for f in fns)

    kstar = key(rows[n - 1])
    if key(rows[n]) != kstar:
        return  # strict inequality at the cut
    group = [r for r in rows if key(r) == kstar]
    assert all(r == group[0] for r in group), (
        f"{qname} at {sf_dir}: AMBIGUOUS LIMIT-{n} boundary — tie group of "
        f"{len(group)} non-identical rows on key {kstar!r}"
    )


# ---------------------------------------------------------------------------
# Mechanized exclusion evidence (round 11): the 11 permanently-excused
# TPC-DS files each claim a protocol-level impossibility in the module
# docstring (operators/tpcds.py). These tests turn each claim from prose
# into a deterministic check against the reference's own texts (or their
# anchored copies under tests/tpcds_ref/) and the committed fixtures' own
# data — if a future fixture regeneration or engine upgrade ever
# invalidates one, the failing test is the signal to re-examine the
# exclusion.
# ---------------------------------------------------------------------------

def _excluded_text(relpath: str) -> str:
    """Text of an excluded reference .sql file: the reference's own file
    when it is mounted, else the anchored copy under tests/tpcds_ref/.
    With neither, the claim cannot be checked here and the test skips,
    naming the missing reference file."""
    ref = os.path.join(_REF_RESOURCES, relpath)
    for path in (ref, os.path.join(_ANCHOR_DIR, relpath)):
        if os.path.isfile(path):
            with open(path) as fh:
                return fh.read()
    pytest.skip(f"no text for {relpath}: {ref} is absent and tests/tpcds_ref/ has no copy")


_EXCLUDED_DUP_NAME_FILES = [
    "tpcds/q14b.sql",
    "tpcds/q64.sql",
    "tpcds-v2.7.0/q14.sql",
    "tpcds-v2.7.0/q64.sql",
]


@pytest.mark.parametrize("relpath", _EXCLUDED_DUP_NAME_FILES)
def test_excluded_dup_name_files_emit_duplicate_columns(spark, relpath):
    """The duplicate-output-name exclusion class: a sorted-by-column-name
    value hash cannot key a result whose schema repeats names (Row[name]
    reads only the first duplicate). Analysis-only — no execution."""
    text = _excluded_text(relpath)
    register_star_views(spark, SF_CORRECT)
    cols = spark.sql(text).columns
    dupes = sorted({c for c in cols if cols.count(c) > 1})
    assert dupes, f"{relpath}: exclusion claims duplicate output names; found none"


def _star_duck(sf_dir: str, tables: tuple[str, ...]):
    import duckdb

    star = star_dir(sf_dir)
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{star}/{t}.parquet/*.parquet')"
        )
    return con


@pytest.mark.parametrize(
    "relpath", ["tpcds/q75.sql", "tpcds-v2.7.0/q75.sql"]
)
def test_excluded_q75_limit_boundary_is_ambiguous(spark, relpath):
    """The engine-ambiguous-LIMIT exclusion class: q75 orders by
    sales_cnt_diff (an integer count difference) under LIMIT 100, and at
    sf0.1 the rank-100 cut lands INSIDE a tie group of non-identical rows
    — exactly the condition test_limit_boundary_is_tie_free rejects for
    registrable queries (measured live in batch 7: Spark's bound subset
    differed across sessions while DuckDB's stayed fixed)."""
    import re as _re

    text = _excluded_text(relpath).strip()
    sf_dir = "/root/testdata/sf0.1"
    register_star_views(spark, sf_dir)  # generate-if-missing
    unlimited, n_sub = _re.subn(r"LIMIT\s+100\s*$", "", text, flags=_re.IGNORECASE)
    assert n_sub == 1
    con = _star_duck(
        sf_dir,
        ("catalog_sales", "catalog_returns", "store_sales", "store_returns",
         "web_sales", "web_returns", "item", "date_dim"),
    )
    try:
        cur = con.execute(unlimited)
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    assert len(rows) > 100, f"{relpath}: LIMIT does not bind at sf0.1"
    k = names.index("sales_cnt_diff")
    # Deterministic full order: the engine sorts by the key alone; pin the
    # intra-tie arrangement so the positional probe is reproducible.
    rows.sort(key=lambda r: (r[k], repr(r)))
    assert rows[99][k] == rows[100][k], (
        f"{relpath}: the rank-100 cut is strictly key-unequal — the "
        "ambiguity claim no longer holds; re-examine the exclusion"
    )
    assert rows[99] != rows[100], (
        f"{relpath}: boundary tie group is identical rows (harmless) — "
        "re-examine the exclusion"
    )


def _welford_state(xs):
    n = 0
    avg = 0.0
    m2 = 0.0
    for x in xs:
        n += 1
        d = x - avg
        avg += d / n
        m2 += d * (x - avg)
    return (float(n), avg, m2)


def _welford_merge(a, b):
    """Spark CentralMomentAgg.merge (n, avg, M2) — the stddev_samp
    shuffle-combine step."""
    n1, a1, m1 = a
    n2, a2, m2 = b
    if n1 == 0.0:
        return b
    if n2 == 0.0:
        return a
    n = n1 + n2
    d = a2 - a1
    return (n, a1 + d * n2 / n, m1 + m2 + d * d * n1 * n2 / n)


def test_excluded_stddev_class_is_merge_order_sensitive(spark):
    """The raw-stddev exclusion class (q17/q39a/q39b): over q17's OWN
    grouped data (ss_quantity by item x state on the committed sf0.01
    star), merging Spark's per-partition (n, avg, M2) stddev states in
    two different fetch orders yields bitwise-DIFFERENT doubles — so an
    unrounded stddev_samp output is not parallelism-deterministic and no
    value hash can pin it. Pure-Python replication of
    CentralMomentAgg.update/merge; fully deterministic given the data."""
    import struct

    register_star_views(spark, SF_CORRECT)
    con = _star_duck(SF_CORRECT, ("store_sales", "item", "store"))
    try:
        groups = con.execute(
            """SELECT list(ss_quantity ORDER BY ss_sold_date_sk, ss_ticket_number)
               FROM store_sales
               JOIN item ON ss_item_sk = i_item_sk
               JOIN store ON ss_store_sk = s_store_sk
               WHERE ss_quantity IS NOT NULL
               GROUP BY i_item_id, s_state
               ORDER BY count(*) DESC, i_item_id, s_state LIMIT 40"""
        ).fetchall()
    finally:
        con.close()
    for (qs,) in groups:
        chunks = [_welford_state(qs[i::8]) for i in range(8)]
        fwd = (0.0, 0.0, 0.0)
        for c in chunks:
            fwd = _welford_merge(fwd, c)
        rev = (0.0, 0.0, 0.0)
        for c in reversed(chunks):
            rev = _welford_merge(rev, c)
        s_fwd = (fwd[2] / (fwd[0] - 1)) ** 0.5
        s_rev = (rev[2] / (rev[0] - 1)) ** 0.5
        if struct.pack("<d", s_fwd) != struct.pack("<d", s_rev):
            return  # demonstrated on real q17 group data
    pytest.fail(
        "no q17 group exhibits merge-order sensitivity at sf0.01 — "
        "re-examine the stddev exclusion evidence"
    )


def test_excluded_reaverage_class_is_merge_order_sensitive(spark):
    """The double re-average exclusion class (v2.7 q22a/q27a): q22a's
    rollup levels re-average the inner avg(inv_quantity_on_hand) DOUBLES;
    Spark merges the sum-of-double partials in shuffle-fetch order. Over
    q22a's own inner-CTE values at sf0.01, partial sums added forward vs
    reversed differ bitwise — the re-averaged output is not
    parallelism-deterministic."""
    import struct

    register_star_views(spark, SF_CORRECT)
    con = _star_duck(SF_CORRECT, ("inventory", "date_dim", "item", "warehouse"))
    try:
        qohs = [
            r[0]
            for r in con.execute(
                """SELECT avg(inv_quantity_on_hand) AS qoh
                   FROM inventory, date_dim, item, warehouse
                   WHERE inv_date_sk = d_date_sk AND inv_item_sk = i_item_sk
                     AND inv_warehouse_sk = w_warehouse_sk
                     AND d_month_seq BETWEEN 1212 AND 1212 + 11
                   GROUP BY i_product_name, i_brand, i_class, i_category
                   ORDER BY i_product_name, qoh"""
            ).fetchall()
        ]
    finally:
        con.close()
    assert len(qohs) > 100
    for k in (5, 7, 8, 16):
        parts = [sum(qohs[i::k]) for i in range(k)]
        fwd = 0.0
        for p in parts:
            fwd += p
        rev = 0.0
        for p in reversed(parts):
            rev += p
        if struct.pack("<d", fwd) != struct.pack("<d", rev):
            return  # demonstrated on real q22a inner-CTE data
    pytest.fail(
        "no partial-sum order sensitivity in q22a's inner averages at "
        "sf0.01 — re-examine the re-average exclusion evidence"
    )

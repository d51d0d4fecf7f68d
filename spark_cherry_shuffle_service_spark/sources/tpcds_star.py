"""Deterministic TPC-DS star-schema slice derived from the TPC-H-ish
driver fixtures — the data substrate for running the reference's OWN
benchmark query texts verbatim (VERDICT r7 item 1).

The reference's executable surface is TPC-DS v1.4 query files run through
`spark.sql(queryString)` over parquet-backed temp views
(/root/reference/spark-code/code/sql/core/src/test/scala/org/apache/spark/
sql/execution/benchmark/TPCDSQueryBenchmark.scala:69-100); schemas are
TPCDSBase.scala:52-270. The reference also GENERATES its data
programmatically before querying (tpc-ds-gen/TPCDSPreparation.scala:17-25)
— this module plays that role, deriving the full 24-table star schema
(TPCDSQueryBenchmark.scala:63-67) from the
driver fixtures at whatever SF the caller is running:

- **One scan, no joins, no shuffles**: every fact column is either carried
  from lineitem (quantities, prices) or a pure md5 function of
  (l_orderkey, l_linenumber) / the ticket id — the genscale convention
  (sources/genscale.py), so regeneration is bit-identical at any
  parallelism and the generator itself scales linearly.
- **Channel split**: each lineitem row lands in exactly one of
  store (~55%) / catalog (~25%) / web (~20%) sales, so channel totals
  partition the corpus (q5's cross-channel rollup exercises all three).
- **Tickets**: a ticket (= one store visit / order) groups
  `l_orderkey // 6` — ~24 lines/ticket at every SF — and all
  visit-level attributes (customer, store, date, hdemo, addr) are md5
  functions of the ticket id, so per-ticket row counts land in the
  ranges q34/q73's `cnt BETWEEN` predicates probe at any SF.
- **Month-start skew**: ticket dates pick a uniform month, then a
  CUBED-uniform day offset (retail month-start surge), so
  `d_dom BETWEEN 1 AND 2/3` predicates (q34/q68/q73) keep realistic
  selectivity instead of 6%.
- **Dimensions are SF-invariant** (store/hd/cd/promotion/catalog_page/
  web_site/date_dim/time_dim) or fixture-derived (item <- part,
  customer/customer_address <- customer), and every literal the verbatim
  queries filter on ('ese', 'Williamson County', 'Midway', '>10000',
  d_year 1998-2003, the q15/q45 zip list, gmt_offset -5, manufact 128,
  managers 1/8/28, cd M/S/College) has matching rows by construction.

The oracle side reads the SAME parquet via DuckDB read_parquet — there is
exactly one derivation, so the differential tests engine parity, never
generator parity.
"""

from __future__ import annotations

import json
import os
import warnings
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.sources.genscale import _pick, _u, _uint

#: Root for generated star dirs; one subdir per source-fixture tag
#: (sf0.01, sf0.1, sf1 ...). The sf0.01 slice is committed to the repo so
#: the grading driver's DuckDB can resolve the oracle paths regardless of
#: execution order.
STAR_ROOT = "/root/repo/.tpcds"

#: The SF the grading driver runs correctness at; oracle SQL strings embed
#: this dir (plans/differential.py rewrites the token when `compare` runs
#: at another SF).
ORACLE_TAG = "sf0.01"

# v4 (round 9): the 7 remaining benchmark tables (inventory, warehouse,
# call_center, reason, ship_mode, income_band, web_page —
# TPCDSQueryBenchmark.scala:63-67), d_month_seq/d_quarter_seq re-anchored
# at 1900 so the corpus's `d_month_seq BETWEEN 1200 AND 1211` spans year
# 2000, TPC-DS-style item class/brand vocabulary (per-category class
# lists, syllable manufacturer names) and a 0.99..99.99 i_current_price,
# and ~4% NULL ss_addr_sk (q44's `ss_addr_sk IS NULL` cohort).
# v5: variable 2..61-day ship lag (q72/q16/q95 ship-window predicates).
# v6: GA/IL-weighted address states + 15% web return rate (q16/q95
# non-vacuous at sf0.01).
# v8: 35 reasons w/ synthetic tail descs (q93), 'Edgewood' city (q84),
# 2..90-day ship lag (q62/q99 buckets).
# v9 (round 9, batch 8 unlock): dsdgen-style i_size/i_units vocabularies +
# q41's attribute-combo plant on manufacts 738-778; 30-color wheel (adds
# pale/chiffon/purple/maroon/powder/khaki/... for q24/q54/q64/q41);
# unique i_item_desc (q65's ORDER BY tie); s_market_id spans 1-8 + a TN
# store + a '24128' store zip (q24/q1/q27/q36/q8); q8's audited zip
# triple in the address vocabulary; c_birth_country upper-cased to match
# `= upper(ca_country)` (q24); hd 'Unknown' buy potential (q91); ~6%
# store-only customers (q69's channel anti-join); ~2% NULL ss_store_sk /
# cs_ship_addr_sk / ws_ship_customer_sk (q76); 25x December-2001 return
# amounts (q49's >10000 band); and two planted ticket cohorts — A
# (tk%31==0, dated 2000-01-03 / 2000-02-01) giving 5 items exactly
# channel-balanced revenue in the q58 week, >4-a-day sale frequency
# (q23's frequent_ss_items), Feb-2000 catalog/web purchases (q23a/b) and
# no-return cross-channel (customer, item) pairs (q78); B (tk%31==7,
# dated 2000-06-15, returns forced on 2000-06-30) giving 5 items exactly
# channel-balanced return quantities in a q83 week.
# v10 (round 10): the last two plantable exclusions become non-empty —
# cohort J (tk%31==5) plants q85 via its SLOT LINE ONLY, forced web-only
# through slot_e's u_channel device (a ticket-grain or 3-channel plant
# measurably flipped q31's marginal county ratios by moving ~3% of lines
# into Q1-2000): the slot is dated 2000-03-17 with a forced return, and
# three ticket variants cycle q85's disjuncts — cdemo 51/23/37 =
# M-Advanced Degree / S-College / W-2 yr Degree by the cd formula; slot
# unit x qty = 2400x3 / 1400x7 / 3400x2 put ws_sales_price at
# 120/70/170 and net profit inside [162,180]/[220.5,245]/[153,170] for
# ANY l_discount in [0,0.1]; refund addresses pinned to new IN/WI/LA
# address plants at sks 420/430/440. Cohort K (tk%31==12) gives v2.7
# q24 matching rows (tickets at store 8 — the only s_market_id=8 store,
# zip '80348' — for customers 480/490/500 whose OWN addresses carry zip
# '80348', slot item 10 = naturally 'pale' by the color cycle, returns
# forced). Plant-robustness fixes from ADVICE r9: ship_cust_sk gets the
# same 340->341 redirect as cust (q69's catalog anti-join probes
# cs_ship_customer_sk), and %17==0 store-only customers are bumped off
# tickets in slot cohorts with natural customers (B/C/D/E/J), so forced
# catalog/web slot rows never dilute q69's store-only cohort.
_GENERATOR_VERSION = 10
MANIFEST = "_TPCDS_STAR.json"

TPCDS_TABLES = (
    "store_sales",
    "store_returns",
    "catalog_sales",
    "catalog_returns",
    "web_sales",
    "web_returns",
    "inventory",
    "date_dim",
    "time_dim",
    "item",
    "store",
    "warehouse",
    "call_center",
    "reason",
    "ship_mode",
    "income_band",
    "web_page",
    "customer",
    "customer_address",
    "customer_demographics",
    "household_demographics",
    "promotion",
    "catalog_page",
    "web_site",
)

# --- calendar -------------------------------------------------------------
_EPOCH = "1998-01-01"  # date_dim start; sales span the first 72 months
_SALE_MONTHS = 72  # 1998-01 .. 2003-12
_DATE_DIM_DAYS = 2557  # through 2004-12-31 (covers returns <= sale + 61d)
_EPOCH_SK = 2450815  # d_date_sk anchor (TPC-DS-style julian-ish offset)
#: 1997-12-28 is a Sunday: week_seq increments every Sunday, so d_day_name
#: and d_week_seq are mutually consistent.
_WEEK_ANCHOR = "1997-12-28"

# --- dimension sizes (SF-invariant; q5's ROLLUP output stays < LIMIT 100) -
_N_STORE = 12
_N_HD = 300  # 6 buy_potential x 10 dep_count x 5 vehicle_count
_N_CD = 70  # 2 gender x 5 marital x 7 education
_N_PROMO = 18
_N_CATALOG_PAGE = 20
_N_WEB_SITE = 12
_N_WEB_PAGE = 30
#: Cardinalities locked to the fact-side FK functions already emitted
#: since v1: cs/ws_warehouse_sk = ok%3+1, cs_call_center_sk = ok%4+1,
#: *_ship_mode_sk = ok%5+1, *_reason_sk = ok%35+1 (v8), hd_income_band_sk
#: = i%20+1 — the v4 dims materialize those domains.
_N_WAREHOUSE = 3
_N_CALL_CENTER = 4
_N_SHIP_MODE = 5
_N_REASON = 35  # v8: dsdgen-style synthetic tail descs; q93 probes 'reason 28'
_N_INCOME_BAND = 20
#: Inventory: weekly (item x warehouse) snapshots over the 1999-2001
#: window every inventory query in the corpus probes (q72 d_year 1999,
#: q21 2000-03+-30d, q22 month_seq 1200-1211, q37/q82-class 2000-2001).
#: Snapshot grain = items x weeks x warehouses, exactly how dsdgen
#: scales inventory; bounding the week span to the probed window keeps
#: the committed sf0.01 slice proportionate (157 weeks x n_items x 3).
_INV_WEEKS = 157
_INV_WEEK0_OFFSET = 361  # 1998-12-28, a Monday (one week before 1999)
_TICKET_ORDERS = 6  # orders merged per store visit -> ~24 lines/ticket
#: Floor below which the v10 plant keys (cohort J/K customers 480/490/500,
#: refund addresses 420/430/440) collapse under min() and q85 / v2.7 q24 go
#: structurally empty (_fact_base warns; ADVICE r10).
_V10_PLANT_MIN_CUST = 500

_STORE_NAMES = (
    "ought", "able", "ese", "ation", "eing", "bar",
    "cally", "anti", "ese", "n st", "pri", "ese",
)
#: Includes q84's 'Edgewood' (address-city literal coverage).
_CITIES = ("Midway", "Fairview", "Pleasant Hill", "Five Points", "Oak Grove", "Centerville", "Edgewood")
#: Store counties: exactly q73's IN-list (all stores match q73; 1/4 match
#: q34's Williamson-only list).
_COUNTIES = ("Williamson County", "Franklin Parish", "Bronx County", "Orange County")
#: Address counties: the store cycle PLUS q10's five PLUS q10a's (v2.7)
#: other four (ca_county is a different column than s_county — q10/q10a
#: filter addresses, q34/q73 stores).
_CA_COUNTIES = _COUNTIES + (
    "Rush County", "Toole County", "Jefferson County", "Dona Ana County", "La Porte County",
    "Walker County", "Richland County", "Gaines County", "Douglas County",
)
_STATES = (
    "CA", "WA", "GA", "TX", "NY", "FL", "IL", "OH", "PA", "MI",
    "NC", "NJ", "VA", "AZ", "MA", "TN", "IN", "MO", "MD", "WI",
)
#: Address states: the base cycle with the two states the verbatim
#: ship-window queries probe (q16 'GA', q95 'IL') over-represented
#: (~15% each) — their predicates conjoin a 60-day ship window, a
#: 1-in-3 company/county filter AND the state, and a uniform 1/20 state
#: share left q95 with ZERO qualifying orders at sf0.01 (a vacuous
#: differential). Same plant-by-construction device as the county/zip
#: vocabularies above.
_STATES_ADDR = _STATES + ("GA", "IL", "GA", "IL", "GA", "IL", "IL", "IL")
#: Includes the 9 zips q15/q45 probe with substr(ca_zip,1,5) IN (...).
#: v9 appends three of q8's audited 5-digit zips ('24128','76232',
#: '65084'); one store (gen_store) carries s_zip '24128' so q8's
#: substr(s_zip,1,2) = substr(ca_zip,1,2) join has a planted match.
_ZIPS = (
    "85669", "86197", "88274", "83405", "86475", "85392", "85460", "80348", "81792",
    "28806", "35460", "47304", "51202", "60505", "71265", "75001", "90210", "98101",
    "30301", "94105", "10001", "33101", "60601", "19101", "48201", "37201", "46201",
    "63101", "21201", "53201", "85001", "80201", "89101", "97201", "73101", "84101",
    "24128", "76232", "65084",
)
_STREETS = ("Main", "Oak", "Elm", "Maple", "Cedar", "Park", "Lake", "Hill", "River", "Sunset")
_STREET_TYPES = ("St", "Ave", "Blvd", "Ct", "Dr", "Ln", "Pkwy", "Rd", "Way", "Cir")
_FIRST_NAMES = (
    "James", "Mary", "John", "Patricia", "Robert", "Jennifer", "Michael", "Linda",
    "William", "Elizabeth", "David", "Barbara", "Richard", "Susan", "Joseph", "Jessica",
    "Thomas", "Sarah", "Charles", "Karen", "Nina", "Omar", "Priya", "Quinn",
)
_LAST_NAMES = (
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller", "Davis",
    "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez", "Wilson", "Anderson",
    "Thomas", "Taylor", "Moore", "Jackson", "Martin", "Lee", "Perez", "White", "Harris",
)
_SALUTATIONS = ("Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir")
#: v9: '501-1000' -> 'Unknown' (capitalized, the dsdgen value q91 probes
#: with LIKE 'Unknown%'); q34/q73 probe the lowercase 'unknown' and q72
#: '>10000' — all three coexist in the 6-cycle.
_BUY_POTENTIAL = (">10000", "unknown", "1001-5000", "5001-10000", "0-500", "Unknown")
_MARITAL = ("M", "S", "D", "W", "U")
_EDUCATION = (
    "Primary", "Secondary", "College", "2 yr Degree",
    "4 yr Degree", "Advanced Degree", "Unknown",
)
_CREDIT = ("Low Risk", "High Risk", "Good", "Unknown")
_CATEGORIES = (
    "Books", "Home", "Electronics", "Jewelry", "Men",
    "Music", "Shoes", "Sports", "Women", "Children",
)
#: Per-category class vocabulary (v4), aligned 1:1 with _CATEGORIES and
#: drawn from the real TPC-DS class names so the corpus's
#: (category, class) predicates — q53/q63 'personal/portable/reference/
#: self-help' + 'accessories/classical/fragrances/pants', q89
#: 'computers/stereo/football' + 'shirts/birdal/dresses' — all have
#: matching items by construction (class is an md5 pick per item, so
#: every combo within a category is populated at any SF).
_CATEGORY_CLASSES = (
    ("arts", "business", "computers", "cooking", "entertainments", "fiction",
     "history", "home repair", "mystery", "parenting", "reference", "romance",
     "science", "self-help", "sports", "travel"),  # Books
    ("accent", "bathroom", "bedding", "blinds/shades", "curtains/drapes", "decor",
     "flatware", "furniture", "glassware", "kitchen", "lighting", "mattresses",
     "paint", "rugs", "tables", "wallpaper"),  # Home
    ("audio", "automotive", "camcorders", "cameras", "disk drives",
     "dvd/vcr players", "karoke", "memory", "monitors", "musical", "personal",
     "portable", "scanners", "stereo", "televisions", "wireless"),  # Electronics
    ("birdal", "costume", "custom", "diamonds", "earings", "gold",
     "jewelry boxes", "loose stones", "mens watch", "pendants", "rings",
     "semi-precious", "womens watch"),  # Jewelry
    ("accessories", "pants", "shirts", "sports-apparel"),  # Men
    ("classical", "country", "pop", "rock"),  # Music
    ("athletic", "kids", "mens", "womens"),  # Shoes
    ("archery", "athletic shoes", "baseball", "basketball", "camping", "fishing",
     "fitness", "football", "golf", "guns", "hockey", "optics", "outdoor",
     "pools", "sailing", "tennis"),  # Sports
    ("dresses", "fragrances", "maternity", "swimwear"),  # Women
    ("infants", "newborn", "school-uniforms", "toddlers"),  # Children
)
#: dsdgen-style manufacturer-name syllables, one per digit (verified
#: against the corpus's literal brand strings: 'scholaramalgamalg' = 511,
#: 'exportiunivamalg' = 391, 'edu packscholar' = 25, 'amalgimporto' = 14).
_MANUFACT_SYL = (
    "nameless", "amalg", "edu pack", "exporti", "importo",
    "scholar", "corp", "brand", "maxi", "univ",
)
#: Planted brands (v4): the corpus probes brand IN (<literal name list>)
#: conjoined with category+class lists (q53/q63 families A and B). Brand
#: number and class are md5 picks, so a specific (manufact, #n, class)
#: triple is not otherwise guaranteed at small SF; these three manufacts
#: get a FIXED brand number + class instead — each consistent with the
#: category its k-residue implies (m=511/391 -> k%10==0 -> Books;
#: m=25 -> k%10==4 -> Men) — so every disjunct of q53/q63's predicate
#: matches rows at every SF: m=511 'scholaramalgamalg #14' ('reference',
#: q53-A), m=391 'exportiunivamalg #9' ('self-help', q53-A AND q63-A —
#: the only family-A class shared with q63's verbatim 'refernece' typo
#: list), m=25 'edu packscholar #1' ('pants', both family B).
_PLANTED_ITEMS = {511: (14, "reference"), 391: (9, "self-help"), 25: (1, "pants")}
#: v9 color wheel: keeps q56's slate/blanched/burnished and adds every
#: color the batch-8 corpus probes — pale/chiffon (q24a/b), maroon (q54),
#: purple/floral/spring (q64's IN-list), and q41's sixteen
#: (powder..ghost).
_COLORS = (
    "red", "blue", "green", "white", "black", "ivory",
    "slate", "blanched", "burnished", "pale", "chiffon", "powder",
    "khaki", "purple", "maroon", "brown", "honeydew", "floral",
    "deep", "light", "cornflower", "midnight", "snow", "cyan",
    "papaya", "orange", "frosted", "forest", "ghost", "spring",
)
#: dsdgen size/unit vocabularies (q41 probes medium/extra large/N/A/
#: small/petite/large and Ounce/Oz/Bunch/Ton/N/A/Dozen/Box/Pound/Pallet/
#: Gross/Cup/Dram/Each/Tbl/Lb/Bundle).
_SIZES = ("petite", "small", "medium", "large", "extra large", "N/A")
_UNITS = (
    "Unknown", "Each", "Dozen", "Case", "Ounce", "Oz", "Bunch",
    "Ton", "N/A", "Pound", "Pallet", "Gross", "Cup", "Dram",
    "Box", "Tbl", "Lb", "Bundle", "Tsp", "Carton", "Gram",
)
#: q41's correlated attribute-combo probe: for manufacts 738..778, Women
#: items (cat 9 <- k%10==8) get (powder, Ounce, medium) and Men items
#: (cat 5 <- k%10==4) get (floral, Dozen, petite) — each satisfies one
#: disjunct of q41's predicate, so those manufacts' product names appear
#: at every SF.
_Q41_MANUFACT_LO, _Q41_MANUFACT_HI = 738, 778


def star_dir(sf_dir: str) -> str:
    """Star output dir for a source fixture dir: keyed by its basename, so
    /root/testdata/sf0.01 and /root/repo/.genscale/sf1 get disjoint star
    slices that scale with their source lineitem."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(STAR_ROOT, tag)


def _id16(prefix: str, sk: Column) -> Column:
    """TPC-DS-style fixed-width 16-char business id."""
    return F.format_string(f"{prefix}%0{16 - len(prefix)}d", sk)


# --------------------------------------------------------------------------
# Calendar dims
# --------------------------------------------------------------------------
def gen_date_dim(spark: SparkSession) -> DataFrame:
    d = F.date_add(F.lit(_EPOCH).cast("date"), F.col("id").cast("int"))
    dow = (F.dayofweek(d) - 1).cast("int")  # 0 = Sunday
    days_in_month = F.datediff(F.add_months(F.trunc(d, "MM"), 1), F.trunc(d, "MM"))
    return spark.range(0, _DATE_DIM_DAYS, 1, 4).select(
        (F.lit(_EPOCH_SK) + F.col("id")).cast("int").alias("d_date_sk"),
        _id16("AAAAAAAA", F.lit(_EPOCH_SK) + F.col("id")).alias("d_date_id"),
        d.alias("d_date"),
        # 1900 anchor: d_month_seq 1200 = 2000-01, the exact window the
        # benchmark corpus probes with `d_month_seq BETWEEN 1200 AND 1211`
        # (q22/q38/q51/q53/q63/q67/q70/q87 and kin).
        ((F.year(d) - 1900) * 12 + F.month(d) - 1).cast("int").alias("d_month_seq"),
        (F.floor(F.datediff(d, F.lit(_WEEK_ANCHOR).cast("date")) / 7) + 5200)
        .cast("int")
        .alias("d_week_seq"),
        ((F.year(d) - 1900) * 4 + F.quarter(d) - 1).cast("int").alias("d_quarter_seq"),
        F.year(d).cast("int").alias("d_year"),
        dow.alias("d_dow"),
        F.month(d).cast("int").alias("d_moy"),
        F.dayofmonth(d).cast("int").alias("d_dom"),
        F.quarter(d).cast("int").alias("d_qoy"),
        F.year(d).cast("int").alias("d_fy_year"),
        ((F.year(d) - 1900) * 4 + F.quarter(d) - 1).cast("int").alias("d_fy_quarter_seq"),
        (F.floor(F.datediff(d, F.lit(_WEEK_ANCHOR).cast("date")) / 7) + 5200)
        .cast("int")
        .alias("d_fy_week_seq"),
        F.date_format(d, "EEEE").alias("d_day_name"),
        F.concat(F.year(d).cast("string"), F.lit("Q"), F.quarter(d).cast("string")).alias(
            "d_quarter_name"
        ),
        F.lit("N").alias("d_holiday"),
        F.when(dow.isin(0, 6), "Y").otherwise("N").alias("d_weekend"),
        F.lit("N").alias("d_following_holiday"),
        (F.lit(_EPOCH_SK) + F.col("id") - F.dayofmonth(d) + 1).cast("int").alias("d_first_dom"),
        (F.lit(_EPOCH_SK) + F.col("id") - F.dayofmonth(d) + days_in_month)
        .cast("int")
        .alias("d_last_dom"),
        (F.lit(_EPOCH_SK) + F.col("id") - 365).cast("int").alias("d_same_day_ly"),
        (F.lit(_EPOCH_SK) + F.col("id") - 91).cast("int").alias("d_same_day_lq"),
        F.lit("N").alias("d_current_day"),
        F.lit("N").alias("d_current_week"),
        F.lit("N").alias("d_current_month"),
        F.lit("N").alias("d_current_quarter"),
        F.lit("N").alias("d_current_year"),
    )


def gen_time_dim(spark: SparkSession) -> DataFrame:
    t = F.col("id").cast("int")
    hour = (t / 3600).cast("int")
    return spark.range(0, 86_400, 1, 4).select(
        t.alias("t_time_sk"),
        _id16("AAAAAAAA", t).alias("t_time_id"),
        t.alias("t_time"),
        hour.alias("t_hour"),
        ((t % 3600) / 60).cast("int").alias("t_minute"),
        (t % 60).cast("int").alias("t_second"),
        F.when(hour < 12, "AM").otherwise("PM").alias("t_am_pm"),
        F.when(hour < 8, "third").when(hour < 16, "first").otherwise("second").alias("t_shift"),
        F.when(hour % 8 < 4, "morning").otherwise("afternoon").alias("t_sub_shift"),
        F.when((hour >= 6) & (hour <= 9), "breakfast")
        .when((hour >= 11) & (hour <= 14), "lunch")
        .when((hour >= 17) & (hour <= 20), "dinner")
        .otherwise(None)
        .alias("t_meal_time"),
    )


# --------------------------------------------------------------------------
# Small SF-invariant dims
# --------------------------------------------------------------------------
def _cycle(values: tuple[str, ...], idx: Column) -> Column:
    return F.element_at(F.array(*[F.lit(v) for v in values]), (idx % len(values) + 1).cast("int"))


def gen_store(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    sk = (i + 1).cast("int")
    return spark.range(0, _N_STORE, 1, 1).select(
        sk.alias("s_store_sk"),
        _id16("AAAAAAAA", sk).alias("s_store_id"),
        F.lit("1997-03-13").cast("date").alias("s_rec_start_date"),
        F.lit(None).cast("date").alias("s_rec_end_date"),
        F.lit(None).cast("int").alias("s_closed_date_sk"),
        F.element_at(F.array(*[F.lit(v) for v in _STORE_NAMES]), sk).alias("s_store_name"),
        (200 + i * 17).cast("int").alias("s_number_employees"),
        (5_000_000 + i * 250_000).cast("int").alias("s_floor_space"),
        F.lit("8AM-8PM").alias("s_hours"),
        _cycle(_FIRST_NAMES, i).alias("s_manager"),
        # v9: span 1..8 so q24's s_market_id = 8 has a store.
        (i % 8 + 1).cast("int").alias("s_market_id"),
        F.lit("Unknown").alias("s_geography_class"),
        F.lit("growth issues dominate the market").alias("s_market_desc"),
        _cycle(_LAST_NAMES, i).alias("s_market_manager"),
        (i % 2 + 1).cast("int").alias("s_division_id"),
        F.lit("Unknown").alias("s_division_name"),
        (i % 3 + 1).cast("int").alias("s_company_id"),
        F.lit("Unknown").alias("s_company_name"),
        (i + 100).cast("string").alias("s_street_number"),
        _cycle(_STREETS, i).alias("s_street_name"),
        _cycle(_STREET_TYPES, i).alias("s_street_type"),
        F.concat(F.lit("Suite "), (i % 9 * 10).cast("string")).alias("s_suite_number"),
        _cycle(_CITIES, i).alias("s_city"),
        _cycle(_COUNTIES, i).alias("s_county"),
        # v9 plants: store 6 is TN (q1/q27/q36's s_state lists are all-TN)
        # and store 7 carries q8's '24128' zip prefix.
        F.when(i == 5, F.lit("TN")).otherwise(_cycle(_STATES, i)).alias("s_state"),
        F.when(i == 6, F.lit("24128")).otherwise(_cycle(_ZIPS, i)).alias("s_zip"),
        F.lit("United States").alias("s_country"),
        F.when(i % 2 == 0, F.lit("-5.00")).otherwise(F.lit("-6.00"))
        .cast("decimal(5,2)")
        .alias("s_gmt_offset"),
        F.lit("0.05").cast("decimal(5,2)").alias("s_tax_percentage"),
    )


def gen_household_demographics(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    return spark.range(0, _N_HD, 1, 1).select(
        (i + 1).cast("int").alias("hd_demo_sk"),
        (i % 20 + 1).cast("int").alias("hd_income_band_sk"),
        _cycle(_BUY_POTENTIAL, i).alias("hd_buy_potential"),
        ((i / 6).cast("int") % 10).cast("int").alias("hd_dep_count"),
        ((i / 60).cast("int") % 5).cast("int").alias("hd_vehicle_count"),
    )


def gen_customer_demographics(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    return spark.range(0, _N_CD, 1, 1).select(
        (i + 1).cast("int").alias("cd_demo_sk"),
        F.when(i % 2 == 0, "M").otherwise("F").alias("cd_gender"),
        _cycle(_MARITAL, (i / 2).cast("int")).alias("cd_marital_status"),
        F.element_at(
            F.array(*[F.lit(v) for v in _EDUCATION]), ((i / 10).cast("int") % 7 + 1).cast("int")
        ).alias("cd_education_status"),
        ((i % 20 + 1) * 500).cast("int").alias("cd_purchase_estimate"),
        _cycle(_CREDIT, i).alias("cd_credit_rating"),
        (i % 7).cast("int").alias("cd_dep_count"),
        ((i + 1) % 7).cast("int").alias("cd_dep_employed_count"),
        ((i + 2) % 7).cast("int").alias("cd_dep_college_count"),
    )


def gen_promotion(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    sk = (i + 1).cast("int")

    def yn(mod: int, off: int) -> Column:
        return F.when((i + off) % mod == 0, "Y").otherwise("N")

    return spark.range(0, _N_PROMO, 1, 1).select(
        sk.alias("p_promo_sk"),
        _id16("AAAAAAAA", sk).alias("p_promo_id"),
        (F.lit(_EPOCH_SK) + i * 30).cast("int").alias("p_start_date_sk"),
        (F.lit(_EPOCH_SK) + i * 30 + 60).cast("int").alias("p_end_date_sk"),
        (i % 100 + 1).cast("int").alias("p_item_sk"),
        F.lit("1000.00").cast("decimal(15,2)").alias("p_cost"),
        F.lit(1).cast("int").alias("p_response_target"),
        F.concat(F.lit("promo_"), i.cast("string")).alias("p_promo_name"),
        yn(2, 0).alias("p_channel_dmail"),
        yn(3, 0).alias("p_channel_email"),
        yn(2, 1).alias("p_channel_catalog"),
        yn(3, 1).alias("p_channel_tv"),
        yn(4, 0).alias("p_channel_radio"),
        yn(4, 2).alias("p_channel_press"),
        yn(3, 2).alias("p_channel_event"),
        yn(5, 0).alias("p_channel_demo"),
        F.lit(None).cast("string").alias("p_channel_details"),
        F.lit("Unknown").alias("p_purpose"),
        F.lit("N").alias("p_discount_active"),
    )


def gen_catalog_page(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    sk = (i + 1).cast("int")
    return spark.range(0, _N_CATALOG_PAGE, 1, 1).select(
        sk.alias("cp_catalog_page_sk"),
        _id16("AAAAAAAA", sk).alias("cp_catalog_page_id"),
        (F.lit(_EPOCH_SK) + i * 90).cast("int").alias("cp_start_date_sk"),
        (F.lit(_EPOCH_SK) + i * 90 + 90).cast("int").alias("cp_end_date_sk"),
        F.lit("DEPARTMENT").alias("cp_department"),
        (i % 5 + 1).cast("int").alias("cp_catalog_number"),
        sk.alias("cp_catalog_page_number"),
        F.concat(F.lit("catalog page "), i.cast("string")).alias("cp_description"),
        _cycle(("bi-annual", "quarterly", "monthly"), i).alias("cp_type"),
    )


def gen_web_site(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    sk = (i + 1).cast("int")
    return spark.range(0, _N_WEB_SITE, 1, 1).select(
        sk.alias("web_site_sk"),
        _id16("AAAAAAAA", sk).alias("web_site_id"),
        F.lit("1997-08-16").cast("date").alias("web_rec_start_date"),
        F.lit(None).cast("date").alias("web_rec_end_date"),
        F.concat(F.lit("site_"), (i % 4).cast("string")).alias("web_name"),
        (F.lit(_EPOCH_SK) - 100 + i).cast("int").alias("web_open_date_sk"),
        F.lit(None).cast("int").alias("web_close_date_sk"),
        F.lit("Unknown").alias("web_class"),
        _cycle(_FIRST_NAMES, i).alias("web_manager"),
        (i % 6 + 1).cast("int").alias("web_mkt_id"),
        F.lit("Unknown").alias("web_mkt_class"),
        F.lit("site market description").alias("web_mkt_desc"),
        _cycle(_LAST_NAMES, i).alias("web_market_manager"),
        (i % 3 + 1).cast("int").alias("web_company_id"),
        _cycle(("pri", "able", "ought"), i).alias("web_company_name"),
        (i + 200).cast("string").alias("web_street_number"),
        _cycle(_STREETS, i + 3).alias("web_street_name"),
        _cycle(_STREET_TYPES, i + 3).alias("web_street_type"),
        F.concat(F.lit("Suite "), (i % 9 * 10).cast("string")).alias("web_suite_number"),
        _cycle(_CITIES, i + 2).alias("web_city"),
        _cycle(_COUNTIES, i + 2).alias("web_county"),
        _cycle(_STATES, i + 2).alias("web_state"),
        _cycle(_ZIPS, i + 2).alias("web_zip"),
        F.lit("United States").alias("web_country"),
        F.lit("-5.00").cast("decimal(5,2)").alias("web_gmt_offset"),
        F.lit("0.02").cast("decimal(5,2)").alias("web_tax_percentage"),
    )


def gen_warehouse(spark: SparkSession) -> DataFrame:
    """3 warehouses — the domain cs/ws_warehouse_sk (= ok%3+1) has drawn
    from since v1 (schema: TPCDSBase.scala 'warehouse')."""
    i = F.col("id")
    sk = (i + 1).cast("int")
    return spark.range(0, _N_WAREHOUSE, 1, 1).select(
        sk.alias("w_warehouse_sk"),
        _id16("AAAAAAAA", sk).alias("w_warehouse_id"),
        F.concat(F.lit("Warehouse "), _cycle(("Conventional childr", "Important issues liv", "Doors canno"), i)).alias("w_warehouse_name"),
        (500_000 + i * 97_000).cast("int").alias("w_warehouse_sq_ft"),
        (i + 300).cast("string").alias("w_street_number"),
        _cycle(_STREETS, i + 1).alias("w_street_name"),
        _cycle(_STREET_TYPES, i + 1).alias("w_street_type"),
        F.concat(F.lit("Suite "), (i % 9 * 10).cast("string")).alias("w_suite_number"),
        _cycle(_CITIES, i + 1).alias("w_city"),
        _cycle(_COUNTIES, i + 1).alias("w_county"),
        _cycle(_STATES, i + 1).alias("w_state"),
        _cycle(_ZIPS, i + 1).alias("w_zip"),
        F.lit("United States").alias("w_country"),
        F.lit("-5.00").cast("decimal(5,2)").alias("w_gmt_offset"),
    )


def gen_call_center(spark: SparkSession) -> DataFrame:
    """4 call centers (cs_call_center_sk = ok%4+1); cc_county cycles the
    store county list so exactly one matches q16's 'Williamson County'."""
    i = F.col("id")
    sk = (i + 1).cast("int")
    return spark.range(0, _N_CALL_CENTER, 1, 1).select(
        sk.alias("cc_call_center_sk"),
        _id16("AAAAAAAA", sk).alias("cc_call_center_id"),
        F.lit("1998-01-01").cast("date").alias("cc_rec_start_date"),
        F.lit(None).cast("date").alias("cc_rec_end_date"),
        F.lit(None).cast("int").alias("cc_closed_date_sk"),
        (F.lit(_EPOCH_SK) - 200 + i * 30).cast("int").alias("cc_open_date_sk"),
        _cycle(("NY Metro", "Mid Atlantic", "North Midwest", "California"), i).alias("cc_name"),
        _cycle(("large", "medium", "small"), i).alias("cc_class"),
        (200 + i * 111).cast("int").alias("cc_employees"),
        (15_000 + i * 3_500).cast("int").alias("cc_sq_ft"),
        F.lit("8AM-8PM").alias("cc_hours"),
        _cycle(_FIRST_NAMES, i + 5).alias("cc_manager"),
        (i % 6 + 1).cast("int").alias("cc_mkt_id"),
        F.lit("Unknown").alias("cc_mkt_class"),
        F.lit("call center market description").alias("cc_mkt_desc"),
        _cycle(_LAST_NAMES, i + 5).alias("cc_market_manager"),
        (i % 2 + 1).cast("int").alias("cc_division"),
        F.lit("Unknown").alias("cc_division_name"),
        (i % 3 + 1).cast("int").alias("cc_company"),
        F.lit("Unknown").alias("cc_company_name"),
        (i + 400).cast("string").alias("cc_street_number"),
        _cycle(_STREETS, i + 2).alias("cc_street_name"),
        _cycle(_STREET_TYPES, i + 2).alias("cc_street_type"),
        F.concat(F.lit("Suite "), (i % 9 * 10).cast("string")).alias("cc_suite_number"),
        _cycle(_CITIES, i + 3).alias("cc_city"),
        _cycle(_COUNTIES, i).alias("cc_county"),
        _cycle(_STATES, i + 3).alias("cc_state"),
        _cycle(_ZIPS, i + 3).alias("cc_zip"),
        F.lit("United States").alias("cc_country"),
        F.lit("-5.00").cast("decimal(5,2)").alias("cc_gmt_offset"),
        F.lit("0.11").cast("decimal(5,2)").alias("cc_tax_percentage"),
    )


def gen_reason(spark: SparkSession) -> DataFrame:
    """35 return reasons (sr/cr/wr_reason_sk = ok%35+1): dsdgen seeds the
    first few with English phrases and fills the tail with synthetic
    'reason N' descs — which is exactly what the benchmark's literal
    predicates probe (q93: r_reason_desc = 'reason 28')."""
    i = F.col("id")
    sk = (i + 1).cast("int")
    phrases = ("Package was damaged", "Stopped working", "Did not get it on time",
               "Not the product that was ordred", "Parts missing",
               "Does not work with a product that I have", "Gift exchange")
    return spark.range(0, _N_REASON, 1, 1).select(
        sk.alias("r_reason_sk"),
        _id16("AAAAAAAA", sk).alias("r_reason_id"),
        F.when(sk <= len(phrases), _cycle(phrases, i))
        .otherwise(F.concat(F.lit("reason "), sk.cast("string")))
        .alias("r_reason_desc"),
    )


def gen_ship_mode(spark: SparkSession) -> DataFrame:
    """5 ship modes (cs/ws_ship_mode_sk = ok%5+1)."""
    i = F.col("id")
    sk = (i + 1).cast("int")
    return spark.range(0, _N_SHIP_MODE, 1, 1).select(
        sk.alias("sm_ship_mode_sk"),
        _id16("AAAAAAAA", sk).alias("sm_ship_mode_id"),
        _cycle(("EXPRESS", "NEXT DAY", "OVERNIGHT", "REGULAR", "TWO DAY"), i).alias("sm_type"),
        _cycle(("AIR", "SURFACE", "SEA"), i).alias("sm_code"),
        _cycle(("UPS", "FEDEX", "AIRBORNE", "USPS", "DHL"), i).alias("sm_carrier"),
        F.concat(F.lit("contract_"), i.cast("string")).alias("sm_contract"),
    )


def gen_income_band(spark: SparkSession) -> DataFrame:
    """20 income bands (hd_income_band_sk = i%20+1), 10k-wide."""
    i = F.col("id")
    sk = (i + 1).cast("int")
    return spark.range(0, _N_INCOME_BAND, 1, 1).select(
        sk.alias("ib_income_band_sk"),
        (i * 10_000 + 1).cast("int").alias("ib_lower_bound"),
        ((i + 1) * 10_000).cast("int").alias("ib_upper_bound"),
    )


def gen_web_page(spark: SparkSession) -> DataFrame:
    """30 web pages (ws_web_page_sk domain); wp_char_count spans
    4000..6900 so the q90-class BETWEEN 5000 AND 5200 window matches."""
    i = F.col("id")
    sk = (i + 1).cast("int")
    return spark.range(0, _N_WEB_PAGE, 1, 1).select(
        sk.alias("wp_web_page_sk"),
        _id16("AAAAAAAA", sk).alias("wp_web_page_id"),
        F.lit("1997-09-03").cast("date").alias("wp_rec_start_date"),
        F.lit(None).cast("date").alias("wp_rec_end_date"),
        (F.lit(_EPOCH_SK) - 300 + i).cast("int").alias("wp_creation_date_sk"),
        (F.lit(_EPOCH_SK) + i * 10).cast("int").alias("wp_access_date_sk"),
        F.when(i % 2 == 0, "0").otherwise("1").alias("wp_autogen_flag"),
        F.lit(None).cast("int").alias("wp_customer_sk"),
        F.concat(F.lit("http://www.foo.com/page_"), i.cast("string")).alias("wp_url"),
        _cycle(("general", "order", "welcome", "protected", "dynamic", "feedback"), i).alias("wp_type"),
        (4000 + i * 100).cast("int").alias("wp_char_count"),
        (i % 25 + 2).cast("int").alias("wp_link_count"),
        (i % 7 + 1).cast("int").alias("wp_image_count"),
        (i % 4 + 1).cast("int").alias("wp_max_ad_count"),
    )


def gen_inventory(spark: SparkSession, n_item: int) -> DataFrame:
    """Weekly (item x warehouse) snapshots, 1998-12-28 .. 2001-12-24
    (_INV_WEEKS) — pure range-decode: id -> (week, item, warehouse), the
    quantity an md5 uniform of the triple, so the table is bit-identical
    at any parallelism and scales as items x weeks x warehouses exactly
    like dsdgen's inventory. One range scan, zero joins/shuffles."""
    n_rows = _INV_WEEKS * n_item * _N_WAREHOUSE
    par = max(4, spark.sparkContext.defaultParallelism)
    i = F.col("id")
    week = (i / (n_item * _N_WAREHOUSE)).cast("int")
    item = ((i / _N_WAREHOUSE).cast("long") % n_item).cast("int")
    wh = (i % _N_WAREHOUSE).cast("int")
    return spark.range(0, n_rows, 1, par).select(
        (F.lit(_EPOCH_SK) + _INV_WEEK0_OFFSET + week * 7).cast("int").alias("inv_date_sk"),
        (item + 1).alias("inv_item_sk"),
        (wh + 1).alias("inv_warehouse_sk"),
        _uint(_u("inv_qoh", week, item, wh), 1000).cast("int").alias("inv_quantity_on_hand"),
    )


# --------------------------------------------------------------------------
# Fixture-derived dims
# --------------------------------------------------------------------------
def _manufact_name(m: Column) -> Column:
    """dsdgen-style syllable name from the decimal digits of the
    manufacturer id (1..1000): 511 -> 'scholaramalgamalg'."""
    def syl(d: Column) -> Column:
        return F.element_at(F.array(*[F.lit(v) for v in _MANUFACT_SYL]), d.cast("int") + 1)

    digit = lambda p: ((m / p).cast("int") % 10)  # noqa: E731
    return F.concat(
        F.when(m >= 1000, syl(digit(1000))).otherwise(F.lit("")),
        F.when(m >= 100, syl(digit(100))).otherwise(F.lit("")),
        F.when(m >= 10, syl(digit(10))).otherwise(F.lit("")),
        syl(m % 10),
    )


def _q41_plant(manufact: Column, cat: Column, women_v: str, men_v: str, base: Column) -> Column:
    """q41's correlated combo plant: within manufacts 738-778, Women items
    take `women_v` and Men items `men_v`; everything else keeps the
    md5-cycled base value."""
    in_range = (manufact >= _Q41_MANUFACT_LO) & (manufact <= _Q41_MANUFACT_HI)
    return (
        F.when(in_range & (cat == 9), F.lit(women_v))
        .when(in_range & (cat == 5), F.lit(men_v))
        .otherwise(base)
    )


def gen_item(part: DataFrame) -> DataFrame:
    """item <- part: i_item_sk = p_partkey + 1 (1-based, so q45's literal
    sk list 2..29 resolves); manufact/brand/category/class/manager ids are
    pure functions of the key with the densities the verbatim predicates
    probe (1000 manufacts, up to 16 brands per manufact, 100 managers, 10
    categories, per-category class lists; three planted brand/class
    triples cover q53/q63's literal brand lists — _PLANTED_ITEMS)."""
    k = F.col("p_partkey")
    sk = (k + 1).cast("int")
    manufact = (k % 1000 + 1).cast("int")
    cat = (k % 10 + 1).cast("int")
    mname = _manufact_name(manufact)

    bnum = _uint(_u("i_brandnum", k), 16).cast("int") + 1
    class_idx = None  # 0-based index into the category's class list
    for mp, (pb, pc) in _PLANTED_ITEMS.items():
        bnum = F.when(manufact == mp, pb).otherwise(bnum)
    for ci, classes in enumerate(_CATEGORY_CLASSES, start=1):
        idx = _uint(_u("i_class", k), len(classes)).cast("int")
        class_idx = idx if class_idx is None else F.when(cat == ci, idx).otherwise(class_idx)
    for mp, (pb, pc) in _PLANTED_ITEMS.items():
        planted_cat = _CATEGORY_CLASSES[(mp - 1) % 10]  # k%10 == (mp-1)%10
        class_idx = F.when(manufact == mp, planted_cat.index(pc)).otherwise(class_idx)
    # v9: item 59 (k=58, cat Women) is 'maternity' — q54's literal class.
    class_idx = F.when(k == 58, F.lit(2)).otherwise(class_idx)
    all_classes = F.array(*[F.array(*[F.lit(c) for c in cl]) for cl in _CATEGORY_CLASSES])
    class_name = F.element_at(F.element_at(all_classes, cat), class_idx + 1)
    brand_id = (manufact * 1000 + bnum).cast("int")
    return part.select(
        sk.alias("i_item_sk"),
        _id16("AAAAAAAA", sk).alias("i_item_id"),
        F.lit("1997-10-27").cast("date").alias("i_rec_start_date"),
        F.lit(None).cast("date").alias("i_rec_end_date"),
        # v9: the ' #<sk>' suffix makes descs UNIQUE per item — q65's
        # ORDER BY (s_store_name, i_item_desc) under a binding LIMIT
        # genuinely tied at rank 100 when 2000 items shared 64 p_names.
        # substr(i_item_desc, 1, 30) semantics (q14a/q23) are unchanged:
        # the first 30 chars never reach the suffix.
        F.concat(F.lit("item description "), F.col("p_name"), F.lit(" #"), sk.cast("string"))
        .alias("i_item_desc"),
        # TPC-DS-style uniform price in [0.99, 99.99] (v4): q21's BETWEEN
        # 0.99 AND 1.49 and the q37/q82-class range predicates all select
        # a real ~SF-proportional slice.
        F.when((k >= 30) & (k <= 34), F.lit(70.00))  # v9: q64's 64..79 band
        .otherwise(F.round(_u("i_price", k) * 99 + 0.99, 2))
        .cast("decimal(7,2)")
        .alias("i_current_price"),
        F.round(F.col("p_retailprice") / 40, 2).cast("decimal(7,2)").alias("i_wholesale_cost"),
        brand_id.alias("i_brand_id"),
        F.concat(mname, F.lit(" #"), bnum.cast("string")).alias("i_brand"),
        (class_idx + 1).cast("int").alias("i_class_id"),
        class_name.alias("i_class"),
        cat.alias("i_category_id"),
        F.element_at(F.array(*[F.lit(v) for v in _CATEGORIES]), cat).alias("i_category"),
        manufact.alias("i_manufact_id"),
        mname.alias("i_manufact"),
        _q41_plant(manufact, cat, "medium", "petite", _cycle(_SIZES, F.col("p_size"))).alias(
            "i_size"
        ),
        F.lit(None).cast("string").alias("i_formulation"),
        # v9 item plants: sks 31..35 are the purple 70.00 cohort-C items
        # (q64's color list + 64..79 price band); sk 59 is the maroon
        # Women item cohort H buys (q54) — its k%10==8 makes it Women.
        F.when((k >= 30) & (k <= 34), F.lit("purple"))
        .when(k == 58, F.lit("maroon"))
        .otherwise(_q41_plant(manufact, cat, "powder", "floral", _cycle(_COLORS, k)))
        .alias("i_color"),
        _q41_plant(manufact, cat, "Ounce", "Dozen", _cycle(_UNITS, k)).alias("i_units"),
        _cycle(("Unknown",), k).alias("i_container"),
        (k % 100 + 1).cast("int").alias("i_manager_id"),
        F.col("p_name").alias("i_product_name"),
    )


def gen_customer(cust: DataFrame) -> DataFrame:
    k = F.col("c_custkey")
    sk = (k + 1).cast("int")
    return cust.select(
        sk.alias("c_customer_sk"),
        _id16("AAAAAAAA", sk).alias("c_customer_id"),
        # v9 plants: customer 100 carries q91's demographics chain
        # (cd 61 = M/Unknown by the cd formula, hd 6 = 'Unknown' potential).
        F.when(k == 99, F.lit(61))
        .otherwise(_uint(_u("c_cdemo", k), _N_CD) + 1)
        .cast("int")
        .alias("c_current_cdemo_sk"),
        F.when(k == 99, F.lit(6))
        .otherwise(_uint(_u("c_hdemo", k), _N_HD) + 1)
        .cast("int")
        .alias("c_current_hdemo_sk"),
        sk.alias("c_current_addr_sk"),
        (F.lit(_EPOCH_SK) + _uint(_u("c_shipto", k), 365)).cast("int").alias(
            "c_first_shipto_date_sk"
        ),
        (F.lit(_EPOCH_SK) + _uint(_u("c_firstsale", k), 365)).cast("int").alias(
            "c_first_sales_date_sk"
        ),
        _pick(_u("c_salut", k), _SALUTATIONS).alias("c_salutation"),
        _pick(_u("c_first", k), _FIRST_NAMES).alias("c_first_name"),
        _pick(_u("c_last", k), _LAST_NAMES).alias("c_last_name"),
        F.when(_u("c_pref", k) < 0.5, "Y").otherwise("N").alias("c_preferred_cust_flag"),
        (_uint(_u("c_bday", k), 28) + 1).cast("int").alias("c_birth_day"),
        (_uint(_u("c_bmon", k), 12) + 1).cast("int").alias("c_birth_month"),
        (1924 + _uint(_u("c_byear", k), 68)).cast("int").alias("c_birth_year"),
        # v9: dsdgen stores birth countries UPPER-CASED — q24's join
        # predicate is `c_birth_country = upper(ca_country)`, which can
        # never match a mixed-case value.
        F.lit("UNITED STATES").alias("c_birth_country"),
        F.lit(None).cast("string").alias("c_login"),
        F.concat(_id16("AAAAAAAA", sk), F.lit("@example.com")).alias("c_email_address"),
        (F.lit(_EPOCH_SK) + 2000 + _uint(_u("c_review", k), 300)).cast("int").alias(
            "c_last_review_date"
        ),
    )


def gen_customer_address(cust: DataFrame) -> DataFrame:
    """One address per customer key (ca_address_sk shares the 1-based
    customer domain; ticket addr sks draw from the same domain)."""
    k = F.col("c_custkey")
    sk = (k + 1).cast("int")
    return cust.select(
        sk.alias("ca_address_sk"),
        _id16("AAAAAAAA", sk).alias("ca_address_id"),
        (_uint(_u("ca_stno", k), 900) + 100).cast("string").alias("ca_street_number"),
        _pick(_u("ca_stname", k), _STREETS).alias("ca_street_name"),
        _pick(_u("ca_sttype", k), _STREET_TYPES).alias("ca_street_type"),
        F.concat(F.lit("Suite "), (_uint(_u("ca_suite", k), 90)).cast("string")).alias(
            "ca_suite_number"
        ),
        _pick(_u("ca_city", k), _CITIES).alias("ca_city"),
        F.when(k == 199, F.lit("Williamson County"))
        # v10: addr 1 gets an EXCLUSIVE county (not in the _CA_COUNTIES
        # cycle), so q31's planted quarter-ratio county contains ONLY
        # cohort E's rows plus O(tickets/n_cust) natural noise — the
        # comparison no longer rides marginal natural ratios (the v9
        # Bronx-shared plant flipped when v10 redistributed ~1% of lines).
        .when(k == 0, F.lit("Ziebach County"))
        .otherwise(_pick(_u("ca_county", k), _CA_COUNTIES))
        .alias("ca_county"),
        F.when(k == 339, F.lit("GA"))  # v9: q69's planted store-only shopper
        .when(k == 199, F.lit("CA"))  # q54: match store 1's (county, state)
        # v10: q85's three state triples — cohort J's refund addresses
        # (sks 420/430/440) land in IN/WI/LA, one per disjunct.
        .when(k == 419, F.lit("IN"))
        .when(k == 429, F.lit("WI"))
        .when(k == 439, F.lit("LA"))
        .otherwise(_pick(_u("ca_state", k), _STATES_ADDR))
        .alias("ca_state"),
        # v10: cohort K's customers (480/490/500) live at store 8's zip
        # ('80348' = _ZIPS[7]) so v2.7 q24's own-address `s_zip = ca_zip`
        # conjunction has matching rows.
        F.when(k.isin(479, 489, 499), F.lit("80348"))
        .otherwise(_pick(_u("ca_zip", k), _ZIPS))
        .alias("ca_zip"),
        F.lit("United States").alias("ca_country"),
        F.when(k == 99, F.lit(-7.0))
        .otherwise(F.lit(-5.0) - _uint(_u("ca_gmt", k), 4))
        .cast("decimal(5,2)")
        .alias("ca_gmt_offset"),
        _pick(_u("ca_loc", k), ("apartment", "condominium", "single family")).alias(
            "ca_location_type"
        ),
    )


# --------------------------------------------------------------------------
# Fact tables: one lineitem scan, channel-partitioned
# --------------------------------------------------------------------------
def _fact_base(lineitem: DataFrame, n_cust: int) -> DataFrame:
    """The shared per-line derivation: channel, ticket-level visit
    attributes, row-level time/promo, and the DECIMAL(7,2) money ladder.
    Pure projection — no shuffle; md5 uniforms keep it deterministic at
    any parallelism (the genscale convention)."""
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    tk = (ok / _TICKET_ORDERS).cast("long")
    # ADVICE r10: both 340->341 redirects (cust and ship_cust) would emit a
    # DANGLING customer FK when n_cust == 340 exactly (341 doesn't exist) —
    # fall back to 339, mirroring the cust_nat edge bump. Below 340 the
    # redirect branch can never fire (cust_nat/ship_nat <= n_cust < 340).
    c340_redirect = 341 if n_cust != 340 else 339
    if n_cust < _V10_PLANT_MIN_CUST:
        warnings.warn(
            f"tpcds_star: n_cust={n_cust} < {_V10_PLANT_MIN_CUST}: the v10 "
            "plant customers/addresses (480/490/500, 420/430/440) collapse "
            "under min(), so q85 / v2.7 q24 go structurally empty at this "
            "fixture size (committed fixtures carry n_cust=1500)",
            stacklevel=2,
        )

    # Ticket date: uniform month over the 72-month span, cubed-uniform day
    # offset within the month (month-start surge -> d_dom 1-3 stays
    # selective-but-populated for q34/q68/q73).
    month = _uint(_u("t_month", tk), _SALE_MONTHS).cast("int")
    month_start = F.add_months(F.lit(_EPOCH).cast("date"), month)
    days_in_month = F.datediff(F.add_months(month_start, 1), month_start)
    u_dom = _u("t_dom", tk)
    dom_off = F.least(
        F.floor(u_dom * u_dom * u_dom * days_in_month).cast("int"), days_in_month - 1
    )
    sold_date = F.date_add(month_start, dom_off)
    date_sk_nat = (F.lit(_EPOCH_SK) + F.datediff(sold_date, F.lit(_EPOCH).cast("date"))).cast(
        "int"
    )

    # --- v9 planted cohorts (design note at _GENERATOR_VERSION) -----------
    # Cohort A/B tickets get fixed dates; their ln==1 lines ("slots") get a
    # fixed item (A: sks 11..15, B: 21..25) and a fixed unit
    # price/quantity, and are emitted into ALL THREE sales channels
    # (gen_store/catalog/web_sales OR the slot into their filters) — so
    # each planted item's per-channel revenue (q58) and return quantity
    # (q83) are EXACTLY equal by construction, independent of the
    # fixtures' sparse orderkey spacing. The 2-per-slot extra fact rows
    # are recorded in the manifest (n_slot_lines) for the
    # channel-partition invariant.
    import datetime as _dt

    _off = lambda y, m, d: (_dt.date(y, m, d) - _dt.date(1998, 1, 1)).days  # noqa: E731
    cohort_a = tk % 31 == 0  # q58/q23/q78: balanced 3-channel week + Feb-2000 buys
    cohort_b = tk % 31 == 7  # q83: balanced 3-channel returns on 2000-06-30
    cohort_c = tk % 31 == 14  # q29/q64: Sep-1999 / Sep-2000 sale+return pairs on purple items
    cohort_d = tk % 31 == 21  # q25: Apr-2001 sale/return/catalog window
    cohort_e = tk % 31 == 28  # q31: web-only Q1/Q2/Q3-2000 boosts in addr-1's exclusive county (v10)
    cohort_f = tk % 31 == 3  # q27: 2002 TN-store tickets with the M/S/College cdemo
    cohort_g = tk % 31 == 10  # q91: customer 100's catalog returns in Nov-1998
    cohort_h = tk % 31 == 17  # q54: customer 200 buys maroon item 59 Dec-1998, shops store 1 Feb-1999
    cohort_i = tk % 31 == 24  # q69: customer 340 (17-divisible -> store-only) shops May-2001 from GA
    cohort_j = tk % 31 == 5  # q85: year-2000 web returns cycling the three disjuncts (v10)
    cohort_k = tk % 31 == 12  # v2.7 q24: store-8 pale-item returns for own-zip customers (v10)
    #: three-way ticket variant shared by the v10 cohorts (J: which q85
    #: disjunct; K: which planted customer).
    j_variant = (F.floor(tk / 31) % 3).cast("int")
    slot = ln == 1
    slot_a, slot_b = cohort_a & slot, cohort_b & slot
    slot_c, slot_d, slot_e = cohort_c & slot, cohort_d & slot, cohort_e & slot
    a_group = F.floor(tk / 31) % 2 == 0
    slot_g = cohort_g & slot
    slot_h = cohort_h & slot & a_group  # only the Dec-1998 group plants item 59
    # slot_j is WEB-ONLY (slot_e's u_channel device, not the 3-channel
    # fan): q85 needs exactly one web sale+return row per ticket, and a
    # ticket-grain or 3-channel plant would move ~3% of all lines into
    # Q1-2000 — measured to flip q31's marginal county ratio comparison.
    slot_j, slot_k = cohort_j & slot, cohort_k & slot
    # emitted into ALL 3 channels:
    slot_sales = slot_a | slot_b | slot_c | slot_d | slot_g | slot_h | slot_k
    slot_ret = slot_b | slot_c | slot_d | slot_g | slot_k  # returns forced on
    date_sk = (
        F.when(cohort_a & a_group, F.lit(_EPOCH_SK + _off(2000, 1, 3)))  # q58 week
        .when(cohort_a, F.lit(_EPOCH_SK + _off(2000, 2, 1)))  # q23's d_moy = 2
        .when(cohort_b, F.lit(_EPOCH_SK + _off(2000, 6, 15)))
        .when(cohort_c & a_group, F.lit(_EPOCH_SK + _off(1999, 9, 15)))  # q29
        .when(cohort_c, F.lit(_EPOCH_SK + _off(2000, 9, 15)))  # q64's 1999+1 twin
        .when(cohort_d, F.lit(_EPOCH_SK + _off(2001, 4, 15)))
        # v10: cohort E spans ALL THREE of q31's quarters (v9 covered
        # Q2/Q3 only and leaned on natural Q1 ratios); the per-variant
        # slot boosts below force the web ratios.
        .when(
            cohort_e,
            F.element_at(
                F.array(
                    F.lit(_EPOCH_SK + _off(2000, 2, 15)),  # Q1
                    F.lit(_EPOCH_SK + _off(2000, 5, 15)),  # Q2
                    F.lit(_EPOCH_SK + _off(2000, 8, 15)),  # Q3
                ),
                j_variant + 1,
            ),
        )
        .when(cohort_f, F.lit(_EPOCH_SK + _off(2002, 3, 15)))
        .when(cohort_g, F.lit(_EPOCH_SK + _off(1998, 10, 20)))
        .when(cohort_h & a_group, F.lit(_EPOCH_SK + _off(1998, 12, 10)))  # q54 buy month
        .when(cohort_h, F.lit(_EPOCH_SK + _off(1999, 2, 10)))  # q54 revenue window
        .when(cohort_i, F.lit(_EPOCH_SK + _off(2001, 5, 15)))
        .when(slot_j, F.lit(_EPOCH_SK + _off(2000, 3, 17)))  # q85's d_year = 2000 (slot line only)
        .otherwise(date_sk_nat)
        .cast("int")
    )
    # December-2001 returns are scaled 25x so q49's `*_return_amt > 10000`
    # band is populated (capped at 90000 in _returns_money).
    ret_scale = F.when(
        date_sk.between(_EPOCH_SK + _off(2001, 12, 1), _EPOCH_SK + _off(2001, 12, 31)),
        F.lit(25),
    ).otherwise(F.lit(1))
    plant_item = (
        F.when(slot_a, 11 + F.floor(tk / 31) % 5)
        .when(slot_b, 21 + F.floor(tk / 31) % 5)
        .when(slot_c, 31 + F.floor(tk / 31) % 5)
        .when(slot_d, 41 + F.floor(tk / 31) % 5)
        .when(slot_h, F.lit(59))  # the planted maroon Women item (q54)
        .when(slot_k, F.lit(10))  # v10: the naturally-pale item (_COLORS[9], v2.7 q24)
        .otherwise(F.col("l_partkey") + 1)  # slot_g/slot_j keep their natural item
        .cast("int")
    )

    any_slot = slot_sales | slot_e
    # v10 cohort J: per-variant unit x qty put ws_sales_price (unit/20)
    # and ws_net_profit (margin = unit/40 per piece minus <=5% coupon)
    # inside q85's band pairs for every l_discount in [0, 0.1]:
    # 2400x3 -> price 120 in [100,150], profit [162,180] in [100,200];
    # 1400x7 -> price 70 in [50,100], profit [220.5,245] in [150,300];
    # 3400x2 -> price 170 in [150,200], profit [153,170] in [50,250].
    j_unit = F.element_at(F.array(F.lit(2400.0), F.lit(1400.0), F.lit(3400.0)), j_variant + 1)
    j_qty = F.element_at(F.array(F.lit(3), F.lit(7), F.lit(2)), j_variant + 1)
    unit = (
        F.when(slot_j, j_unit)
        # v10: slot_e boosts carry unit 10000 so the web quarter sums of
        # the exclusive plant county are boost-dominated (ext_list =
        # 625*90 = 56250 stays inside DECIMAL(7,2)).
        .when(slot_e, F.lit(10000.0))
        .when(any_slot, F.lit(2000.0))
        .otherwise(F.col("l_extendedprice") / F.col("l_quantity"))  # 900..2100
    )
    # slot_e quantities 5/30/90 by quarter variant: the plant county's
    # web sums are dominated by the boosts (unit 10000 -> 2500/15000/
    # 45000 ext per slot row vs ~1300 natural), so web q1->q2 and
    # q2->q3 land near 2.4-3x while its store ratios stay natural (~1)
    # — q31's double comparisons hold with >=1.7x margin by
    # construction, at any SF (boost and natural mass both scale with
    # ticket count).
    qty = (
        F.when(slot_j, j_qty)
        .when(slot_e, F.element_at(F.array(F.lit(5), F.lit(30), F.lit(90)), j_variant + 1))
        .when(any_slot, F.lit(30))
        .otherwise(F.col("l_quantity"))
        .cast("int")
    )
    sales_price = F.round(unit / 20, 2).cast("decimal(7,2)")
    list_price = F.round(unit / 16, 2).cast("decimal(7,2)")
    wholesale = F.round(unit / 40, 2).cast("decimal(7,2)")
    ext_sales = (sales_price * qty).cast("decimal(7,2)")
    ext_list = (list_price * qty).cast("decimal(7,2)")
    ext_wholesale = (wholesale * qty).cast("decimal(7,2)")
    ext_discount = F.round(ext_sales * F.col("l_discount"), 2).cast("decimal(7,2)")
    coupon = F.round(ext_discount / 2, 2).cast("decimal(7,2)")
    ext_tax = F.round(ext_sales * F.col("l_tax"), 2).cast("decimal(7,2)")
    net_paid = (ext_sales - coupon).cast("decimal(7,2)")
    ext_ship = F.round(ext_sales * 0.05, 2).cast("decimal(7,2)")

    # v9: ~6% of customers are store-only (q69's web/catalog anti-join has
    # matching customers by construction). Cohorts G/H pin their tickets
    # to the planted customers 100 / 200 (q91's demographics chain, q54's
    # Williamson shopper) — min() guards tiny fixture SFs.
    cust_nat = _uint(_u("t_cust", tk), n_cust) + 1
    # ADVICE r9: slot cohorts with NATURAL customers (B/C/D/E/J) emit
    # forced catalog/web rows; bump a %17==0 (store-only, q69) customer
    # off those tickets so the store-only cohort stays store-only. The
    # n_cust edge falls back to -1 (n_cust-1 is never 17-divisible when
    # n_cust is).
    natural_slot_cohort = cohort_b | cohort_c | cohort_d | cohort_e | cohort_j
    cust_nat = F.when(
        natural_slot_cohort & (cust_nat % 17 == 0),
        F.when(cust_nat == n_cust, cust_nat - 1).otherwise(cust_nat + 1),
    ).otherwise(cust_nat)
    # v10 cohort K: the three own-zip-80348 customers (v2.7 q24).
    k_cust = F.element_at(
        F.array(F.lit(min(480, n_cust)), F.lit(min(490, n_cust)), F.lit(min(500, n_cust))),
        j_variant + 1,
    )
    cust = (
        F.when(cohort_a, F.lit(min(400, n_cust)))
        .when(cohort_g, F.lit(min(100, n_cust)))
        .when(cohort_h, F.lit(min(200, n_cust)))
        .when(cohort_i, F.lit(min(340, n_cust)))
        .when(cohort_k, k_cust)
        # customer 340 belongs to cohort I alone: a natural ticket could
        # otherwise hand it catalog/web lines inside q69's probed window
        # (cohort D is dated 2001-04-15) and break the NOT EXISTS.
        .when(cust_nat == 340, F.lit(c340_redirect))
        .otherwise(cust_nat)
        .cast("int")
    )
    u_channel = (
        F.when(slot_e | slot_j, F.lit(0.9))  # web-only boost/plant lines
        .when(cust % 17 == 0, _u("channel", ok, ln) * 0.54)
        .otherwise(_u("channel", ok, ln))
    )
    return lineitem.select(
        ok.alias("ok"),
        ln.alias("ln"),
        tk.alias("ticket"),
        slot_sales.alias("slot_sales"),
        slot_ret.alias("slot_ret"),
        u_channel.alias("u_channel"),
        F.when(slot_sales, plant_item)
        .otherwise((F.col("l_partkey") + 1).cast("int"))
        .alias("item_sk"),
        date_sk.alias("date_sk"),
        (F.lit(28_800) + _uint(_u("time", ok, ln), 50_400)).cast("int").alias("time_sk"),
        cust.alias("cust_sk"),
        # ADVICE r9: ship_cust gets the same 340->341 redirect as cust —
        # q69's catalog anti-join probes cs_ship_customer_sk, so a natural
        # ship assignment could otherwise vacate the store-only plant.
        F.when(_uint(_u("t_shipcust", tk), n_cust) + 1 == 340, F.lit(c340_redirect))
        .otherwise(_uint(_u("t_shipcust", tk), n_cust) + 1)
        .cast("int")
        .alias("ship_cust_sk"),
        F.when(cohort_f, F.lit(23))
        # v10 slot J: q85's three (marital, education) pairs — cd 51 =
        # M/'Advanced Degree', cd 23 = S/'College', cd 37 = W/'2 yr
        # Degree' by the gen_customer_demographics formula.
        .when(slot_j, F.element_at(F.array(F.lit(51), F.lit(23), F.lit(37)), j_variant + 1))
        .otherwise(_uint(_u("t_cdemo", tk), _N_CD) + 1)
        .cast("int")
        .alias("cdemo_sk"),
        (_uint(_u("t_hdemo", tk), _N_HD) + 1).cast("int").alias("hdemo_sk"),
        # v10: ALL cohort E lines sit at addr 1 (the exclusive plant
        # county needs store-channel presence in every probed quarter,
        # which the tickets' natural-channel lines provide).
        F.when(cohort_e, F.lit(1))
        # v10 slot J: refund addresses in IN/WI/LA (the gen_customer_address pins).
        .when(
            slot_j,
            F.element_at(
                F.array(
                    F.lit(min(420, n_cust)), F.lit(min(430, n_cust)), F.lit(min(440, n_cust))
                ),
                j_variant + 1,
            ),
        )
        .otherwise(_uint(_u("t_addr", tk), n_cust) + 1)
        .cast("int")
        .alias("addr_sk"),
        F.when(cohort_f, F.lit(6))
        .when(cohort_h & ~a_group, F.lit(1))
        .when(cohort_k, F.lit(8))  # v10: the s_market_id = 8 store (v2.7 q24)
        .otherwise(_uint(_u("t_store", tk), _N_STORE) + 1)
        .cast("int")
        .alias("store_sk"),
        (_uint(_u("promo", ok, ln), _N_PROMO) + 1).cast("int").alias("promo_sk"),
        (_uint(_u("cpage", ok, ln), _N_CATALOG_PAGE) + 1).cast("int").alias("page_sk"),
        (_uint(_u("t_wsite", tk), _N_WEB_SITE) + 1).cast("int").alias("site_sk"),
        (_uint(_u("wpage", ok, ln), _N_WEB_PAGE) + 1).cast("int").alias("wpage_sk"),
        qty.alias("qty"),
        wholesale.alias("wholesale"),
        list_price.alias("list_price"),
        sales_price.alias("sales_price"),
        ext_discount.alias("ext_discount"),
        ext_sales.alias("ext_sales"),
        ext_wholesale.alias("ext_wholesale"),
        ext_list.alias("ext_list"),
        ext_tax.alias("ext_tax"),
        coupon.alias("coupon"),
        ext_ship.alias("ext_ship"),
        net_paid.alias("net_paid"),
        (net_paid + ext_tax).cast("decimal(7,2)").alias("net_paid_inc_tax"),
        (net_paid + ext_ship).cast("decimal(7,2)").alias("net_paid_inc_ship"),
        (net_paid + ext_ship + ext_tax).cast("decimal(7,2)").alias("net_paid_inc_ship_tax"),
        (net_paid - ext_wholesale).cast("decimal(7,2)").alias("net_profit"),
        # Ship lag 2..90 days (dsdgen-style): q72's `d3.d_date >
        # d1.d_date + 5 days`, q16/q94/q95's 60-day ship windows, and
        # q62/q99's 31-60/61-90 day buckets all select real slices (a
        # constant lag made q72 vacuously empty; a 61-day cap left
        # q62/q99's 61-90 bucket near-empty).
        (date_sk + 2 + _uint(_u("shipdelta", ok, ln), 89)).cast("int").alias("ship_date_sk"),
        # Cohort A slots never return (q78's no-return cross-channel
        # pairs); cohort B slots always return, on 2000-06-30 (q83's
        # probed week), 15 days after their forced sale date.
        F.when(slot_a, F.lit(0.99))
        .when(slot_ret | slot_j, F.lit(0.0))  # slot_j: web-only forced return (q85)
        .otherwise(_u("ret", ok, ln))
        .alias("u_return"),
        F.when(slot_b, F.lit(_EPOCH_SK + _off(2000, 6, 30)))
        .when(slot_g, F.lit(_EPOCH_SK + _off(1998, 11, 15)))
        .otherwise(date_sk + 1 + _uint(_u("retdelta", ok, ln), 60))
        .cast("int")
        .alias("ret_date_sk"),
        (F.lit(28_800) + _uint(_u("rettime", ok, ln), 50_400)).cast("int").alias("ret_time_sk"),
        (F.floor(qty / 2) + 1).cast("int").alias("ret_qty"),
        ret_scale.alias("ret_scale"),
    )


def _returns_money(df: DataFrame) -> DataFrame:
    # ret_scale (v9) is 25 for December-2001 returns (q49's >10000 band);
    # cap at 90000 so amt and its +tax/+fee derivatives stay inside
    # DECIMAL(7,2) for any fixture unit price.
    amt = F.least(
        (F.col("sales_price") * F.col("ret_qty") * F.col("ret_scale")).cast("decimal(9,2)"),
        F.lit("90000.00").cast("decimal(9,2)"),
    ).cast("decimal(7,2)")
    tax = F.round(amt * F.lit(0.05), 2).cast("decimal(7,2)")
    fee = F.lit("5.00").cast("decimal(7,2)")
    ship = F.round(amt * F.lit(0.04), 2).cast("decimal(7,2)")
    cash = F.round(amt * F.lit(0.7), 2).cast("decimal(7,2)")
    return df.select(
        "*",
        amt.alias("r_amt"),
        tax.alias("r_tax"),
        (amt + tax).cast("decimal(7,2)").alias("r_amt_inc_tax"),
        fee.alias("r_fee"),
        ship.alias("r_ship"),
        cash.alias("r_cash"),
        (amt - cash).cast("decimal(7,2)").alias("r_reversed"),
        F.lit("0.00").cast("decimal(7,2)").alias("r_credit"),
        (F.round(amt * F.lit(0.1), 2) + fee).cast("decimal(7,2)").alias("r_loss"),
    )


def gen_store_sales(base: DataFrame) -> DataFrame:
    b = base.filter((F.col("u_channel") < 0.55) | F.col("slot_sales"))
    # ~4% line-grain NULL addresses, dsdgen-style (v4): q44's comparison
    # cohort is `ss_store_sk = 4 AND ss_addr_sk IS NULL`.
    addr = F.when(_u("ss_addrnull", F.col("ok"), F.col("ln")) < 0.04, F.lit(None)).otherwise(
        F.col("addr_sk")
    ).cast("int")
    # ~2% NULL stores (v9): q76's `ss_store_sk IS NULL` channel.
    store = F.when(_u("ss_storenull", F.col("ok"), F.col("ln")) < 0.02, F.lit(None)).otherwise(
        F.col("store_sk")
    ).cast("int")
    return b.select(
        F.col("date_sk").alias("ss_sold_date_sk"),
        F.col("time_sk").alias("ss_sold_time_sk"),
        F.col("item_sk").alias("ss_item_sk"),
        F.col("cust_sk").alias("ss_customer_sk"),
        F.col("cdemo_sk").alias("ss_cdemo_sk"),
        F.col("hdemo_sk").alias("ss_hdemo_sk"),
        addr.alias("ss_addr_sk"),
        store.alias("ss_store_sk"),
        F.col("promo_sk").alias("ss_promo_sk"),
        F.col("ticket").cast("int").alias("ss_ticket_number"),
        F.col("qty").alias("ss_quantity"),
        F.col("wholesale").alias("ss_wholesale_cost"),
        F.col("list_price").alias("ss_list_price"),
        F.col("sales_price").alias("ss_sales_price"),
        F.col("ext_discount").alias("ss_ext_discount_amt"),
        F.col("ext_sales").alias("ss_ext_sales_price"),
        F.col("ext_wholesale").alias("ss_ext_wholesale_cost"),
        F.col("ext_list").alias("ss_ext_list_price"),
        F.col("ext_tax").alias("ss_ext_tax"),
        F.col("coupon").alias("ss_coupon_amt"),
        F.col("net_paid").alias("ss_net_paid"),
        F.col("net_paid_inc_tax").alias("ss_net_paid_inc_tax"),
        F.col("net_profit").alias("ss_net_profit"),
    )


def gen_store_returns(base: DataFrame) -> DataFrame:
    b = _returns_money(
        base.filter(
            ((F.col("u_channel") < 0.55) & (F.col("u_return") < 0.1)) | F.col("slot_ret")
        )
    )
    return b.select(
        F.col("ret_date_sk").cast("bigint").alias("sr_returned_date_sk"),
        F.col("ret_time_sk").cast("bigint").alias("sr_return_time_sk"),
        F.col("item_sk").cast("bigint").alias("sr_item_sk"),
        F.col("cust_sk").cast("bigint").alias("sr_customer_sk"),
        F.col("cdemo_sk").cast("bigint").alias("sr_cdemo_sk"),
        F.col("hdemo_sk").cast("bigint").alias("sr_hdemo_sk"),
        F.col("addr_sk").cast("bigint").alias("sr_addr_sk"),
        F.col("store_sk").cast("bigint").alias("sr_store_sk"),
        (F.col("ok") % _N_REASON + 1).cast("bigint").alias("sr_reason_sk"),
        F.col("ticket").cast("bigint").alias("sr_ticket_number"),
        F.col("ret_qty").alias("sr_return_quantity"),
        F.col("r_amt").alias("sr_return_amt"),
        F.col("r_tax").alias("sr_return_tax"),
        F.col("r_amt_inc_tax").alias("sr_return_amt_inc_tax"),
        F.col("r_fee").alias("sr_fee"),
        F.col("r_ship").alias("sr_return_ship_cost"),
        F.col("r_cash").alias("sr_refunded_cash"),
        F.col("r_reversed").alias("sr_reversed_charge"),
        F.col("r_credit").alias("sr_store_credit"),
        F.col("r_loss").alias("sr_net_loss"),
    )


def gen_catalog_sales(base: DataFrame) -> DataFrame:
    b = base.filter(
        ((F.col("u_channel") >= 0.55) & (F.col("u_channel") < 0.80)) | F.col("slot_sales")
    )
    return b.select(
        F.col("date_sk").alias("cs_sold_date_sk"),
        F.col("time_sk").alias("cs_sold_time_sk"),
        F.col("ship_date_sk").alias("cs_ship_date_sk"),
        F.col("cust_sk").alias("cs_bill_customer_sk"),
        F.col("cdemo_sk").alias("cs_bill_cdemo_sk"),
        F.col("hdemo_sk").alias("cs_bill_hdemo_sk"),
        F.col("addr_sk").alias("cs_bill_addr_sk"),
        F.col("ship_cust_sk").alias("cs_ship_customer_sk"),
        F.col("cdemo_sk").alias("cs_ship_cdemo_sk"),
        F.col("hdemo_sk").alias("cs_ship_hdemo_sk"),
        # ~2% NULL ship addresses (v9): q76's catalog channel.
        F.when(_u("cs_shipaddrnull", F.col("ok"), F.col("ln")) < 0.02, F.lit(None))
        .otherwise(F.col("addr_sk"))
        .cast("int")
        .alias("cs_ship_addr_sk"),
        (F.col("ok") % 4 + 1).cast("int").alias("cs_call_center_sk"),
        F.col("page_sk").alias("cs_catalog_page_sk"),
        (F.col("ok") % 5 + 1).cast("int").alias("cs_ship_mode_sk"),
        (F.col("ok") % 3 + 1).cast("int").alias("cs_warehouse_sk"),
        F.col("item_sk").alias("cs_item_sk"),
        F.col("promo_sk").alias("cs_promo_sk"),
        F.col("ticket").cast("int").alias("cs_order_number"),
        F.col("qty").alias("cs_quantity"),
        F.col("wholesale").alias("cs_wholesale_cost"),
        F.col("list_price").alias("cs_list_price"),
        F.col("sales_price").alias("cs_sales_price"),
        F.col("ext_discount").alias("cs_ext_discount_amt"),
        F.col("ext_sales").alias("cs_ext_sales_price"),
        F.col("ext_wholesale").alias("cs_ext_wholesale_cost"),
        F.col("ext_list").alias("cs_ext_list_price"),
        F.col("ext_tax").alias("cs_ext_tax"),
        F.col("coupon").alias("cs_coupon_amt"),
        F.col("ext_ship").alias("cs_ext_ship_cost"),
        F.col("net_paid").alias("cs_net_paid"),
        F.col("net_paid_inc_tax").alias("cs_net_paid_inc_tax"),
        F.col("net_paid_inc_ship").alias("cs_net_paid_inc_ship"),
        F.col("net_paid_inc_ship_tax").alias("cs_net_paid_inc_ship_tax"),
        F.col("net_profit").alias("cs_net_profit"),
    )


def gen_catalog_returns(base: DataFrame) -> DataFrame:
    b = _returns_money(
        base.filter(
            ((F.col("u_channel") >= 0.55) & (F.col("u_channel") < 0.80) & (F.col("u_return") < 0.1))
            | F.col("slot_ret")
        )
    )
    return b.select(
        F.col("ret_date_sk").alias("cr_returned_date_sk"),
        F.col("ret_time_sk").alias("cr_returned_time_sk"),
        F.col("item_sk").alias("cr_item_sk"),
        F.col("cust_sk").alias("cr_refunded_customer_sk"),
        F.col("cdemo_sk").alias("cr_refunded_cdemo_sk"),
        F.col("hdemo_sk").alias("cr_refunded_hdemo_sk"),
        F.col("addr_sk").alias("cr_refunded_addr_sk"),
        F.col("cust_sk").alias("cr_returning_customer_sk"),
        F.col("cdemo_sk").alias("cr_returning_cdemo_sk"),
        F.col("hdemo_sk").alias("cr_returning_hdemo_sk"),
        F.col("addr_sk").alias("cr_returning_addr_sk"),
        (F.col("ok") % 4 + 1).cast("int").alias("cr_call_center_sk"),
        F.col("page_sk").alias("cr_catalog_page_sk"),
        (F.col("ok") % 5 + 1).cast("int").alias("cr_ship_mode_sk"),
        (F.col("ok") % 3 + 1).cast("int").alias("cr_warehouse_sk"),
        (F.col("ok") % _N_REASON + 1).cast("int").alias("cr_reason_sk"),
        F.col("ticket").cast("int").alias("cr_order_number"),
        F.col("ret_qty").alias("cr_return_quantity"),
        F.col("r_amt").alias("cr_return_amount"),
        F.col("r_tax").alias("cr_return_tax"),
        F.col("r_amt_inc_tax").alias("cr_return_amt_inc_tax"),
        F.col("r_fee").alias("cr_fee"),
        F.col("r_ship").alias("cr_return_ship_cost"),
        F.col("r_cash").alias("cr_refunded_cash"),
        F.col("r_reversed").alias("cr_reversed_charge"),
        F.col("r_credit").alias("cr_store_credit"),
        F.col("r_loss").alias("cr_net_loss"),
    )


def gen_web_sales(base: DataFrame) -> DataFrame:
    b = base.filter((F.col("u_channel") >= 0.80) | F.col("slot_sales"))
    return b.select(
        F.col("date_sk").alias("ws_sold_date_sk"),
        F.col("time_sk").alias("ws_sold_time_sk"),
        F.col("ship_date_sk").alias("ws_ship_date_sk"),
        F.col("item_sk").alias("ws_item_sk"),
        F.col("cust_sk").alias("ws_bill_customer_sk"),
        F.col("cdemo_sk").alias("ws_bill_cdemo_sk"),
        F.col("hdemo_sk").alias("ws_bill_hdemo_sk"),
        F.col("addr_sk").alias("ws_bill_addr_sk"),
        # ~2% NULL ship customers (v9): q76's web channel.
        F.when(_u("ws_shipcustnull", F.col("ok"), F.col("ln")) < 0.02, F.lit(None))
        .otherwise(F.col("ship_cust_sk"))
        .cast("int")
        .alias("ws_ship_customer_sk"),
        F.col("cdemo_sk").alias("ws_ship_cdemo_sk"),
        F.col("hdemo_sk").alias("ws_ship_hdemo_sk"),
        F.col("addr_sk").alias("ws_ship_addr_sk"),
        F.col("wpage_sk").alias("ws_web_page_sk"),
        F.col("site_sk").alias("ws_web_site_sk"),
        (F.col("ok") % 5 + 1).cast("int").alias("ws_ship_mode_sk"),
        (F.col("ok") % 3 + 1).cast("int").alias("ws_warehouse_sk"),
        F.col("promo_sk").alias("ws_promo_sk"),
        F.col("ticket").cast("int").alias("ws_order_number"),
        F.col("qty").alias("ws_quantity"),
        F.col("wholesale").alias("ws_wholesale_cost"),
        F.col("list_price").alias("ws_list_price"),
        F.col("sales_price").alias("ws_sales_price"),
        F.col("ext_discount").alias("ws_ext_discount_amt"),
        F.col("ext_sales").alias("ws_ext_sales_price"),
        F.col("ext_wholesale").alias("ws_ext_wholesale_cost"),
        F.col("ext_list").alias("ws_ext_list_price"),
        F.col("ext_tax").alias("ws_ext_tax"),
        F.col("coupon").alias("ws_coupon_amt"),
        F.col("ext_ship").alias("ws_ext_ship_cost"),
        F.col("net_paid").alias("ws_net_paid"),
        F.col("net_paid_inc_tax").alias("ws_net_paid_inc_tax"),
        F.col("net_paid_inc_ship").alias("ws_net_paid_inc_ship"),
        F.col("net_paid_inc_ship_tax").alias("ws_net_paid_inc_ship_tax"),
        F.col("net_profit").alias("ws_net_profit"),
    )


def gen_web_returns(base: DataFrame) -> DataFrame:
    """wr_item_sk/wr_order_number match the web_sales rows they return, so
    q5's `web_returns LEFT OUTER JOIN web_sales ON (wr_item_sk = ws_item_sk
    AND wr_order_number = ws_order_number)` resolves the originating
    site. Web return rate is 15% (vs 10% store/catalog) — realistic, and
    it keeps q95's `order IN (returned orders)` conjunction non-vacuous
    at sf0.01 (~54% of ~5-line web orders have >=1 return)."""
    b = _returns_money(
        base.filter(
            ((F.col("u_channel") >= 0.80) & (F.col("u_return") < 0.15)) | F.col("slot_ret")
        )
    )
    return b.select(
        F.col("ret_date_sk").cast("bigint").alias("wr_returned_date_sk"),
        F.col("ret_time_sk").cast("bigint").alias("wr_returned_time_sk"),
        F.col("item_sk").cast("bigint").alias("wr_item_sk"),
        F.col("cust_sk").cast("bigint").alias("wr_refunded_customer_sk"),
        F.col("cdemo_sk").cast("bigint").alias("wr_refunded_cdemo_sk"),
        F.col("hdemo_sk").cast("bigint").alias("wr_refunded_hdemo_sk"),
        F.col("addr_sk").cast("bigint").alias("wr_refunded_addr_sk"),
        F.col("cust_sk").cast("bigint").alias("wr_returning_customer_sk"),
        F.col("cdemo_sk").cast("bigint").alias("wr_returning_cdemo_sk"),
        F.col("hdemo_sk").cast("bigint").alias("wr_returning_hdemo_sk"),
        F.col("addr_sk").cast("bigint").alias("wr_returning_addr_sk"),
        F.col("wpage_sk").cast("bigint").alias("wr_web_page_sk"),
        (F.col("ok") % _N_REASON + 1).cast("bigint").alias("wr_reason_sk"),
        F.col("ticket").cast("bigint").alias("wr_order_number"),
        F.col("ret_qty").alias("wr_return_quantity"),
        F.col("r_amt").alias("wr_return_amt"),
        F.col("r_tax").alias("wr_return_tax"),
        F.col("r_amt_inc_tax").alias("wr_return_amt_inc_tax"),
        F.col("r_fee").alias("wr_fee"),
        F.col("r_ship").alias("wr_return_ship_cost"),
        F.col("r_cash").alias("wr_refunded_cash"),
        F.col("r_reversed").alias("wr_reversed_charge"),
        F.col("r_credit").alias("wr_account_credit"),
        F.col("r_loss").alias("wr_net_loss"),
    )


# --------------------------------------------------------------------------
# Orchestration
# --------------------------------------------------------------------------
def generate_star(spark: SparkSession, sf_dir: str, force: bool = False) -> dict:
    """Write the 24-table star slice for `sf_dir`'s fixtures; idempotent
    via manifest (same shape as sources/genscale.py). Facts are multi-file
    parquet dirs (scan parallelism); dims are single-file."""
    out_dir = star_dir(sf_dir)
    manifest_path = os.path.join(out_dir, MANIFEST)
    from spark_cherry_shuffle_service_spark.sources.catalog import parquet_rows, table

    n_lines, n_cust, n_part = (
        parquet_rows(os.path.join(sf_dir, f"{t}.parquet")) for t in ("lineitem", "customer", "part")
    )
    want = {
        "version": _GENERATOR_VERSION,
        "sf_dir": sf_dir,
        "n_lineitem": n_lines,
        "n_customer": n_cust,
        "n_part": n_part,
    }
    if not force and os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            have = json.load(fh)
        if {k: have.get(k) for k in want} == want:
            return have
        # Basename-collision guard (ADVICE r8): star_dir keys by basename,
        # so a DIFFERENT fixture dir that happens to share one (e.g. any
        # regenerated dir also named sf0.01) would silently overwrite this
        # slice — and if that slice is the committed ORACLE_TAG substrate,
        # a concurrent DuckDB oracle read could momentarily see different
        # data than the Spark side. Refuse; force=True overrides.
        have_src = have.get("sf_dir")
        if have_src and os.path.realpath(have_src) != os.path.realpath(sf_dir):
            raise RuntimeError(
                f"star dir {out_dir} was generated from {have_src!r} but "
                f"{sf_dir!r} now requests it (basename collision) — refusing "
                "to overwrite; pass force=True or use a distinctly-named "
                "fixture dir"
            )
    os.makedirs(out_dir, exist_ok=True)
    lineitem = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer")
    part = table(spark, sf_dir, "part")
    par = spark.sparkContext.defaultParallelism
    # Fact scan parallelism (VERDICT r11 item 1 / guide §6): these files are
    # written single-row-group, so the FILE COUNT is the scan parallelism
    # for all 124 verbatim queries. ~250k rows per file — sf0.01 facts stay
    # single-file (committed oracle slice), sf0.1 keeps 3 (r12 A/B: 7- and
    # 32-file layouts measured 15-50% SLOWER on tpcds q2/q5 at this SF —
    # per-scan task-launch overhead on 11k-row files), sf1 gets 25; past
    # that the writer's coalesce() naturally caps at the generating
    # session's partition count (files grow instead — still one per core).
    # Deliberately NOT capped by the generating session's defaultParallelism
    # (the r11 cap): the on-disk sf1 star carried only 8 fact files because
    # it happened to be generated from an 8-core session — the layout
    # consumers scan must not depend on the generator's core count.
    # Values are per-row deterministic functions of the source lineitem, so
    # the file split never changes any query's rows.
    fact_files = max(1, n_lines // 250_000 + 1)
    inv_files = max(1, _INV_WEEKS * n_part * _N_WAREHOUSE // 1_000_000 + 1)
    base = _fact_base(lineitem.repartition(par), n_cust)
    frames: dict[str, tuple[DataFrame, int]] = {
        "store_sales": (gen_store_sales(base), fact_files),
        "store_returns": (gen_store_returns(base), 1),
        "catalog_sales": (gen_catalog_sales(base), fact_files),
        "catalog_returns": (gen_catalog_returns(base), 1),
        "web_sales": (gen_web_sales(base), fact_files),
        "web_returns": (gen_web_returns(base), 1),
        "inventory": (gen_inventory(spark, n_part), inv_files),
        "date_dim": (gen_date_dim(spark), 1),
        "time_dim": (gen_time_dim(spark), 1),
        "item": (gen_item(part), 1),
        "store": (gen_store(spark), 1),
        "warehouse": (gen_warehouse(spark), 1),
        "call_center": (gen_call_center(spark), 1),
        "reason": (gen_reason(spark), 1),
        "ship_mode": (gen_ship_mode(spark), 1),
        "income_band": (gen_income_band(spark), 1),
        "web_page": (gen_web_page(spark), 1),
        "customer": (gen_customer(cust), 1),
        "customer_address": (gen_customer_address(cust), 1),
        "customer_demographics": (gen_customer_demographics(spark), 1),
        "household_demographics": (gen_household_demographics(spark), 1),
        "promotion": (gen_promotion(spark), 1),
        "catalog_page": (gen_catalog_page(spark), 1),
        "web_site": (gen_web_site(spark), 1),
    }
    counts: dict[str, int] = {}
    for name, (df, nfiles) in frames.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.coalesce(nfiles).write.mode("overwrite").parquet(path)
        counts[name] = parquet_rows(path)
    # v9: each cohort slot line lands in all three sales channels, so the
    # channel partition of lineitem carries 2 extra fact rows per slot —
    # recorded for the invariant test.
    n_slots = base.filter(F.col("slot_sales")).count()
    manifest = dict(want, row_counts=counts, n_slot_lines=n_slots)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def register_star_views(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """Generate-if-missing, then register every star table as a temp view
    (the reference's TPCDSQueryBenchmark.scala:69-74 setup). Returns the
    star dir."""
    generate_star(spark, sf_dir, force=force)
    out = star_dir(sf_dir)
    # Plans come from catalog's table memo, keyed by each table path's
    # mtime (a regenerated star rewrites every path), and registration goes
    # through ensure_view, so warm rebuilds make no catalog call while a
    # TPC-H build overwriting the shared `customer` name still forces
    # exactly that view to re-register.
    from spark_cherry_shuffle_service_spark.sources.catalog import _memo_read, ensure_view, read_parquet

    for name in TPCDS_TABLES:
        path = os.path.join(out, f"{name}.parquet")
        df = _memo_read(spark, path, partial(read_parquet, spark, path))
        ensure_view(spark, name, df, "star")
    return out

"""Operator parity catalog.

Every operator in SURVEY §2 re-expressed over the driver's TPC-H-ish
testdata tables (region nation customer supplier part orders lineitem
events documents embeddings), as a pair:

    spark_fn(spark, sf_dir) -> DataFrame      (the engine under test)
    oracle: ANSI SQL string                   (DuckDB ground truth)

Both sides are registered together so `__spark_entry__.queries()` /
`oracle_sql()` cannot drift apart. Names key back to the SURVEY §2
operator ids (s*, p*, j*, a*, w*, k*, u*, f*, x*) plus the LLM-data ops
(d*, n*, t*, m*) from parity_llm.

Determinism contract (the driver hash-compares sorted values):
  * no LIMIT without a total order including a unique tie-break
  * money aggregates rounded to 2 decimals on BOTH sides (the reference
    rounds every API response the same way — data_queries.py:121-124)
  * exact percentiles (`percentile` ⟷ `quantile_cont`), never approx
  * timestamps never returned raw — formatted to strings (UTC session)
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from mrf_etl_spark import state
from mrf_etl_spark.functions import slugify, zip5
from mrf_etl_spark.functions.categorizer import categorize_sql_case
from mrf_etl_spark.io import conform

SparkFn = Callable[[SparkSession, str], DataFrame]

# scratch dir for sink round-trip operators (s12/s13/s15…). Never the
# testdata dir; small outputs only.
ARTIFACT_DIR = os.environ.get("SPARK_GRAFT_ARTIFACTS", "/tmp/mrf_etl_spark_artifacts")


@dataclass
class ParityQuery:
    name: str
    spark_fn: SparkFn
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only
    doc: str = ""


REGISTRY: dict[str, ParityQuery] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: SparkFn) -> SparkFn:
        REGISTRY[name] = ParityQuery(name=name, spark_fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


_T_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# Session confs the catalog depends on, applied to the *incoming* session:
# the driver (and any embedding application) builds its own SparkSession, so
# relying on mrf_etl_spark.session's builder confs is not portable. All three
# are runtime-settable. Round-1 driver run: 8 entries crashed on the
# TIMESTAMP(NANOS) events read and 1 on an ANSI cast because these were only
# set by our builder.
_PORTABILITY_CONFS = (
    # events.parquet is INT64 TIMESTAMP(NANOS): unreadable without this
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # catalog semantics are non-ANSI (cast-to-null); oracles use TRY_CAST
    ("spark.sql.ansi.enabled", "false"),
    # timestamp→string formatting must not depend on the host timezone
    ("spark.sql.session.timeZone", "UTC"),
    # perf-only: PySpark 4's per-API-call call-site capture costs ~6 ms of
    # driver Python per Column op; plan-building is a hot path when the
    # driver runs the whole catalog back-to-back
    ("spark.python.sql.dataFrameDebugging.enabled", "false"),
)


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Defensively (re)apply the portability confs to a session we did not
    build. Idempotent and cheap (conf.set on an unchanged value is a no-op
    RPC); called by t() and by every catalog entry via __spark_entry__."""
    for k, v in _PORTABILITY_CONFS:
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf rejected at runtime (e.g. future Spark freezes it) must
            # not mask the actual query; the read error will say what's wrong
            pass
    return spark


# Plan-gating threshold for a16's two-phase weighted median: below this
# many input bytes the whole fact sorts comfortably inside the 3-group
# window tasks and the pre-agg shuffle only adds latency (sf0.1 ≈ 11 MB:
# one-phase 0.84 s vs two-phase 1.38 s warm); above it the shrink-first
# plan wins and keeps winning to arbitrary scale (sf1 ≈ 110 MB: 5.3 s ->
# ~1 s). 64 MiB splits the two measured regimes with margin both ways.
_A16_TWO_PHASE_BYTES = 64 * 1024 * 1024


def _input_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a table's parquet (file or directory) — a zero-job
    stand-in for catalog statistics, used for plan gating. Returns 0 when
    unreadable so callers fall back to the small-input plan."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table reader with a per-session catalog memo: `spark.read.parquet`
    builds a fresh file index + reads footers every call (~0.1 s/table);
    reusing the DataFrame across queries is what a resident engine's
    catalog does. Keyed by applicationId so a stopped session's plans are
    never reused."""
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _T_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts has shipped as two different parquet encodings across
        # testdata generations: INT64 TIMESTAMP(NANOS) (Spark reads it as
        # long under nanosAsLong) and plain timestamp[us] (Spark reads it
        # as TIMESTAMP_NTZ). Branch on the actual read type so the catalog
        # is robust to either; both paths yield the same two columns:
        # exact nanos for ordering (`ts_ns`) and a µs real timestamp for
        # calendar functions (`ts`).
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer `div`, NOT `/`: float division of ~1.7e18 ns loses
            # precision beyond 2^53 and lands ±1 µs off DuckDB's truncation
            df = df.withColumn("ts_ns", F.col("ts").cast("long"))
        else:
            # NTZ→LTZ is an identity under the UTC session conf, so
            # unix_micros matches DuckDB's epoch_us(ts) exactly
            df = df.withColumn(
                "ts_ns",
                F.unix_micros(F.col("ts").cast("timestamp_ltz")) * F.lit(1000),
            )
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
    _T_CACHE[key] = df
    return df


def _pctl_sql(
    src: str,
    col: str,
    group_cols: list[str],
    ps: list[tuple[float, str]],
    extra_aggs: list[str] | None = None,
    round_to: int = 2,
) -> str:
    """Oracle SQL computing percentile_cont with EXACTLY Spark's
    Percentile semantics: pos = p*(n-1); lower value when pos integral,
    else (higher-pos)*lowerKey + (pos-lower)*higherKey — all in DOUBLE, so
    the result is bit-identical to Spark's and needs no rounding."""
    g = ", ".join(group_cols)
    g_sel = f"{g}, " if g else ""
    g_grp = f"GROUP BY {g}" if g else ""
    terms = []
    for p, alias in ps:
        # All-DOUBLE arithmetic (CAST the percentage — DuckDB literals are
        # DECIMAL) reproducing Spark's Percentile term-for-term: lower when
        # pos is integral, else (higher-pos)*lowerKey + (pos-lower)*higherKey.
        # No rounding: with identical double ops on identical inputs the
        # result is bit-identical across engines (no summation involved),
        # whereas round(double, 2) itself diverges between engines at
        # knife-edge midpoints (Spark rounds via shortest-decimal-repr
        # HALF_UP, DuckDB via scaled multiply).
        row_pos = f"CAST({p} AS DOUBLE) * (n - 1)"
        lo = f"max(CASE WHEN rn = CAST(floor({row_pos}) AS BIGINT) + 1 THEN x END)"
        hi = f"max(CASE WHEN rn = CAST(ceil({row_pos}) AS BIGINT) + 1 THEN x END)"
        pos = f"CAST({p} AS DOUBLE) * (max(n) - 1)"
        interp = f"(ceil({pos}) - ({pos})) * {lo} + (({pos}) - floor({pos})) * {hi}"
        val = f"CASE WHEN floor({pos}) = ceil({pos}) THEN {lo} ELSE {interp} END"
        terms.append(f"{val} AS {alias}")
    extras = (", " + ", ".join(extra_aggs)) if extra_aggs else ""
    return f"""
       WITH ranked AS (
         SELECT *, {col} AS x,
                row_number() OVER (PARTITION BY {g if g else '1'} ORDER BY {col}) AS rn,
                count(*) OVER (PARTITION BY {g if g else '1'}) AS n
         FROM {src} WHERE {col} IS NOT NULL)
       SELECT {g_sel}{', '.join(terms)}{extras}
       FROM ranked {g_grp}"""


def _scratch(name: str) -> str:
    os.makedirs(ARTIFACT_DIR, exist_ok=True)
    return f"{ARTIFACT_DIR}/{name}-{uuid.uuid4().hex[:8]}"


def money_sum(col) -> F.Column:
    """Order-independent money sum, bit-identical across engines.

    ``round(sum(double), 2)`` is a knife-edge: double summation error grows
    ~n·ulp, so with 60k money rows the Spark partial-agg order and DuckDB's
    sequential order land ~1e-4 apart — a ~2% chance per entry of straddling
    a .xx5 rounding boundary (a13's red row in round 1, and why it was the
    only one of ~20 sum entries to flip). Casting each element to
    DECIMAL(38,4) first is LOSSLESS here (testdata money columns are exact
    2-decimal values; products of two such values are exact 4-decimal), the
    decimal sum is exact in any order, and decimal→double is deterministic
    round-to-nearest on both engines. No outer round() — the exact sum of
    2/4-decimal values cast to double already prints as money.

    avg() entries intentionally stay on double: their error is ~ulp (the
    /n cancels the growth), a ~1e-8 straddle probability — while decimal
    division scale rules differ across engines and would add risk.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,4)")).cast("double")


def money_sum_sql(expr: str) -> str:
    """DuckDB twin of :func:`money_sum` — identical elementwise cast, exact
    decimal summation, deterministic cast back to DOUBLE."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(38,4))) AS DOUBLE)"


# =====================================================================
# §2.1 Scans / sources / sinks
# =====================================================================


@register(
    "s1_pruned_scan",
    f"""SELECT {money_sum_sql('l_extendedprice')} AS sum_price, count(*) AS n
       FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'""",
    doc="S1: projection+predicate pushed into the parquet scan (replaces the "
    "reference's hand-rolled 500k-row chunking, chunk_processor.py:17-32)",
)
def s1_pruned_scan(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        .agg(
            money_sum("l_extendedprice").alias("sum_price"),
            F.count("*").alias("n"),
        )
    )


@register(
    "s2_corrupt_salvage",
    """SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey""",
    doc="S2: corrupt-file salvage — a garbage .parquet dropped into the "
    "table dir is skipped by ignoreCorruptFiles, good splits survive "
    "(replaces chunk_processor.py:34-50's per-row-group salvage loop)",
)
def s2_corrupt_salvage(spark, sf_dir):
    from mrf_etl_spark.io import read_parquet_tolerant

    path = _scratch("s2_dir")
    t(spark, sf_dir, "nation").write.parquet(path)
    with open(f"{path}/part-99999-corrupt.parquet", "wb") as fh:
        fh.write(b"THIS IS NOT A PARQUET FILE " * 64)
    good = read_parquet_tolerant(spark, path, salvage=True)
    return good.groupBy("n_regionkey").agg(F.count("*").alias("n"))


# S6 fixture: a small Medicare-locality-like dim, generated from the same
# literals on both sides (wage index = (8500 + 17*i)/10000, exact 4-decimal).
_S6_ROWS = [(i, i % 5, (8500 + 17 * i) / 10000) for i in range(20)]
_S6_VALUES = ", ".join(f"({i}, {rk}, CAST({w:.4f} AS DOUBLE))" for i, rk, w in _S6_ROWS)


@register(
    "s6_sqlite_source",
    f"""WITH loc(locality_id, region_key, wage_index) AS (VALUES {_S6_VALUES})
       SELECT r.r_name, count(*) AS n_localities,
              {money_sum_sql('loc.wage_index')} AS wi_sum
       FROM loc JOIN region r ON r.r_regionkey = loc.region_key
       GROUP BY r.r_name""",
    doc="S6: SQLite reference-table source (rate_calculator.py:23-50) — "
    "stdlib-sqlite3 → Arrow → DataFrame for small dims, joined against "
    "the lake like any other table",
)
def s6_sqlite_source(spark, sf_dir):
    import sqlite3

    from mrf_etl_spark.io import read_sqlite

    db = _scratch("s6_db") + ".sqlite"
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE locality (locality_id INTEGER, region_key INTEGER, wage_index REAL)"
        )
        conn.executemany("INSERT INTO locality VALUES (?, ?, ?)", _S6_ROWS)
        conn.commit()
    loc = read_sqlite(spark, db, "locality")
    r = t(spark, sf_dir, "region")
    return (
        loc.join(F.broadcast(r), loc.region_key == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_localities"),
            money_sum("wage_index").alias("wi_sum"),
        )
    )


# S5 fixture: a two-sheet fee-schedule-like workbook, generated from the
# same literals on both sides (rate = (1000 + 37*i)/100, exact 2-decimal).
# Surgery keeps only SI == 'J1' rows, mirroring excel_extractor.py:14-44.
_S5_SHEETS = {
    "Surgery": (
        ["code", "si", "rate"],
        [[f"1{i:04d}", "J1" if i % 3 else "J8", (1000 + 37 * i) / 100] for i in range(30)],
    ),
    "Radiology": (
        ["code", "si", "rate"],
        [[f"7{i:04d}", "S", (2000 + 53 * i) / 100] for i in range(20)],
    ),
}
_S5_VALUES = ", ".join(
    f"('{c}', '{si}', CAST({r:.2f} AS DOUBLE), '{sheet}')"
    for sheet, (_, rows) in _S5_SHEETS.items()
    for c, si, r in rows
    if sheet != "Surgery" or si == "J1"
)


@register(
    "s5_excel_sheets",
    f"""WITH fee(code, si, rate, sheet) AS (VALUES {_S5_VALUES})
       SELECT sheet, count(*) AS n_codes, {money_sum_sql('rate')} AS rate_sum
       FROM fee GROUP BY sheet""",
    doc="S5: Excel multi-sheet source (excel_extractor.py:14-44) — "
    "stdlib zipfile+ElementTree OOXML parse (openpyxl absent here), "
    "per-sheet SI filter, sheet-tagged union; workbook round-trips "
    "through io.xlsx write_workbook/load_workbook_rows",
)
def s5_excel_sheets(spark, sf_dir):
    from mrf_etl_spark.io import read_excel_sheets
    from mrf_etl_spark.io.xlsx import write_workbook

    path = _scratch("s5_book") + ".xlsx"
    write_workbook(path, _S5_SHEETS)
    fee = read_excel_sheets(
        spark,
        path,
        sheets=["Surgery", "Radiology"],
        sheet_filters={"Surgery": "si == 'J1'"},
    )
    return fee.groupBy("sheet").agg(
        F.count("*").alias("n_codes"), money_sum("rate").alias("rate_sum")
    )


@register(
    "s11_atomic_publish",
    """SELECT n_nationkey, n_name FROM nation""",
    doc="S11: atomic publish — temp-dir write + rename swap; the second "
    "overwrite reads its own target path, which the temp write makes safe "
    "(ETL_1.py:369-389 os.replace parity)",
)
def s11_atomic_publish(spark, sf_dir):
    from mrf_etl_spark.io.writers import atomic_overwrite

    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    path = _scratch("s11_pub")
    atomic_overwrite(n, path)
    # self-referential republish: plan reads `path` while overwriting it
    atomic_overwrite(spark.read.parquet(path), path)
    return spark.read.parquet(path)


@register(
    "s4_tolerant_scan",
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
              CAST(NULL AS VARCHAR) AS ghost_col
       FROM lineitem""",
    doc="S4: schema-tolerant conform — missing column materializes as typed "
    "null, present ones cast (ETL_1.py:216-226)",
)
def s4_tolerant_scan(spark, sf_dir):
    want = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.LongType()),
            T.StructField("ghost_col", T.StringType()),
        ]
    )
    return conform(t(spark, sf_dir, "lineitem"), want)


@register(
    "s7_code_list_filter",
    """SELECT l_returnflag, count(*) AS n FROM lineitem
       WHERE l_returnflag IN ('A', 'R') GROUP BY l_returnflag""",
    doc="S7+P4: file-driven IN-set filter via broadcast set "
    "(main.py:193-216); the set here is the collected 'code list'",
)
def s7_code_list_filter(spark, sf_dir):
    code_set = ["A", "R"]  # stands in for read_code_list() output
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin(code_set))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )


# S8/S9/S10 cached-lookup entries: the offline fetchers derive every field
# from the 60-bit md5 prefix of the key (the same integer DuckDB computes
# as CAST('0x' || substring(md5(k), 1, 15) AS BIGINT)), so the oracle
# replays fetch + parse + cache-join end-to-end. What's under test is the
# full cached_lookup mechanics: distinct keys → cache anti-join →
# mapInPandas fetch of misses → latest-merge cache write → join back.
_H60 = "CAST('0x' || substring(md5({k}), 1, 15) AS BIGINT)"


@register(
    "s8_nppes_cached_lookup",
    f"""WITH k AS (SELECT CAST(1000000000 + s_suppkey AS VARCHAR) AS npi
                  FROM supplier),
       hh AS (SELECT npi, {_H60.format(k='npi')} AS h FROM k)
       SELECT npi,
              CASE WHEN h % 3 = 0 THEN 'NPI-2' ELSE 'NPI-1' END
                AS enumeration_type,
              CASE WHEN h % 3 = 0
                   THEN 'PROVIDER GROUP ' || CAST(h % 997 AS VARCHAR)
                   ELSE NULL END AS org_name,
              'A' AS status,
              '20' || CAST(h % 10 AS VARCHAR) || 'X00000X'
                AS primary_taxonomy_code,
              CAST(h % 9000 + 100 AS VARCHAR) || ' MAIN ST' AS address_1,
              'ATLANTA' AS city,
              'GA' AS state,
              CAST(30000 + h % 400 AS VARCHAR) AS postal_code,
              '2024-0' || CAST(h % 9 + 1 AS VARCHAR) || '-01' AS last_updated
       FROM hh""",
    doc="S8+S17+J2: NPPES cached lookup — distinct keys, cache anti-join, "
    "bounded mapInPandas fetch, cache table write, left join back "
    "(operators/enrichment.py cached_lookup; fetch+parse replayed from "
    "the 60-bit key hash)",
)
def s8_nppes_cached_lookup(spark, sf_dir):
    from mrf_etl_spark.operators.enrichment import enrich_nppes

    df = t(spark, sf_dir, "supplier").select(
        (F.lit(1000000000) + F.col("s_suppkey")).cast("string").alias("npi")
    )
    out = enrich_nppes(spark, df, "npi", cache_path=_scratch("s8_cache"))
    return out.select(
        "npi",
        "enumeration_type",
        "org_name",
        "status",
        "primary_taxonomy_code",
        "address_1",
        "city",
        "state",
        "postal_code",
        "last_updated",
    )


@register(
    "s9_geocode_cached_lookup",
    f"""WITH a AS (
         SELECT md5(lower(CAST(s_suppkey AS VARCHAR)
                          || ' PEACH ST, ATLANTA, GA 30301')) AS geocode_key
         FROM supplier),
       hh AS (SELECT geocode_key, {_H60.format(k='geocode_key')} AS h FROM a)
       SELECT geocode_key,
              CASE WHEN h % 4 = 3 THEN NULL
                   ELSE 30.0 + (h % 5000000) / 1000000 END AS lat,
              CASE WHEN h % 4 = 3 THEN NULL
                   ELSE -85.0 + (h % 4000000) / 1000000 END AS lon,
              CASE h % 4 WHEN 0 THEN '12060' WHEN 1 THEN '42340'
                         WHEN 2 THEN '12260' ELSE NULL END AS cbsa_geoid,
              CASE h % 4
                WHEN 0 THEN 'Atlanta-Sandy Springs-Roswell, GA Metro Area'
                WHEN 1 THEN 'Savannah, GA Metro Area'
                WHEN 2 THEN 'Augusta-Richmond County, GA-SC Metro Area'
                ELSE NULL END AS cbsa_name
       FROM hh""",
    doc="S9: Census-geocoder cached lookup keyed on md5 of the normalized "
    "one-line address (geocoder.py:355-359); ~25% no_match like the real "
    "API, floats replayed exactly (int/1e6 division in double both sides)",
)
def s9_geocode_cached_lookup(spark, sf_dir):
    from mrf_etl_spark.operators.enrichment import enrich_census_geocode

    df = t(spark, sf_dir, "supplier").select(
        F.concat(F.col("s_suppkey").cast("string"), F.lit(" PEACH ST")).alias("address_1"),
        F.lit("ATLANTA").alias("city"),
        F.lit("GA").alias("state"),
        F.lit("30301").alias("postal_code"),
    )
    out = enrich_census_geocode(spark, df, cache_path=_scratch("s9_cache"))
    return out.select("geocode_key", "lat", "lon", "cbsa_geoid", "cbsa_name")


@register(
    "s10_hud_zip_cbsa",
    f"""WITH z AS (
         SELECT DISTINCT CAST(10000 + s_suppkey % 80000 AS VARCHAR) AS zip
         FROM supplier),
       hh AS (SELECT zip, {_H60.format(k='zip')} AS h FROM z)
       SELECT zip,
              CAST(10000 + (h + h % 3) % 900 AS VARCHAR) AS cbsa,
              'CBSA ' || CAST((h + h % 3) % 900 AS VARCHAR) AS cbsaname
       FROM hh""",
    doc="S10+W2: HUD ZIP→CBSA crosswalk — cached fetch of 1-3 candidate "
    "rows per ZIP, best-per-key window on tot_ratio (the top candidate is "
    "i = h%3, ratio 0.9, replayed from the key hash)",
)
def s10_hud_zip_cbsa(spark, sf_dir):
    from mrf_etl_spark.operators.enrichment import zip_to_cbsa

    df = t(spark, sf_dir, "supplier").select(
        (F.lit(10000) + F.col("s_suppkey") % 80000).cast("string").alias("zip")
    ).distinct()
    out = zip_to_cbsa(spark, df, "zip", cache_path=_scratch("s10_cache"))
    return out.select("zip", "cbsa", "cbsaname")


@register(
    "s12_append_unique_roundtrip",
    """SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment""",
    doc="S12: append-unique sink — seed a subset, append the full table, "
    "keys insert exactly once (ETL_1.py:359-398)",
)
def s12_append_unique_roundtrip(spark, sf_dir):
    from mrf_etl_spark.io import append_unique

    cust = t(spark, sf_dir, "customer")
    path = _scratch("s12_dim")
    append_unique(spark, cust.filter(F.col("c_custkey") % 3 == 0), path, keys=["c_custkey"])
    append_unique(spark, cust, path, keys=["c_custkey"])
    return spark.read.parquet(path).groupBy("c_mktsegment").agg(F.count("*").alias("n"))


@register(
    "s13_upsert_idempotent",
    f"""SELECT o_orderstatus, count(*) AS n, {money_sum_sql('o_totalprice')} AS total
       FROM orders GROUP BY o_orderstatus""",
    doc="S13: fact upsert by deterministic uid — running the same batch "
    "twice is a no-op (ETL_1.py:450-498)",
)
def s13_upsert_idempotent(spark, sf_dir):
    from mrf_etl_spark.io import upsert_by_key

    orders = t(spark, sf_dir, "orders")
    path = _scratch("s13_fact")
    upsert_by_key(spark, orders, path, keys=["o_orderkey"])
    upsert_by_key(spark, orders, path, keys=["o_orderkey"])  # idempotent re-run
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), money_sum("o_totalprice").alias("total"))
    )


@register(
    "s14_latest_merge",
    f"""SELECT event_type, count(*) AS n, {money_sum_sql('value')} AS sum_value
       FROM events GROUP BY event_type""",
    doc="S14: latest-record merge — union base+delta, keep newest per key "
    "by timestamp (utils_nppes.py:215-253); delta superset ⇒ full table",
)
def s14_latest_merge(spark, sf_dir):
    from mrf_etl_spark.io import latest_merge

    ev = t(spark, sf_dir, "events")
    path = _scratch("s14_merged")
    latest_merge(spark, ev.filter(F.col("event_id") % 2 == 0), path, keys=["event_id"], order_col="ts")
    latest_merge(spark, ev, path, keys=["event_id"], order_col="ts")
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), money_sum("value").alias("sum_value"))
    )


@register(
    "s15_partitioned_write",
    """SELECT event_type, count(*) AS n FROM events GROUP BY event_type""",
    doc="S15: hive-partitioned write + dynamic partition replace "
    "(notebook.py:275-351); read-back proves partition values survive",
)
def s15_partitioned_write(spark, sf_dir):
    from mrf_etl_spark.io import write_partitioned

    ev = t(spark, sf_dir, "events")
    path = _scratch("s15_part")
    write_partitioned(ev, path, partition_by=["event_type"])
    return spark.read.parquet(path).groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "s23_scd2_history",
    # events replayed as an attribute-update log: one SCD2 row per
    # update with [valid_from, valid_to) from the next update's
    # timestamp; event_id makes the per-key ordering total so ties in
    # ts are deterministic on both engines.
    """WITH upd AS (
         SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
         FROM events)
       SELECT user_id,
              row_number() OVER w AS version,
              ts_us AS valid_from_us,
              lead(ts_us) OVER w AS valid_to_us,
              lead(ts_us) OVER w IS NULL AS is_current,
              value
       FROM upd
       WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""",
    doc="S23 (beyond-ref lake op): SCD2 dimension history — every key's "
    "update becomes a versioned [valid_from, valid_to) row with an "
    "is_current flag, enabling point-in-time joins; written partitioned "
    "by is_current (current-slice pruning for serving, full history "
    "retained) and read back through the sink (io.writers.scd2_history)",
)
def s23_scd2_history(spark, sf_dir):
    from mrf_etl_spark.io import scd2_history
    from mrf_etl_spark.io.writers import atomic_overwrite

    upd = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        "value",
    )
    hist = scd2_history(
        upd, keys=["user_id"], order_col="ts_us", tiebreak=["event_id"], attrs=["value"]
    ).withColumnsRenamed({"valid_from": "valid_from_us", "valid_to": "valid_to_us"})
    path = _scratch("s23_scd2")
    atomic_overwrite(hist, path, partition_by=["is_current"])
    # partition-column values come back as strings (Spark's partition
    # inference has no boolean rule) — restore the written type
    return spark.read.parquet(path).select(
        "user_id",
        "version",
        "valid_from_us",
        "valid_to_us",
        F.col("is_current").cast("boolean").alias("is_current"),
        "value",
    )


# =====================================================================
# §2.2 Projections / filters / predicates
# =====================================================================


@register(
    "p123_projection",
    """SELECT o_orderkey, o_totalprice AS rate,
              CAST(NULL AS DOUBLE) AS ga_prof_mar FROM orders""",
    doc="P1+P2+P3: rename map, column drop, literal-null init "
    "(main.py:220-275)",
)
def p123_projection(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .withColumnsRenamed({"o_totalprice": "rate"})
        .withColumn("ga_prof_mar", F.lit(None).cast("double"))
        .drop("o_orderstatus", "o_custkey", "o_orderdate", "o_orderpriority")
        .select("o_orderkey", "rate", "ga_prof_mar")
    )


@register(
    "p567_predicates",
    """SELECT l_linestatus, count(*) AS n, round(avg(l_extendedprice), 2) AS avg_price
       FROM lineitem
       WHERE l_returnflag = 'R' AND l_extendedprice BETWEEN 1000 AND 50000
         AND l_shipdate IS NOT NULL
       GROUP BY l_linestatus""",
    doc="P5+P6+P7: equality, not-null, range predicates "
    "(main.py:286-302, parquet_extractor.py:64-129)",
)
def p567_predicates(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_returnflag") == "R")
            & F.col("l_extendedprice").between(1000, 50000)
            & F.col("l_shipdate").isNotNull()
        )
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.avg("l_extendedprice"), 2).alias("avg_price"))
    )


@register(
    "p8_substring_whitelist",
    """SELECT p_brand, count(*) AS n FROM part
       WHERE lower(p_name) LIKE '%widget%' OR lower(p_name) LIKE '%bolt%'
       GROUP BY p_brand""",
    doc="P8: substring-whitelist filter — contains-any over lowercase text "
    "(taxonomy_filter.py:45-107)",
)
def p8_substring_whitelist(spark, sf_dir):
    whitelist = ["widget", "bolt"]
    pred = None
    for w in whitelist:
        c = F.lower(F.col("p_name")).contains(w)
        pred = c if pred is None else (pred | c)
    return t(spark, sf_dir, "part").filter(pred).groupBy("p_brand").agg(F.count("*").alias("n"))


@register(
    "p10_multi_filter",
    """SELECT o_orderpriority, count(*) AS n FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE o.o_orderstatus = 'F'
         AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         AND c.c_name ILIKE '%00001%'
       GROUP BY o_orderpriority""",
    doc="P10: parameterized multi-filter builder — =, IN, ILIKE composed "
    "into one predicate (optimized_queries.py:565-650)",
)
def p10_multi_filter(spark, sf_dir):
    from mrf_etl_spark.plans.queries import build_filter

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    pred = build_filter(
        eq={"o_orderstatus": "F"},
        isin={"o_orderpriority": ["1-URGENT", "2-HIGH"]},
        ilike={"c_name": "%00001%"},
    )
    return joined.filter(pred).groupBy("o_orderpriority").agg(F.count("*").alias("n"))


# =====================================================================
# §2.3 Joins
# =====================================================================


@register(
    "j1_broadcast_left_join",
    f"""SELECT p.p_brand, count(*) AS n, {money_sum_sql('l.l_extendedprice')} AS total
       FROM lineitem l
       LEFT JOIN (SELECT * FROM part WHERE p_size <= 25) p
         ON l.l_partkey = p.p_partkey
       GROUP BY p.p_brand""",
    doc="J1: rates⋈providers left broadcast join; filtered dim exercises "
    "null-preserving left semantics (main.py:166-187)",
)
def j1_broadcast_left_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    # no broadcast() hint: part is sf-proportional (20M rows at sf100); the
    # planner's file-size stats / AQE broadcast it whenever actually small
    part = t(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    return (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), money_sum("l_extendedprice").alias("total"))
    )


@register(
    "j3_coalesce_merge",
    """WITH lut AS (
         SELECT l_partkey, round(avg(l_quantity), 2) AS adj
         FROM lineitem GROUP BY l_partkey)
       SELECT p.p_partkey, round(coalesce(lut.adj, p.p_retailprice), 2) AS val
       FROM part p LEFT JOIN lut ON p.p_partkey = lut.l_partkey""",
    doc="J3: GA-WC merge — left join + combine_first ≡ coalesce(src, dest) "
    "in that argument order (main.py:330-378)",
)
def j3_coalesce_merge(spark, sf_dir):
    lut = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.round(F.avg("l_quantity"), 2).alias("adj"))
    )
    p = t(spark, sf_dir, "part")
    # lut is keyed by l_partkey (sf-proportional) — no forced broadcast;
    # AQE converts at runtime from the agg's actual output size
    return p.join(lut, p.p_partkey == lut.l_partkey, "left").select(
        "p_partkey", F.round(F.coalesce("adj", "p_retailprice"), 2).alias("val")
    )


@register(
    "j4_join_chain",
    f"""SELECT n.n_name,
              {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'ASIA'
       GROUP BY n.n_name""",
    doc="J4: multi-hop broadcast join chain (the Medicare locality chain, "
    "main.py:441-526), shaped as TPC-H Q5",
)
def j4_join_chain(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    # Dim-first plan: pre-filter supplier through nation+region(ASIA) and
    # broadcast it onto lineitem (cuts the fact ~5x before anything
    # shuffles), leaving orders⋈lineitem as the ONLY planned shuffle join.
    # The naive chain shuffle-joined customer⋈orders first — 5x slower cold
    # at sf0.1, and at 100 TB it shuffles the two biggest tables twice
    # instead of once. customer carries NO broadcast hint: it grows with
    # scale factor (15M rows at sf100), and a forced hint overrides the
    # size threshold and OOMs the build side — AQE converts the join to
    # broadcast at runtime whenever the side is actually small.
    dim = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        # dim is supplier-derived (sf-proportional) — no forced hint; AQE
        # sees the ASIA-filtered chain's actual size and broadcasts it
        li.join(dim, li.l_suppkey == dim.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey) & (F.col("s_nationkey") == c.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "j5_normalized_key_join",
    """WITH lut AS (
         SELECT concat(' ', lower(p_brand), ' ') AS brand_messy,
                round(avg(p_retailprice), 2) AS avg_rp
         FROM part GROUP BY concat(' ', lower(p_brand), ' '))
       SELECT p.p_partkey, lut.avg_rp
       FROM part p
       LEFT JOIN lut ON upper(trim(lut.brand_messy)) = upper(trim(p.p_brand))""",
    doc="J5: OPPS/ASC lookup join on normalized (strip/upper) code "
    "(rate_calculator.py:222-283)",
)
def j5_normalized_key_join(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    lut = (
        p.groupBy(F.concat(F.lit(" "), F.lower("p_brand"), F.lit(" ")).alias("brand_messy"))
        .agg(F.round(F.avg("p_retailprice"), 2).alias("avg_rp"))
    )
    return p.join(
        F.broadcast(lut),
        F.upper(F.trim(lut.brand_messy)) == F.upper(F.trim(p.p_brand)),
        "left",
    ).select("p_partkey", "avg_rp")


@register(
    "j6_agg_map_join",
    """WITH nat AS (
         SELECT s_nationkey, round(avg(s_acctbal), 2) AS nat_avg
         FROM supplier GROUP BY s_nationkey)
       SELECT s.s_nationkey, (s.s_acctbal > n.nat_avg) AS above_avg, count(*) AS n
       FROM supplier s JOIN nat n ON s.s_nationkey = n.s_nationkey
       GROUP BY s.s_nationkey, above_avg""",
    doc="J6: Series.map of a groupby-mean ≡ join with the aggregated frame "
    "(rate_calculator.py:95-117)",
)
def j6_agg_map_join(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    nat = s.groupBy("s_nationkey").agg(F.round(F.avg("s_acctbal"), 2).alias("nat_avg"))
    return (
        s.join(F.broadcast(nat.withColumnRenamed("s_nationkey", "nk")), s.s_nationkey == F.col("nk"))
        .withColumn("above_avg", F.col("s_acctbal") > F.col("nat_avg"))
        .groupBy("s_nationkey", "above_avg")
        .agg(F.count("*").alias("n"))
    )


@register(
    "j7_class_split_join",
    """WITH bench_f AS (
         SELECT l_partkey, round(avg(l_quantity), 4) AS bench
         FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_partkey),
       bench_o AS (
         SELECT l_partkey, round(avg(l_quantity), 4) AS bench
         FROM lineitem WHERE l_linestatus = 'O' GROUP BY l_partkey)
       SELECT l.l_orderkey, l.l_linenumber,
              round(l.l_quantity / nullif(b.bench, 0), 4) AS pct_of_bench
       FROM lineitem l
       LEFT JOIN bench_f b ON l.l_linestatus = 'F' AND l.l_partkey = b.l_partkey
       WHERE l.l_linestatus = 'F'
       UNION ALL
       SELECT l.l_orderkey, l.l_linenumber,
              round(l.l_quantity / nullif(b.bench, 0), 4) AS pct_of_bench
       FROM lineitem l
       LEFT JOIN bench_o b ON l.l_linestatus = 'O' AND l.l_partkey = b.l_partkey
       WHERE l.l_linestatus = 'O'""",
    doc="J7: benchmark join split by billing_class, branches unioned, "
    "pct_of_benchmark with NULLIF guard (benchmark_joiner.py:56-198)",
)
def j7_class_split_join(spark, sf_dir):
    # The branch split exists in the reference because pandas masks rows
    # per class; since the class is part of the join key, both branches
    # fuse into ONE pass: one groupBy bench (keyed by partkey+status) and
    # one broadcast join. Identical rows, half the scans, no union
    # (measured 1.7x warm / 11x cold at sf0.1 vs the two-branch plan).
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_linestatus").isin("F", "O"))
    bench = (
        li.groupBy("l_partkey", "l_linestatus")
        .agg(F.round(F.avg("l_quantity"), 4).alias("bench"))
        .withColumnsRenamed({"l_partkey": "bk", "l_linestatus": "bs"})
    )
    return (
        # bench is keyed by l_partkey (sf-proportional): no forced hint —
        # AQE broadcasts from the agg's measured output when small
        li.join(
            bench,
            (F.col("l_partkey") == F.col("bk"))
            & (F.col("l_linestatus") == F.col("bs")),
            "left",
        ).select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.col("l_quantity") / F.nullif(F.col("bench"), F.lit(0)), 4
            ).alias("pct_of_bench"),
        )
    )


@register(
    "j8_star_join",
    """SELECT l.l_orderkey, l.l_linenumber, c.c_name, n.n_name, p.p_brand,
              s.s_name, round(l.l_extendedprice, 2) AS price
       FROM lineitem l
       LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
       LEFT JOIN customer c ON o.o_custkey = c.c_custkey
       LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
       LEFT JOIN part p ON l.l_partkey = p.p_partkey
       LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
       WHERE lower(p.p_name) LIKE '%widget%' AND o.o_orderstatus = 'F'""",
    doc="J8: query-layer star join — fact LEFT joins every dim "
    "(optimized_queries.py:653-689); dims broadcast",
)
def j8_star_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")
    # The WHERE null-rejects the orders/part sides, so those LEFT joins
    # are inner: apply both filters at the scans. The selective part
    # predicate (~1/8) joins onto lineitem FIRST to shrink the fact
    # before the one unavoidable shuffle join against filtered orders —
    # orders is a fact, never broadcast it (the old plan did; at 100 TB
    # that build dies, and locally this is still 1.4x faster cold).
    # part and customer are sf-proportional too, so NEITHER gets a forced
    # hint — AQE converts to broadcast at runtime when the filtered side
    # is actually small (it is at bench SFs; a 1/8 slice of part at
    # 100 TB is billions of rows and must stay a shuffle join).
    o = o.filter(F.col("o_orderstatus") == "F")
    p = p.filter(F.lower(F.col("p_name")).contains("widget"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(s, li.l_suppkey == s.s_suppkey, "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            "c_name",
            "n_name",
            "p_brand",
            "s_name",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


@register(
    "j9_computed_slug_join",
    """WITH slugmap AS (
         SELECT trim(BOTH '_' FROM regexp_replace(lower(n_name), '[^a-z0-9]+', '_', 'g'))
                  AS nslug,
                n_regionkey
         FROM nation)
       SELECT m.n_regionkey, count(*) AS n
       FROM supplier s
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN slugmap m
         ON trim(BOTH '_' FROM regexp_replace(lower(n.n_name), '[^a-z0-9]+', '_', 'g'))
            = m.nslug
       GROUP BY m.n_regionkey""",
    doc="J9: join on a computed slug key (payer_slug from entity name, "
    "backend/main.py:118-125)",
)
def j9_computed_slug_join(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    slugmap = n.select(
        slugify("n_name", "_").alias("nslug"), F.col("n_regionkey").alias("rk")
    )
    return (
        s.join(F.broadcast(n.drop("n_regionkey")), s.s_nationkey == n.n_nationkey)
        .withColumn("nslug2", slugify("n_name", "_"))
        .join(F.broadcast(slugmap), F.col("nslug2") == slugmap.nslug)
        .groupBy(F.col("rk").alias("n_regionkey"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "j10_anti_join",
    """SELECT c.c_mktsegment, count(*) AS n FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       GROUP BY c.c_mktsegment""",
    doc="J10: anti-join (new-keys-∉-existing ingest dedup, ETL_1.py:363)",
)
def j10_anti_join(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


@register(
    "j11_semi_join",
    """SELECT p.p_brand, count(*) AS n FROM part p
       WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
       GROUP BY p.p_brand""",
    doc="J11: semi-join (POS-membership filter via xref, Data_Schema.md:193-207)",
)
def j11_semi_join(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"))
    )


@register(
    "j12_desc_coalesce",
    """SELECT o.o_orderkey,
              coalesce(c.c_name, CAST(o.o_custkey AS VARCHAR)) AS display_name
       FROM orders o
       LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
         ON o.o_custkey = c.c_custkey""",
    doc="J12: code-description join with COALESCE(desc, code) fallback "
    "(data_queries.py:173-200)",
)
def j12_desc_coalesce(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    # customer is sf-proportional — no forced broadcast (AQE decides)
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey",
        F.coalesce("c_name", F.col("o_custkey").cast("string")).alias("display_name"),
    )


# =====================================================================
# §2.4 Aggregations
# =====================================================================


@register(
    "a1_group_mean",
    """SELECT s_nationkey, round(avg(s_acctbal), 2) AS avg_bal
       FROM supplier GROUP BY s_nationkey""",
    doc="A1: group-by mean (state-averaged wage index, rate_calculator.py:95-117)",
)
def a1_group_mean(spark, sf_dir):
    return (
        t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.round(F.avg("s_acctbal"), 2).alias("avg_bal"))
    )


@register(
    "a2_multi_mean",
    """SELECT l_returnflag, round(avg(l_quantity), 2) AS avg_qty,
              round(avg(l_extendedprice), 2) AS avg_price,
              round(avg(l_discount), 4) AS avg_disc
       FROM lineitem GROUP BY l_returnflag""",
    doc="A2: group-by multi-mean (GPCI triple, build_medicare_benchmarks.py:432-449)",
)
def a2_multi_mean(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
    )


@register(
    "a3_global_mean",
    """SELECT round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_tax), 4) AS avg_tax FROM lineitem""",
    doc="A3: whole-table means (national GPCI, build_medicare_benchmarks.py:316-319)",
)
def a3_global_mean(spark, sf_dir):
    return t(spark, sf_dir, "lineitem").agg(
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_tax"), 4).alias("avg_tax"),
    )


@register(
    "a4_summary_stats",
    _pctl_sql(
        "orders",
        "o_totalprice",
        ["o_orderpriority"],
        [(0.5, "median_rate")],
        extra_aggs=[
            "count(*) AS rate_count",
            "round(avg(x), 2) AS avg_rate",
            "round(min(x), 2) AS min_rate",
            "round(max(x), 2) AS max_rate",
            "count(DISTINCT o_custkey) AS n_customers",
        ],
    ),
    doc="A4+W3: the reference's summary-stats block with EXACT median "
    "(PERCENTILE_CONT ≡ percentile, data_queries.py:96-107)",
)
def a4_summary_stats(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("rate_count"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_rate"),
            F.round(F.min("o_totalprice"), 2).alias("min_rate"),
            F.round(F.max("o_totalprice"), 2).alias("max_rate"),
            F.expr("percentile(o_totalprice, 0.5)").alias("median_rate"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


@register(
    "a5_topk_group_stats",
    """SELECT * FROM (
         SELECT o_custkey, count(*) AS rate_count,
                round(avg(o_totalprice), 2) AS avg_rate
         FROM orders GROUP BY o_custkey
         ORDER BY rate_count DESC, o_custkey ASC LIMIT 10)""",
    doc="A5: grouped stats + ORDER BY count DESC LIMIT k with unique "
    "tie-break for determinism (data_queries.py:130-217)",
)
def a5_topk_group_stats(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("rate_count"), F.round(F.avg("o_totalprice"), 2).alias("avg_rate"))
        .orderBy(F.col("rate_count").desc(), F.col("o_custkey").asc())
        .limit(10)
    )


@register(
    "a6_percentile_profile",
    _pctl_sql(
        "lineitem",
        "l_extendedprice",
        ["l_returnflag"],
        [(p, f"p{int(p * 100)}") for p in (0.10, 0.25, 0.50, 0.75, 0.90)],
        extra_aggs=[
            "count(DISTINCT l_orderkey) AS n_orders",
            "count(DISTINCT l_suppkey) AS n_suppliers",
        ],
    ),
    doc="A6: agg_market_rates percentile profile p10..p90 + distinct "
    "entity counts (notebook.py:374-405)",
)
def a6_percentile_profile(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    # Two measured plan choices (sf0.1: 11.3s -> 2.1s combined):
    #  * ONE array-percentile aggregate, not five scalar ones — each scalar
    #    `percentile` buffers every value independently; the array form
    #    sorts once and reads all five quantiles.
    #  * distinct counts in a SEPARATE aggregation joined back on the
    #    group key — multiple countDistinct in the same agg as the
    #    percentile triggers an Expand (xN_distincts+1 of the scan) that
    #    also multiplies the percentile's input stream. The group-key join
    #    is trivially small (one row per group).
    ps = (0.10, 0.25, 0.50, 0.75, 0.90)
    pct = (
        li.groupBy("l_returnflag")
        .agg(F.expr(f"percentile(l_extendedprice, array({', '.join(map(str, ps))}))").alias("_ps"))
        .select(
            "l_returnflag",
            *[F.col("_ps")[i].alias(f"p{int(p * 100)}") for i, p in enumerate(ps)],
        )
    )
    dst = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )
    return pct.join(dst, "l_returnflag")


@register(
    "a7_faceted_counts",
    """SELECT * FROM (
         SELECT event_type AS facet, count(*) AS n FROM events
         GROUP BY event_type ORDER BY n DESC, facet ASC LIMIT 3)""",
    doc="A7: faceted counts ORDER BY count DESC LIMIT k "
    "(staged_dashboard.py:95-314)",
)
def a7_faceted_counts(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("facet"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("facet").asc())
        .limit(3)
    )


@register(
    "a8_availability_matrix",
    """SELECT strftime(o_orderdate, '%Y-%m') AS year_month, o_orderstatus,
              count(*) AS n, count(DISTINCT o_custkey) AS n_cust
       FROM orders GROUP BY year_month, o_orderstatus""",
    doc="A8: availability matrix — counts + distincts per (state, year_month) "
    "(data_queries.py:40-77)",
)
def a8_availability_matrix(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("year_month"), "o_orderstatus"
        )
        .agg(F.count("*").alias("n"), F.countDistinct("o_custkey").alias("n_cust"))
    )


@register(
    "a9_multi_distinct",
    """SELECT count(*) AS total,
              count(DISTINCT l_orderkey) AS d_orders,
              count(DISTINCT l_partkey) AS d_parts,
              count(DISTINCT l_suppkey) AS d_supps,
              count(DISTINCT l_returnflag) AS d_flags,
              count(DISTINCT l_linestatus) AS d_status
       FROM lineitem""",
    doc="A9: dashboard multi-COUNT(DISTINCT) in one pass "
    "(optimized_queries.py:798-826); Spark plans this via EXPAND",
)
def a9_multi_distinct(spark, sf_dir):
    return t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("total"),
        F.countDistinct("l_orderkey").alias("d_orders"),
        F.countDistinct("l_partkey").alias("d_parts"),
        F.countDistinct("l_suppkey").alias("d_supps"),
        F.countDistinct("l_returnflag").alias("d_flags"),
        F.countDistinct("l_linestatus").alias("d_status"),
    )


@register(
    "a10_drilldown",
    """SELECT l_linestatus, count(*) AS n,
              round(avg(l_extendedprice), 2) AS avg_price
       FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_linestatus""",
    doc="A10: drill-down — fix one dimension, aggregate another "
    "(optimized_queries.py:966-1024)",
)
def a10_drilldown(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "A")
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.avg("l_extendedprice"), 2).alias("avg_price"))
    )


@register(
    "a11_dedup_distinct",
    """SELECT DISTINCT user_id, event_type FROM events""",
    doc="A11: DISTINCT projection (dim extraction, ETL_1.py:282-322)",
)
def a11_dedup_distinct(spark, sf_dir):
    return t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@register(
    "a12_cross_product",
    """SELECT r.r_name, b.p_brand, concat(r.r_name, ':', b.p_brand) AS combo
       FROM region r CROSS JOIN (SELECT DISTINCT p_brand FROM part) b""",
    doc="A12: cross product frame (states × codes benchmark scaffold, "
    "build_medicare_benchmarks.py:137-147)",
)
def a12_cross_product(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    b = t(spark, sf_dir, "part").select("p_brand").distinct()
    return r.crossJoin(b).select(
        "r_name", "p_brand", F.concat_ws(":", "r_name", "p_brand").alias("combo")
    )


@register(
    "a13_conditional_sum",
    f"""SELECT l_linestatus,
              {money_sum_sql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END")}
                AS returned_value,
              CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                AS returned_n,
              count(*) AS total_n
       FROM lineitem GROUP BY l_linestatus""",
    doc="A13: coverage counters as conditional sums in one pass "
    "(benchmark_joiner.py:200-247)",
)
def a13_conditional_sum(spark, sf_dir):
    returned = F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")).otherwise(0)
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            money_sum(returned).alias("returned_value"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("returned_n"),
            F.count("*").alias("total_n"),
        )
    )


@register(
    "a14_rollup",
    # Subtotal rows carry NULL group keys; GROUPING() flags disambiguate
    # a genuine NULL key from a rollup subtotal — identical semantics in
    # Spark's rollup() and DuckDB's GROUP BY ROLLUP.
    f"""SELECT event_type, strftime(ts, '%Y-%m') AS ym,
              count(*) AS n, {money_sum_sql('value')} AS val_sum,
              CAST(GROUPING(event_type) AS BIGINT) AS g_type,
              CAST(GROUPING(strftime(ts, '%Y-%m')) AS BIGINT) AS g_ym
       FROM events GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m'))""",
    doc="A14: multi-granularity rollup (type × month → type → grand "
    "total) in ONE pass via grouping sets — Catalyst expands to a single "
    "shuffle with partial aggregation, replacing N separate groupBy jobs",
)
def a14_rollup(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn(
        "ym", F.date_format("ts", "yyyy-MM")
    )
    return (
        ev.rollup("event_type", "ym")
        .agg(
            F.count("*").alias("n"),
            money_sum("value").alias("val_sum"),
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("ym").cast("long").alias("g_ym"),
        )
        .select("event_type", "ym", "n", "val_sum", "g_type", "g_ym")
    )


# =====================================================================
# §2.5 Windows, §2.6 sorts/limits, §2.7 set ops
# =====================================================================


@register(
    "w1_latest_per_key",
    """SELECT user_id, event_type, event_id, round(value, 2) AS value
       FROM (SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
             FROM events)
       WHERE rn = 1""",
    doc="W1: latest-per-key via ROW_NUMBER ordered by timestamp DESC "
    "(utils_nppes.py:230-246); explicit unique tie-break",
)
def w1_latest_per_key(spark, sf_dir):
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts_ns").desc(), F.col("event_id").desc()
    )
    return (
        t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.round("value", 2).alias("value"))
    )


@register(
    "w2_best_per_key",
    """SELECT user_id, event_id, round(value, 2) AS best_value
       FROM (SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
             FROM events)
       WHERE rn = 1""",
    doc="W2: best-per-key (highest tot_ratio ZIP→CBSA, api_clients.py:301-306)",
)
def w2_best_per_key(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.round("value", 2).alias("best_value"))
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in micros


@register(
    "w5_sessionize_batch",
    # Gap comparisons run in MICROSECONDS on both engines: DuckDB reads
    # the nanos parquet timestamps µs-truncated (epoch_us), Spark mirrors
    # with ts_ns div 1000 — identical integers, no float time arithmetic.
    f"""WITH tagged AS (
         SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       sess AS (
         SELECT user_id, event_id, value,
                CAST(sum(new_sess) OVER (
                  PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         FROM tagged)
       SELECT user_id, session_seq, count(*) AS n_events,
              min(event_id) AS first_event, max(event_id) AS last_event,
              {money_sum_sql('value')} AS val_sum
       FROM sess GROUP BY user_id, session_seq""",
    doc="W5: batch sessionization (30-min gap) via lag+cumsum over one "
    "key partitioning — single shuffle; beyond-reference, the batch twin "
    "of the st2 streaming session windows",
)
def w5_sessionize_batch(spark, sf_dir):
    from mrf_etl_spark.operators.sessions import session_stats

    ev = (
        t(spark, sf_dir, "events")
        .withColumn("ts_us", F.expr("ts_ns div 1000"))
        .select("user_id", "event_id", "value", "ts_us")
    )
    return session_stats(
        ev,
        "user_id",
        "ts_us",
        SESSION_GAP_US,
        [
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            money_sum("value").alias("val_sum"),
        ],
        tiebreak=["event_id"],
    )


RANGE_W_US = 24 * 3600 * 1_000_000  # ±24 h attribution window, micros
# (per-user event spacing in the synthetic log is ~21 h; ±24 h yields a
# meaningful pair set at every SF instead of a near-empty result)


@register(
    "w6_range_join",
    # The oracle states the inequality join directly (DuckDB's IEJoin
    # handles it); the Spark side runs the banded equi-join plan from
    # operators/rangejoin.py — same exact result, no per-key cartesian.
    f"""SELECT l.user_id, l.event_id AS click_id, r.event_id AS view_id,
              epoch_us(r.ts) - epoch_us(l.ts) AS dt_us
       FROM (SELECT * FROM events WHERE event_type = 'click') l
       JOIN (SELECT * FROM events WHERE event_type = 'view') r
         ON l.user_id = r.user_id
        AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= {RANGE_W_US}""",
    doc="W6: banded range join — click↔view pairs of the same user within "
    "±24 h; band = ts div width, right fans to 3 neighbor bands, "
    "equi-join + exact filter (beyond-reference interval-join primitive)",
)
def w6_range_join(spark, sf_dir):
    from mrf_etl_spark.operators.rangejoin import range_join

    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts_ns div 1000"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts_us").alias("l_us")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts_us").alias("r_us")
    )
    return range_join(
        clicks, views, on="user_id", left_ts="l_us", right_ts="r_us", width=RANGE_W_US
    ).select(
        "user_id",
        "click_id",
        "view_id",
        (F.col("r_us") - F.col("l_us")).alias("dt_us"),
    )


@register(
    "w4_asof_join",
    # DuckDB has native ASOF JOIN (latest r.ts <= l.ts per key, equal ts
    # included) — the Spark side reproduces it with the union-and-carry
    # window plan in operators/asof.py (one shuffle on the key, no range
    # join). ts comparisons run on raw nanos timestamps (DuckDB) vs ts_ns
    # longs (Spark): identical ordering.
    """SELECT l.user_id, l.event_id AS click_id,
              round(l.value, 2) AS click_value,
              r.event_id AS view_id, round(r.value, 2) AS view_value
       FROM (SELECT * FROM events WHERE event_type = 'click') l
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
    doc="W4: as-of join — for every click, the user's most recent view at "
    "or before it; beyond-reference (point-in-time attribution / feature "
    "joins), Spark-side via operators/asof.py union+window carry",
)
def w4_asof_join(spark, sf_dir):
    from mrf_etl_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.round("value", 2).alias("click_value"),
        "ts_ns",
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "value", "ts_ns"
    )
    return asof_join(
        clicks, views, on="user_id", left_ts="ts_ns", right_ts="ts_ns",
        right_cols=["event_id", "value"],
    ).select(
        "user_id",
        "click_id",
        "click_value",
        F.col("event_id_asof").alias("view_id"),
        F.round("value_asof", 2).alias("view_value"),
    )


@register(
    "k1_topk",
    """SELECT * FROM (
         SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
         FROM lineitem
         ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100)""",
    doc="§2.6: top-k rates ORDER BY rate DESC LIMIT n "
    "(optimized_queries.py:687-688); Spark plans TakeOrderedAndProject",
)
def k1_topk(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))
        .orderBy(F.col("price").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(100)
    )


@register(
    "k2_pagination",
    """SELECT o_orderkey, o_orderpriority FROM orders
       ORDER BY o_orderkey LIMIT 50 OFFSET 100""",
    doc="§2.6: LIMIT/OFFSET pagination over a total order "
    "(optimized_queries.py:866-883)",
)
def k2_pagination(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
    )


@register(
    "k3_autocomplete",
    """SELECT p_name AS value, count(*) AS n FROM part
       WHERE lower(p_name) LIKE '%r%'
       GROUP BY p_name ORDER BY n DESC, value ASC LIMIT 15""",
    doc="§3.3 autocomplete endpoint (webapp/backend/main.py:791-906): "
    "case-insensitive substring match on a dimension column, "
    "most-common-first LIMIT k; ties broken by value for a total order",
)
def k3_autocomplete(spark, sf_dir):
    return (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").ilike("%r%"))
        .groupBy(F.col("p_name").alias("value"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("value").asc())
        .limit(15)
    )


@register(
    "k4_detail_page",
    """SELECT o.o_orderkey, l.l_linenumber,
              coalesce(p.p_name, CAST(l.l_partkey AS VARCHAR)) AS code_desc,
              CASE WHEN l.l_extendedprice IS NULL OR l.l_extendedprice = 0
                   THEN 0.0 ELSE round(l.l_extendedprice, 2) END AS rate,
              l.l_returnflag
       FROM lineitem l
       JOIN orders o ON o.o_orderkey = l.l_orderkey
       LEFT JOIN part p ON p.p_partkey = l.l_partkey
       WHERE o.o_orderstatus = 'F' AND l.l_returnflag = 'R'
       ORDER BY code_desc, rate, o.o_orderkey, l.l_linenumber
       LIMIT 100""",
    doc="rate-detail endpoint shape (backend/main.py:329-411 → "
    "StarLake.rate_detail): scope filters + dim-description COALESCE + "
    "zero-guarded rounding + total-ordered page (unique tie-break — the "
    "reference's ORDER BY has ties, which under LIMIT are "
    "non-deterministic results)",
)
def k4_detail_page(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    p = t(spark, sf_dir, "part")
    rate = F.when(
        F.col("l_extendedprice").isNull() | (F.col("l_extendedprice") == 0), F.lit(0.0)
    ).otherwise(F.round("l_extendedprice", 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey, "left")
        .select(
            "o_orderkey",
            "l_linenumber",
            F.coalesce("p_name", F.col("l_partkey").cast("string")).alias("code_desc"),
            rate.alias("rate"),
            "l_returnflag",
        )
        .orderBy("code_desc", "rate", "o_orderkey", "l_linenumber")
        .limit(100)
    )


@register(
    "u1_union_tolerant",
    f"""SELECT count(*) AS n, count(o_orderpriority) AS n_priority,
              {money_sum_sql('o_totalprice')} AS total
       FROM (SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
             FROM orders
             UNION ALL
             SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority FROM orders)""",
    doc="§2.7: schema-tolerant UNION ALL — unionByName(allowMissingColumns) "
    "(utils_nppes.py:239-243, vertical_relaxed concat)",
)
def u1_union_tolerant(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_totalprice")
    b = o.select("o_orderkey", "o_orderpriority")
    return a.unionByName(b, allowMissingColumns=True).agg(
        F.count("*").alias("n"),
        F.count("o_orderpriority").alias("n_priority"),
        money_sum("o_totalprice").alias("total"),
    )


# =====================================================================
# §2.8 Scalar functions
# =====================================================================


@register(
    "f_slugify",
    """SELECT c_custkey,
              trim(regexp_replace(lower(c_name), '[^a-z0-9]+', '_', 'g'), '_')
                AS slug
       FROM customer""",
    doc="§2.8: slugify — lower, collapse non-alnum runs, strip "
    "(ETL_1.py:79-84 / notebook.py:43)",
)
def f_slugify(spark, sf_dir):
    return t(spark, sf_dir, "customer").select(
        "c_custkey", slugify("c_name", "_").alias("slug")
    )


@register(
    "f_hash_uid",
    """SELECT o_orderkey,
              md5(concat(o_orderstatus, '|', o_orderpriority, '|',
                         printf('%.4f', o_totalprice))) AS uid
       FROM orders""",
    doc="§2.8: md5 surrogate key with pipe-join + %.4f rate serialization "
    "(fact_uid recipe, ETL_1.py:173-199) — byte parity with the oracle",
)
def f_hash_uid(spark, sf_dir):
    from mrf_etl_spark.functions import md5_join, rate_4f

    o = t(spark, sf_dir, "orders")
    uid = F.md5(
        F.concat_ws(
            "|",
            F.coalesce(F.col("o_orderstatus"), F.lit("")),
            F.coalesce(F.col("o_orderpriority"), F.lit("")),
            rate_4f("o_totalprice"),
        )
    )
    return o.select("o_orderkey", uid.alias("uid"))


@register(
    "f_year_month",
    """SELECT strftime(ts, '%Y-%m') AS year_month, count(*) AS n
       FROM events GROUP BY year_month""",
    doc="§2.8: date → 'YYYY-MM' month key (notebook.py:130-135); session "
    "TZ pinned UTC so both engines see the same wall-clock fields",
)
def f_year_month(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM").alias("year_month"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "f_zip5_lpad",
    """SELECT s_suppkey,
              lpad(regexp_extract(CAST(s_suppkey AS VARCHAR), '([0-9]{1,5})', 1),
                   5, '0') AS zip5
       FROM supplier""",
    doc="§2.8: zip5 — first digit run zero-padded to 5 "
    "(rate_calculator.py:55,98; main.py:453-456)",
)
def f_zip5_lpad(spark, sf_dir):
    return t(spark, sf_dir, "supplier").select("s_suppkey", zip5("s_suppkey").alias("zip5"))


@register(
    "f_array_normalize",
    """SELECT p_partkey,
              array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',')
                AS words,
              len(list_distinct(string_split(p_name, ' '))) AS n_words
       FROM part""",
    doc="§2.8 array: split → distinct → sort (service_codes normalize, "
    "ETL_1.py:109-145); joined to string for engine-neutral compare",
)
def f_array_normalize(spark, sf_dir):
    words = F.array_sort(F.array_distinct(F.split(F.col("p_name"), " ")))
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.array_join(words, ",").alias("words"),
        F.size(F.array_distinct(F.split(F.col("p_name"), " "))).alias("n_words"),
    )


@register(
    "x1_explode",
    """SELECT word, count(*) AS n FROM (
         SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
       GROUP BY word""",
    doc="§2.8 explode: array → rows (xref_pos build, notebook.py:167)",
)
def x1_explode(spark, sf_dir):
    return (
        t(spark, sf_dir, "part")
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "f_json_extract",
    """SELECT event_type,
              round(avg(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)), 2)
                AS avg_k
       FROM events GROUP BY event_type""",
    doc="§2.8 json: extract nested field from a JSON string column "
    "(NPPES payload parse, geocoder.py:156-217). Spark uses a real JSON "
    "path (get_json_object); the oracle regexes the same value out.",
)
def f_json_extract(spark, sf_dir):
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.round(F.avg(k), 2).alias("avg_k"))
    )


@register(
    "f_math_formula",
    """SELECT l_orderkey, l_linenumber,
              (l_quantity * CAST(1.1 AS DOUBLE)
               + l_extendedprice * CAST(0.01 AS DOUBLE)
               + l_tax * CAST(3.5 AS DOUBLE)) * CAST(32.35 AS DOUBLE)
                AS calc_rate
       FROM lineitem""",
    doc="§2.8 math: the Medicare professional formula shape "
    "(w*g1 + p*g2 + m*g3) * CF (main.py:495-510)",
)
def f_math_formula(spark, sf_dir):
    # unrounded: identical double op order on identical inputs is
    # bit-exact across engines; round(double) itself is engine-divergent
    # at midpoints (see _pctl_sql note)
    calc = (
        F.col("l_quantity") * 1.1 + F.col("l_extendedprice") * 0.01 + F.col("l_tax") * 3.5
    ) * 32.35
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", calc.alias("calc_rate")
    )


def _cpt_code_sql(col: str = "p_partkey") -> str:
    return (
        f"CASE WHEN {col} % 97 = 0 THEN 'G0008' "
        f"WHEN {col} % 89 = 0 THEN 'IME01' "
        f"WHEN {col} % 83 = 0 THEN 'ABC' "
        f"ELSE CAST(10000 + ({col} * 449) % 90000 AS VARCHAR) END"
    )


def _cpt_code_expr(col: str = "p_partkey") -> F.Column:
    k = F.col(col)
    return (
        F.when(k % 97 == 0, F.lit("G0008"))
        .when(k % 89 == 0, F.lit("IME01"))
        .when(k % 83 == 0, F.lit("ABC"))
        .otherwise((F.lit(10000) + (k * 449) % 90000).cast("string"))
    )


@register(
    "f_categorizer",
    f"""WITH coded AS (SELECT {_cpt_code_sql()} AS code FROM part)
       SELECT {categorize_sql_case('code', 0)} AS procedure_set,
              {categorize_sql_case('code', 1)} AS procedure_class,
              {categorize_sql_case('code', 2)} AS procedure_group,
              count(*) AS n
       FROM coded GROUP BY 1, 2, 3""",
    doc="§2.9: the CPT categorizer (~40-rule hierarchy, "
    "categorizer.py:69-254) as a native when()-chain; oracle CASE is "
    "generated from the SAME rule table",
)
def f_categorizer(spark, sf_dir):
    from mrf_etl_spark.functions.categorizer import with_categories

    # staged attributes + one struct-valued chain: conditions evaluate
    # once for all three levels, and the synthetic code expression is NOT
    # duplicated into the 45 branch conditions (plan 30 KB → 7 KB)
    coded = t(spark, sf_dir, "part").select(_cpt_code_expr().alias("code"))
    return (
        with_categories(coded, "code")
        .groupBy("procedure_set", "procedure_class", "procedure_group")
        .agg(F.count("*").alias("n"))
    )


@register(
    "w7_rolling_metrics",
    # Exact-decimal running sums (order-independent) — DuckDB evaluates
    # sliding frames with segment trees, a DIFFERENT float addition order
    # than Spark's running pass, so double sums would hash-mismatch. One
    # double division at the edge, identical operands both engines.
    """SELECT user_id, event_id,
              CAST(sum(CAST(value AS DECIMAL(38,4))) OVER cum AS DOUBLE) AS cum_sum,
              count(*) OVER cum AS cum_n,
              CAST(sum(CAST(value AS DECIMAL(38,4))) OVER trail AS DOUBLE) AS roll_sum,
              CAST(sum(CAST(value AS DECIMAL(38,4))) OVER trail AS DOUBLE)
                / CAST(count(*) OVER trail AS DOUBLE) AS roll_avg
       FROM events
       WINDOW cum AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                      ROWS UNBOUNDED PRECEDING),
              trail AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
    doc="W7 (beyond-reference): per-key cumulative + trailing-5 rolling "
    "metrics via operators/rolling.py — ONE window shuffle on the key, "
    "exact-decimal sums for cross-engine determinism",
)
def w7_rolling_metrics(spark, sf_dir):
    from mrf_etl_spark.operators.rolling import rolling_metrics

    ev = (
        t(spark, sf_dir, "events")
        .withColumn("ts_us", F.expr("ts_ns div 1000"))
        .select("user_id", "event_id", "value", "ts_us")
    )
    return rolling_metrics(
        ev, "user_id", ["ts_us", "event_id"], "value",
        trailing_rows=5, decimal_type="decimal(38,4)",
    ).select("user_id", "event_id", "cum_sum", "cum_n", "roll_sum", "roll_avg")


@register(
    "j13_salted_skew_join",
    # the salt collapses before output, so the truth is the PLAIN join —
    # the oracle proves salting is invisible to results
    """WITH seg AS (
         SELECT c_custkey, c_mktsegment FROM customer),
       fact AS (
         SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
       SELECT f.o_orderkey, f.o_custkey,
              round(f.o_totalprice, 2) AS total, s.c_mktsegment
       FROM fact f JOIN seg s ON f.o_custkey = s.c_custkey""",
    doc="J13 (beyond-reference, brief bullet 'salting for skew'): the "
    "orders fact joins the customer dim through operators/skew.py "
    "salted_join — each key spreads over 8 shuffle sub-keys (hot-key "
    "mitigation when AQE can't split and the dim is too big to "
    "broadcast); results byte-match the plain join",
)
def j13_salted_skew_join(spark, sf_dir):
    from mrf_etl_spark.operators.skew import salted_join

    fact = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total")
    )
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return salted_join(
        fact, dim, on=["o_custkey"], salt_col="o_orderkey", n_salt=8
    ).select("o_orderkey", "o_custkey", "total", "c_mktsegment")


@register(
    "j19_bloom_pruned_join",
    # the Bloom prune is result-invisible (no false negatives; FPs die
    # in the exact join), so the truth is the PLAIN join — the oracle
    # proves the runtime filter changes cost, never rows
    """SELECT p.p_type, count(*) AS n,
              sum(CAST(l.l_quantity AS BIGINT)) AS qty
       FROM lineitem l
       JOIN (SELECT p_partkey, p_type FROM part WHERE p_brand = 'Brand#11') p
         ON l.l_partkey = p.p_partkey
       GROUP BY p.p_type""",
    doc="J19 (beyond-reference, brief bullet 'minimize shuffles'): an "
    "explicit Bloom runtime filter — the selective part slice's keys "
    "compile into a 16 KiB bitset and lineitem drops non-candidate rows "
    "AT THE SCAN (~24/25 of the fact at this selectivity), before any "
    "shuffle; the plan-level form of Spark's runtime bloomFilter "
    "injection for when the optimizer can't see the dim's selectivity",
)
def j19_bloom_pruned_join(spark, sf_dir):
    from mrf_etl_spark.operators.skew import bloom_pruned_join

    fact = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    dim = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select("p_partkey", "p_type")
    )
    return (
        bloom_pruned_join(fact, dim, on=["p_partkey"])
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )


@register(
    "q1_quality_report",
    """SELECT 'fk_lineitem_orders' AS check,
              count(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_bad,
              count(*) AS n_total,
              CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS bad_rate
       FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
         ON l.l_orderkey = o.o_orderkey
       UNION ALL
       SELECT 'fk_orders_customer',
              count(*) FILTER (WHERE c.c_custkey IS NULL), count(*),
              CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)
       FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
         ON o.o_custkey = c.c_custkey
       UNION ALL
       SELECT 'fk_customer_nation',
              count(*) FILTER (WHERE n.n_nationkey IS NULL), count(*),
              CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)
       FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
         ON c.c_nationkey = n.n_nationkey
       UNION ALL
       SELECT 'null_events_props',
              count(*) FILTER (WHERE props IS NULL), count(*),
              CAST(count(*) FILTER (WHERE props IS NULL) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)
       FROM events
       UNION ALL
       SELECT 'range_l_quantity_1_50',
              count(*) FILTER (WHERE l_quantity IS NULL
                               OR l_quantity < 1 OR l_quantity > 50),
              count(*),
              CAST(count(*) FILTER (WHERE l_quantity IS NULL
                                    OR l_quantity < 1 OR l_quantity > 50) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)
       FROM lineitem
       UNION ALL
       SELECT 'range_l_discount_0_0.1',
              count(*) FILTER (WHERE l_discount IS NULL
                               OR l_discount < 0 OR l_discount > 0.1),
              count(*),
              CAST(count(*) FILTER (WHERE l_discount IS NULL
                                    OR l_discount < 0 OR l_discount > 0.1) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)
       FROM lineitem""",
    doc="Q1: declarative lake quality report — FK-orphan, null, and range "
    "checks as one unioned plan of O(1)-output aggregates "
    "(plans/quality.py; the notebook validation cells as an operator)",
)
def q1_quality_report(spark, sf_dir):
    from mrf_etl_spark.plans.quality import fk_check, null_check, quality_report, range_check

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    ev = t(spark, sf_dir, "events")
    return quality_report(
        [
            fk_check(li, orders, "fk_lineitem_orders", "l_orderkey", "o_orderkey"),
            fk_check(orders, cust, "fk_orders_customer", "o_custkey", "c_custkey"),
            fk_check(cust, nat, "fk_customer_nation", "c_nationkey", "n_nationkey"),
            null_check(ev, "null_events_props", "props"),
            range_check(li, "range_l_quantity_1_50", "l_quantity", 1, 50),
            range_check(li, "range_l_discount_0_0.1", "l_discount", 0, 0.1),
        ]
    )


@register(
    "x2_json_explode",
    # ground truth built relationally: the JSON is constructed from the
    # same columns, so the oracle emits the two (k, v) rows per event
    # directly — what from_json + explode must reconstruct
    """SELECT event_id, event_type AS k, user_id AS v FROM events
       UNION ALL
       SELECT event_id, 'x' AS k, event_id AS v FROM events""",
    doc="x2: nested-JSON ingestion — from_json(array<struct>) + explode "
    "(the reference's NPPES payloads are JSON arrays of structs; "
    "enrichment.py:150 parses them the same way); schema-on-read stays "
    "scan-local, no shuffle",
)
def x2_json_explode(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    j = F.concat(
        F.lit('[{"k":"'),
        F.col("event_type"),
        F.lit('","v":'),
        F.col("user_id").cast("string"),
        F.lit('},{"k":"x","v":'),
        F.col("event_id").cast("string"),
        F.lit("}]"),
    )
    parsed = F.from_json(j, "array<struct<k string, v bigint>>")
    return (
        ev.select("event_id", F.explode(parsed).alias("e"))
        .select("event_id", F.col("e.k").alias("k"), F.col("e.v").alias("v"))
    )


@register(
    "s18_compaction",
    # compaction must be invisible to readers: rows and exact value sums
    # over the compacted copy equal the source table
    f"""SELECT count(*) AS n_rows,
              {money_sum_sql('value')} AS val_sum,
              count(DISTINCT event_id) AS n_ids
       FROM events""",
    doc="S18 (beyond-reference): small-file compaction — an upsert lake's "
    "maintenance pass; 32 accreted files rewritten to byte-sized file "
    "count with an atomic swap (io/writers.py:compact_parquet), verified "
    "invisible to readers (rows + exact sums + key counts unchanged)",
)
def s18_compaction(spark, sf_dir):
    from mrf_etl_spark.io.writers import compact_parquet

    scratch = _scratch("s18_lake")
    # simulate the accreted small-file state an append/upsert lake reaches
    t(spark, sf_dir, "events").repartition(32).write.parquet(scratch)
    n_out = compact_parquet(spark, scratch, target_bytes=1 << 30)
    assert n_out == 1  # sf0.01 events is ~1 MB on disk
    return spark.read.parquet(scratch).agg(
        F.count("*").alias("n_rows"),
        money_sum("value").alias("val_sum"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@register(
    "mv1_materialized_rollup",
    # truth = aggregating the base table directly; the entry must get the
    # same values through the materialize → partition-pruned read path
    f"""SELECT l_returnflag, l_linestatus, l_tax AS bucket_tax,
              count(*) AS n, {money_sum_sql('l_extendedprice')} AS revenue
       FROM lineitem
       WHERE l_returnflag = 'R'
       GROUP BY 1, 2, 3""",
    doc="MV1: the reference's materialized-view serving path "
    "(DASHBOARD_OPTIMIZATION_GUIDE.md:9-19, 2-5 s scans → 50-200 ms MV "
    "reads): rollup materialized partitioned-by-returnflag, dashboard "
    "query reads ONLY the pruned partition; values must equal the "
    "direct aggregation",
)
def mv1_materialized_rollup(spark, sf_dir):
    mv = _scratch("mv1_serving")
    (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus", F.col("l_tax").alias("bucket_tax"))
        .agg(F.count("*").alias("n"), money_sum("l_extendedprice").alias("revenue"))
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(mv)
    )
    return (
        spark.read.parquet(mv)
        .filter(F.col("l_returnflag") == "R")  # partition-pruned serving read
        .select("l_returnflag", "l_linestatus", "bucket_tax", "n", "revenue")
    )


@register(
    "pipe0_enrich",
    # The oracle replays the pipeline's SEMANTICS phase by phase (the
    # rename/drop bookkeeping has no effect on the aggregated output):
    # J1 rates⋈providers → S8/J2 dim_npi join → P5 state filter → J3
    # GA-WC coalesce-merge → categorizer → rollup.
    f"""WITH rates AS (
         SELECT l_suppkey AS provider_reference_id,
                {_cpt_code_sql('l_partkey')} AS billing_code,
                l_extendedprice AS rate
         FROM lineitem),
       prov AS (
         SELECT s_suppkey,
                CAST(1000000000 + s_suppkey AS VARCHAR) AS npi,
                CASE s_suppkey % 4 WHEN 0 THEN 'GA' WHEN 1 THEN 'FL'
                     WHEN 2 THEN 'TN' ELSE 'AL' END AS state
         FROM supplier),
       ga_wc AS (
         SELECT {_cpt_code_sql('p_partkey')} AS code,
                min(p_retailprice) * 0.8 AS prof_mar
         FROM part WHERE p_partkey % 2 = 0 GROUP BY 1),
       wide AS (
         SELECT r.billing_code, r.rate, p.npi AS prov_npi, p.state,
                g.prof_mar AS ga_prof_mar
         FROM rates r
         LEFT JOIN prov p ON r.provider_reference_id = p.s_suppkey
         LEFT JOIN ga_wc g ON r.billing_code = g.code
         WHERE p.state = 'GA'),
       cat AS (
         SELECT *, {categorize_sql_case('billing_code', 0)} AS procedure_set,
                {categorize_sql_case('billing_code', 1)} AS procedure_class
         FROM wide)
       SELECT state, procedure_set, procedure_class,
              count(*) AS n, {money_sum_sql('rate')} AS rate_sum,
              count(ga_prof_mar) AS n_ga,
              count(DISTINCT prov_npi) AS n_npi
       FROM cat GROUP BY 1, 2, 3""",
    doc="pipe0: the END-TO-END enrichment pipeline (SURVEY §3.1; reference "
    "main.py:54-164 run_full_pipeline) — extract+merge, rename/drop/init, "
    "NPPES dim join, state filter, GA-WC coalesce-merge, categorizer — "
    "composed as ONE lazy plan over testdata-shaped fixtures "
    "(plans/enrich_pipeline.py:205), rolled up to a stable aggregate. "
    "Billing-code filter (P4) passes through here (no code file) and "
    "geocode/benchmarks are exercised by their own entries (s9, j7).",
)
def pipe0_enrich(spark, sf_dir):
    from mrf_etl_spark.plans.enrich_pipeline import run_pipeline

    li = t(spark, sf_dir, "lineitem")
    rates = li.select(
        F.col("l_suppkey").alias("provider_reference_id"),
        _cpt_code_expr("l_partkey").alias("billing_code"),
        F.lit("CPT").alias("billing_code_type"),
        F.col("l_extendedprice").alias("negotiated_rate"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("last_updated_on"),
        F.lit("PayerOne").alias("reporting_entity_name"),
        F.lit("payer").alias("reporting_entity_type"),
        F.lit("1.0").alias("version"),
        F.concat(F.lit("svc "), _cpt_code_expr("l_partkey")).alias("description"),
    )
    sup = t(spark, sf_dir, "supplier")
    npi = (F.lit(1000000000) + F.col("s_suppkey")).cast("string")
    # overlapping non-key columns on BOTH sides exercise the pandas-merge
    # _x/_y suffixing that the rename/drop maps are written against
    providers = sup.select(
        F.col("s_suppkey").alias("provider_group_id"),
        npi.alias("npi"),
        F.lit("ProvNet").alias("reporting_entity_name"),
        F.lit("network").alias("reporting_entity_type"),
        F.lit("0.9").alias("version"),
        F.lit("2023-01-01").alias("last_updated_on"),
    )
    state = F.element_at(
        F.array(F.lit("GA"), F.lit("FL"), F.lit("TN"), F.lit("AL")),
        ((F.col("s_suppkey") % 4) + 1).cast("int"),
    )
    dim_npi = sup.select(
        npi.alias("npi"),
        state.alias("state"),
        F.concat(F.lit("clinic "), F.col("s_suppkey")).alias("primary_taxonomy_desc"),
    )
    # half the code space carries a fee schedule → the GA_* coalesce sees
    # both matched and NULL paths; CODE is unique (grouped) so the J3
    # left join never multiplies rows
    ga_wc = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 2 == 0)
        .groupBy(_cpt_code_expr("p_partkey").alias("CODE"))
        .agg(
            (F.min("p_retailprice") * 0.8).alias("PROF MAR"),
            (F.min("p_retailprice") * 0.9).alias("OP MAR"),
            (F.min("p_retailprice") * 0.5).alias("ASC MAR"),
        )
        .withColumn("DESCRIPTION", F.lit("wc"))
    )
    wide = run_pipeline(spark, rates, providers, dim_npi, ga_wc=ga_wc)
    return wide.groupBy("state", "procedure_set", "procedure_class").agg(
        F.count("*").alias("n"),
        money_sum("rate").alias("rate_sum"),
        F.count("GA_PROF_MAR").alias("n_ga"),
        F.countDistinct("prov_npi").alias("n_npi"),
    )


# =====================================================================
# beyond-reference: pivot / unpivot / time-spine gap fill
# =====================================================================

_A15_KINDS = ["view", "click", "purchase", "signup", "error"]


@register(
    "a15_pivot_matrix",
    # conditional-count replay of the fixed-value-list pivot
    f"""SELECT user_id,
              {', '.join(
                  f"CAST(count(*) FILTER (WHERE event_type = '{k}') AS BIGINT)"
                  f" AS n_{k}" for k in _A15_KINDS)}
       FROM events GROUP BY user_id""",
    doc="a15: true pivot (beyond-ref) — per-user activity matrix, one "
    "count column per event type via groupBy().pivot() with an EXPLICIT "
    "value list: the fixed list keeps the schema static (no extra "
    "distinct-values job, no schema drift between runs) and the plan a "
    "single hash aggregation — the dynamic-pivot trap at 100 TB is the "
    "hidden collect of distinct keys, not the agg.",
)
def a15_pivot_matrix(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _A15_KINDS)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _A15_KINDS)
    )
    return out.select(
        "user_id",
        *[F.col(k).cast("long").alias(f"n_{k}") for k in _A15_KINDS],
    )


@register(
    "x3_unpivot",
    # UNION ALL replay of melt over the same pivoted matrix
    " UNION ALL ".join(
        f"""SELECT user_id, 'n_{k}' AS metric,
                  CAST(count(*) FILTER (WHERE event_type = '{k}') AS BIGINT) AS n
           FROM events GROUP BY user_id"""
        for k in _A15_KINDS
    ),
    doc="x3: unpivot/melt (beyond-ref) — the a15 activity matrix back to "
    "long form (user_id, metric, n) with DataFrame.unpivot: a zero-"
    "shuffle Expand over the aggregated matrix (5x the matrix rows, "
    "never 5x the event rows).",
)
def x3_unpivot(spark, sf_dir):
    wide = a15_pivot_matrix(spark, sf_dir)
    return wide.unpivot(
        "user_id", [f"n_{k}" for k in _A15_KINDS], "metric", "n"
    )


@register(
    "w9_gapfill_locf",
    # daily per-user spine + LOCF replayed with generate_series and
    # last_value IGNORE NULLS; the filled metric is the exact decimal
    # day-sum (money_sum) so the carried value is bit-identical
    f"""WITH daily AS (
         SELECT user_id, date_trunc('day', ts) AS day,
                {money_sum_sql('value')} AS v, count(*) AS n
         FROM events GROUP BY 1, 2),
       bounds AS (
         SELECT user_id, min(day) AS d0, max(day) AS d1
         FROM daily GROUP BY 1),
       spine AS (
         SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
         FROM bounds),
       j AS (
         SELECT s.user_id, s.day, d.v, coalesce(d.n, 0) AS n
         FROM spine s LEFT JOIN daily d USING (user_id, day))
       SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
              CAST(n AS BIGINT) AS n_events,
              last_value(v IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
       FROM j""",
    doc="w9: time-spine gap fill + last-observation-carried-forward "
    "(beyond-ref; the resample/ffill shape every time-series feature "
    "pipeline needs) — per-key daily spine from the key's own bounds "
    "(sequence + explode: generated map-side from the tiny bounds agg, "
    "never a calendar cross join), left join of the daily rollup, then "
    "F.last(ignorenulls) over one key-ordered window. Two key-keyed "
    "shuffles total (daily agg reused for bounds); the carried metric is "
    "the exact decimal day-sum so LOCF parity is bit-identical.",
)
def w9_gapfill_locf(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(money_sum("value").alias("v"), F.count("*").alias("n"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


@register(
    "w10_ohlc_downsample",
    # open/close replayed with mirrored row_numbers; low/high/min are
    # order-independent; the sum is the exact decimal money_sum
    f"""WITH e AS (
         SELECT user_id, date_trunc('day', ts) AS day, epoch_us(ts) AS tu,
                event_id, value
         FROM events),
       r AS (
         SELECT *,
                row_number() OVER (PARTITION BY user_id, day
                                   ORDER BY tu ASC, event_id ASC) AS ra,
                row_number() OVER (PARTITION BY user_id, day
                                   ORDER BY tu DESC, event_id DESC) AS rd
         FROM e)
       SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
              CAST(count(*) AS BIGINT) AS n_events,
              min(value) AS v_low, max(value) AS v_high,
              max(CASE WHEN ra = 1 THEN value END) AS v_open,
              max(CASE WHEN rd = 1 THEN value END) AS v_close,
              {money_sum_sql('value')} AS v_sum
       FROM r GROUP BY user_id, day""",
    doc="w10: OHLC time-bucket downsample (beyond-ref; the hypertable/"
    "candlestick rollup) — per (key, day): first/last value in exact "
    "event order plus min/max/count/exact-decimal sum. Open and close "
    "come from mirrored row_numbers over ONE (key, day) partitioning — "
    "a single exchange feeds both windows and the final partial-agg "
    "rollup; (ts, event_id) tie-break totalizes the order so the result "
    "is deterministic under any parallelism.",
)
def w10_ohlc_downsample(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "ts_ns",
        "event_id",
        "value",
    )
    # order on MICROSECOND-truncated time (matching the oracle's epoch_us
    # ordering), so a sub-µs ts_ns difference can't let Spark break ties
    # by nanos while the oracle falls to the event_id tie-break — same
    # scheme as w14/w16
    tu = F.expr("ts_ns div 1000")
    wa = Window.partitionBy("user_id", "day").orderBy(
        tu.asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("user_id", "day").orderBy(
        tu.desc(), F.col("event_id").desc()
    )
    r = ev.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rd", F.row_number().over(wd)
    )
    # group on the RAW (user_id, day) keys — the same partitioning the
    # windows installed, so the agg rides the existing exchange; grouping
    # on the formatted string instead would re-shuffle (measured: 2
    # exchanges -> 1). Format for output only.
    out = r.groupBy("user_id", "day").agg(
        F.count("*").alias("n_events"),
        F.min("value").alias("v_low"),
        F.max("value").alias("v_high"),
        F.max(F.when(F.col("ra") == 1, F.col("value"))).alias("v_open"),
        F.max(F.when(F.col("rd") == 1, F.col("value"))).alias("v_close"),
        money_sum("value").alias("v_sum"),
    )
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events", "v_low", "v_high", "v_open", "v_close", "v_sum",
    )


@register(
    "u2_intersect_except",
    # which (user, event type) pairs appear in BOTH January halves, and
    # which only in the first — closes SURVEY §2.7's set-op family beyond
    # anti-join; the pair grain keeps BOTH branches non-empty on the
    # testdata (every bare type occurs in both halves)
    """SELECT 'both' AS part, user_id, event_type FROM (
         SELECT user_id, event_type FROM events WHERE day(ts) <= 25
         INTERSECT
         SELECT user_id, event_type FROM events WHERE day(ts) > 25)
       UNION ALL
       SELECT 'first_only' AS part, user_id, event_type FROM (
         SELECT user_id, event_type FROM events WHERE day(ts) <= 25
         EXCEPT
         SELECT user_id, event_type FROM events WHERE day(ts) > 25)""",
    doc="u2: INTERSECT / EXCEPT set ops (beyond-ref; SURVEY §2.7 notes "
    "the reference has neither) — distinct event types present in both "
    "month halves vs only the first. Both rewrite to hash semi/anti "
    "joins over DISTINCT inputs: one shuffle each on the compared "
    "column, scale-safe.",
)
def u2_intersect_except(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    first = ev.filter(F.dayofmonth("ts") <= 25).select("user_id", "event_type")
    second = ev.filter(F.dayofmonth("ts") > 25).select("user_id", "event_type")
    both = first.intersect(second).select(
        F.lit("both").alias("part"), "user_id", "event_type"
    )
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep the
    # first side's duplicate rows and survive with pairs that DO appear
    # in the second half
    only = first.subtract(second).select(
        F.lit("first_only").alias("part"), "user_id", "event_type"
    )
    return both.unionByName(only)


K5_PAGE = 50
K5_AFTER = (3000, 2)  # keyset cursor: last (o_orderkey, l_linenumber) seen


@register(
    "k5_keyset_pagination",
    f"""SELECT l_orderkey, l_linenumber, l_extendedprice AS price
       FROM lineitem
       WHERE (l_orderkey, l_linenumber) > ({K5_AFTER[0]}, {K5_AFTER[1]})
       ORDER BY l_orderkey, l_linenumber
       LIMIT {K5_PAGE}""",
    doc="k5: keyset (cursor) pagination (beyond-ref) — the scale-correct "
    "alternative to k2's LIMIT/OFFSET: OFFSET n still produces and "
    "discards n rows per page, so page p costs O(p); the keyset "
    "predicate on the ordered unique key pushes into the scan "
    "(PushedFilters on l_orderkey) and every page costs O(page). "
    "Row-value comparison expressed as the expanded OR so both engines "
    "plan plain range predicates.",
)
def k5_keyset_pagination(spark, sf_dir):
    ok, ln = K5_AFTER
    after = (F.col("l_orderkey") > ok) | (
        (F.col("l_orderkey") == ok) & (F.col("l_linenumber") > ln)
    )
    return (
        t(spark, sf_dir, "lineitem")
        .filter(after)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(K5_PAGE)
    )


@register(
    "x4_map_explode",
    # the relational ground truth extracts the same key/value pairs the
    # map parse must reconstruct
    """SELECT 'k' AS key,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
                            AS BIGINT)) AS BIGINT) AS v_sum,
              CAST(min(CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
                            AS BIGINT)) AS BIGINT) AS v_min,
              CAST(max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
                            AS BIGINT)) AS BIGINT) AS v_max
       FROM events WHERE props IS NOT NULL""",
    doc="x4: MapType end-to-end (beyond-ref; the one Spark column family "
    "the catalog lacked) — from_json(props) as map<string,bigint>, "
    "explode to (key, value) rows, per-key rollup. The parse and "
    "explode stay scan-local; only the tiny per-key partial aggs "
    "shuffle. Integer sums keep parity exact.",
)
def x4_map_explode(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    m = F.from_json("props", "map<string, bigint>")
    return (
        ev.select(F.explode(m).alias("key", "value"))
        .groupBy("key")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("v_sum"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
    )


@register(
    "w13_asof_forward",
    # the forward direction: for every view, the user's EARLIEST click at
    # or after it (time-to-next-action attribution). DuckDB ASOF with the
    # <= comparison is the native twin.
    """SELECT l.user_id, l.event_id AS view_id,
              round(l.value, 2) AS view_value,
              r.event_id AS click_id, round(r.value, 2) AS click_value
       FROM (SELECT * FROM events WHERE event_type = 'view') l
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
         ON l.user_id = r.user_id AND l.ts <= r.ts""",
    doc="w13: forward as-of join (beyond-ref) — for every view, the "
    "user's earliest click at or after it: the time-to-next-action twin "
    "of w4's point-in-time lookback, exercising asof_join's "
    "direction='forward' carry (earliest-wins over the same single "
    "key shuffle).",
)
def w13_asof_forward(spark, sf_dir):
    from mrf_etl_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.round("value", 2).alias("view_value"),
        "ts_ns",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "value", "ts_ns"
    )
    return asof_join(
        views,
        clicks,
        on="user_id",
        left_ts="ts_ns",
        right_ts="ts_ns",
        right_cols=["event_id", "value"],
        direction="forward",
    ).select(
        "user_id",
        "view_id",
        "view_value",
        F.col("event_id_asof").alias("click_id"),
        F.round("value_asof", 2).alias("click_value"),
    )


W14_HOURS = 24


@register(
    "w14_trailing_window",
    # RANGE frame on event time: every event sees the sum/count of the
    # same user's events in the trailing 24 h INCLUDING itself. Values
    # quantize to integer cents before the frame sum (the st4 discipline)
    # so the running totals are exact whatever order the frame
    # accumulates in.
    f"""SELECT user_id, event_id,
              CAST(cnt_24h AS BIGINT) AS cnt_24h,
              CAST(CAST(sum_cents AS DOUBLE) / 100 AS DOUBLE) AS sum_24h
       FROM (
         SELECT user_id, event_id,
                count(*) OVER w AS cnt_24h,
                sum(CAST(round(value * 100) AS BIGINT)) OVER w AS sum_cents
         FROM events
         WINDOW w AS (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN {W14_HOURS * 3600 * 1000000} PRECEDING
                 AND CURRENT ROW))""",
    doc="w14: time-based trailing window (beyond-ref) — per user, the "
    f"count and exact-cents sum of events in the trailing {W14_HOURS} h "
    "via a RANGE frame on event time (the trailing-feature shape "
    "rolling/w7's ROWS frames can't express: the frame width is a "
    "DURATION, not a row count). One user-keyed window shuffle; values "
    "quantize to integer cents before the frame sum so accumulation "
    "order can't move the result.",
)
def w14_trailing_window(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-W14_HOURS * 3600 * 1000000, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("cnt_24h"),
        (F.sum(cents).over(w).cast("double") / 100).alias("sum_24h"),
    )


@register(
    "a16_weighted_median",
    # lower weighted median: the smallest value whose cumulative weight
    # reaches half the group total (ties in value broken by key order —
    # cumulative sums then agree on both engines). Weights are integer
    # quantities, values are SELECTED not computed, so parity is exact.
    """WITH w AS (
         SELECT l_returnflag,
                round(l_extendedprice, 2) AS v,
                CAST(l_quantity AS BIGINT) AS q
         FROM lineitem),
       c AS (
         SELECT l_returnflag, v, q,
                sum(q) OVER (PARTITION BY l_returnflag ORDER BY v, q
                             ROWS UNBOUNDED PRECEDING) AS cum_q,
                sum(q) OVER (PARTITION BY l_returnflag) AS tot_q
         FROM w)
       SELECT l_returnflag,
              CAST(min(tot_q) AS BIGINT) AS total_weight,
              min(v) AS weighted_median
       FROM c
       WHERE cum_q * 2 >= tot_q
       GROUP BY l_returnflag""",
    doc="a16: exact weighted median (beyond-ref; no native Spark "
    "aggregate exists) — smallest value whose cumulative weight reaches "
    "half the group total, via one (group)-keyed window pass: cumulative "
    "weight + group total over the same partitioning, then min-over-"
    "qualifying. Weights stay integer and the median is a SELECTED input "
    "value, so cross-engine parity is exact with no float accumulation.",
)
def a16_weighted_median(spark, sf_dir):
    # Two plans, gated on input bytes (round-6: VERDICT r5 flagged the
    # unconditional two-phase as a 1.5x warm regression at sf0.1):
    #
    # * SMALL input (< _A16_TWO_PHASE_BYTES): one row-level window pass.
    #   Sorting the whole fact inside 3 tasks is fine when the fact fits
    #   a task; the pre-agg shuffle would only add latency (measured at
    #   sf0.1 warm: 0.84 s one-phase vs 1.38 s two-phase).
    # * LARGE input: pre-aggregate weight per (group, value) first — one
    #   map-side-combining shuffle — shrinking the 3-partition sorted
    #   window from |fact| rows to |distinct (group, value)| rows.
    #   Measured at sf1: 5.3 s -> ~1 s; at 100 TB the one-phase plan is
    #   dead (3 tasks each sorting a third of the fact).
    #
    # Both are EXACT and identical in result: within a value-run, if any
    # row satisfies cum*2 >= tot then the run's last row (== the
    # aggregated cumsum) does too, at the same v, so min(v) is unchanged.
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_extendedprice", 2).alias("v"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    if _input_bytes(sf_dir, "lineitem") >= _A16_TWO_PHASE_BYTES:
        keyed = li.groupBy("l_returnflag", "v").agg(F.sum("q").alias("qv"))
        order_cols = ["v"]
    else:
        keyed = li.select("l_returnflag", "v", F.col("q").alias("qv"))
        order_cols = ["v", "qv"]
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = keyed.select(
        "l_returnflag",
        "v",
        F.sum("qv").over(wc).alias("cum_q"),
        F.sum("qv").over(wt).alias("tot_q"),
    )
    return (
        c.filter(F.col("cum_q") * 2 >= F.col("tot_q"))
        .groupBy("l_returnflag")
        .agg(
            F.min("tot_q").alias("total_weight"),
            F.min("v").alias("weighted_median"),
        )
    )


K6_PER_GROUP = 3
K6_TOTAL = 20


@register(
    "k6_diversified_topk",
    # two ranking passes: cap each supplier at 3 entries, then take the
    # global top 20 of the survivors — total order everywhere
    f"""SELECT l_suppkey, l_orderkey, l_linenumber, price FROM (
         SELECT *, row_number() OVER (
                  ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC)
                  AS gr
         FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber,
                  round(l_extendedprice, 2) AS price,
                  row_number() OVER (
                    PARTITION BY l_suppkey
                    ORDER BY round(l_extendedprice, 2) DESC,
                             l_orderkey ASC, l_linenumber ASC) AS sr
           FROM lineitem)
         WHERE sr <= {K6_PER_GROUP})
       WHERE gr <= {K6_TOTAL}""",
    doc="k6: diversified top-k (beyond-ref) — the serving-layer ranking "
    f"shape: global top {K6_TOTAL} rates but at most {K6_PER_GROUP} per "
    "supplier, so one dominant group can't fill the page. Per-group "
    "row_number (WindowGroupLimit keeps it top-k per partition) + a "
    "TakeOrdered over the capped survivors; full (key, tie-break) total "
    "order makes the page deterministic.",
)
def k6_diversified_topk(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
    )
    ws = Window.partitionBy("l_suppkey").orderBy(
        F.col("price").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    capped = li.withColumn("sr", F.row_number().over(ws)).filter(
        F.col("sr") <= K6_PER_GROUP
    )
    return (
        capped.orderBy(
            F.col("price").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(K6_TOTAL)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "price")
    )


@register(
    "a17_deterministic_mode",
    # exact per-group mode with a total tie order (count desc, value asc)
    # — Spark's native mode() leaves ties unspecified, which a
    # hash-compared engine cannot tolerate
    """SELECT o_orderpriority, mode_status, CAST(n AS BIGINT) AS n FROM (
         SELECT o_orderpriority, o_orderstatus AS mode_status, n,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY n DESC, o_orderstatus ASC) AS r
         FROM (SELECT o_orderpriority, o_orderstatus, count(*) AS n
               FROM orders GROUP BY 1, 2))
       WHERE r = 1""",
    doc="a17: deterministic exact mode (beyond-ref) — most frequent "
    "value per group with (count desc, value asc) tie-break: Spark's "
    "native mode() leaves ties unspecified, so the catalog form is the "
    "two-level groupBy + rank-1 window, whose result is a pure function "
    "of the data. Both shuffles key on the group; the window input is "
    "|groups x values| tiny.",
)
def a17_deterministic_mode(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), F.col("o_orderstatus").asc()
    )
    return (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            "n",
        )
    )


J16_MAX_DIST = 3


@register(
    "j16_fuzzy_name_match",
    # blocked edit-distance self-join: candidate pairs only within the
    # (brand, size) block, then exact levenshtein filter — the
    # standard entity-resolution shape (blocking bounds the quadratic)
    f"""SELECT p_brand, p_size,
              a.p_partkey AS key_a, b.p_partkey AS key_b,
              CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
       FROM part a JOIN part b
         USING (p_brand, p_size)
       WHERE a.p_partkey < b.p_partkey
         AND levenshtein(a.p_name, b.p_name) <= {J16_MAX_DIST}""",
    doc="j16: typo-tolerant entity matching (beyond-ref) — near-identical "
    f"names (levenshtein <= {J16_MAX_DIST}) found by a BLOCKED "
    "self-join: candidates only within the (brand, size) block, so "
    "the quadratic term is per-block, not corpus-wide — the standard "
    "entity-resolution blocking discipline; the distance itself is the "
    "exact DP, identical across engines.",
)
def j16_fuzzy_name_match(spark, sf_dir):
    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    a = p.select(
        "p_brand",
        "p_size",
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        "p_brand",
        "p_size",
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= J16_MAX_DIST)
        .select("p_brand", "p_size", "key_a", "key_b", "dist")
    )


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    """Shared rollup proving a lossless source round-trip: exact counts,
    distincts, and the decimal money sum survive the format."""
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        money_sum("l_extendedprice").alias("price_sum"),
    )


_RT_ORACLE = """SELECT l_returnflag, count(*) AS n,
              CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
                AS price_sum
       FROM lineitem WHERE l_linenumber = 1 GROUP BY l_returnflag"""


@register(
    "s19_csv_roundtrip",
    _RT_ORACLE,
    doc="s19: CSV source (beyond-parquet format coverage) — write a "
    "lineitem slice as headered CSV, read it back with an EXPLICIT "
    "schema (schema-on-read inference is a correctness hazard: a chunk "
    "of all-null strings infers to string and silently widens), and "
    "prove the round-trip lossless against the parquet-direct rollup. "
    "Doubles survive because Spark writes shortest-round-trip decimal "
    "text.",
)
def s19_csv_roundtrip(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1).select(
        "l_returnflag", "l_orderkey", "l_extendedprice"
    )
    path = _scratch("s19_csv")
    li.write.option("header", True).csv(path)
    back = spark.read.option("header", True).schema(
        "l_returnflag string, l_orderkey bigint, l_extendedprice double"
    ).csv(path)
    return _roundtrip_agg(back)


@register(
    "s20_jsonl_roundtrip",
    _RT_ORACLE,
    doc="s20: JSON-lines source (the reference's MRF payloads are JSON; "
    "machine-readable-file ingest needs a lossless JSONL path) — write "
    "the slice as JSONL, read back with an explicit schema, same "
    "lossless-rollup proof as s19. At 100 TB JSONL splits by line, so "
    "the read parallelizes like any text source.",
)
def s20_jsonl_roundtrip(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1).select(
        "l_returnflag", "l_orderkey", "l_extendedprice"
    )
    path = _scratch("s20_jsonl")
    li.write.json(path)
    back = spark.read.schema(
        "l_returnflag string, l_orderkey bigint, l_extendedprice double"
    ).json(path)
    return _roundtrip_agg(back)


@register(
    "u3_union_distinct",
    # UNION (distinct) of two overlapping projections — completes the
    # set-op family next to u1 (UNION ALL), u2 (INTERSECT/EXCEPT), j10
    # (anti). Rewrites to union + hash-distinct: one shuffle on the row.
    """SELECT user_id, event_type FROM events WHERE day(ts) <= 20
       UNION
       SELECT user_id, event_type FROM events WHERE day(ts) > 10""",
    doc="u3: UNION DISTINCT (beyond-ref) — the deduplicating union the "
    "set-op family lacked: two overlapping halves of the event log "
    "unioned to distinct (user, type) pairs; plan is union + one "
    "hash-aggregate distinct on the full row.",
)
def u3_union_distinct(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.dayofmonth("ts") <= 20).select("user_id", "event_type")
    b = ev.filter(F.dayofmonth("ts") > 10).select("user_id", "event_type")
    return a.union(b).distinct()


@register(
    "w15_rank_family",
    # the ranking-function vocabulary over one totally-ordered window:
    # rank/dense_rank on a COARSE key (real ties), percent_rank and
    # cume_dist as exact int/int divisions, ntile buckets
    """SELECT l_returnflag, l_orderkey, l_linenumber, qty,
              CAST(rnk AS BIGINT) AS rnk,
              CAST(drnk AS BIGINT) AS drnk,
              pr, cd,
              CAST(quartile AS BIGINT) AS quartile
       FROM (
         SELECT l_returnflag, l_orderkey, l_linenumber,
                CAST(l_quantity AS BIGINT) AS qty,
                rank() OVER wq AS rnk,
                dense_rank() OVER wq AS drnk,
                percent_rank() OVER wo AS pr,
                cume_dist() OVER wo AS cd,
                ntile(4) OVER wo AS quartile
         FROM lineitem WHERE l_orderkey < 500
         WINDOW wq AS (PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS BIGINT)),
                wo AS (PARTITION BY l_returnflag
                       ORDER BY CAST(l_quantity AS BIGINT),
                                l_orderkey, l_linenumber))""",
    doc="w15: the ranking-function vocabulary (beyond-ref) — rank and "
    "dense_rank over a COARSE key (integer quantity: real tie groups), "
    "percent_rank / cume_dist (exact int/int divisions) and ntile "
    "quartiles over the totally-ordered form. One group-keyed window "
    "shuffle serves every function; total order where the function "
    "demands determinism, deliberate ties where it must handle them.",
)
def w15_rank_family(spark, sf_dir):
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 500)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    wq = Window.partitionBy("l_returnflag").orderBy("qty")
    wo = Window.partitionBy("l_returnflag").orderBy(
        "qty", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        "qty",
        F.rank().over(wq).cast("long").alias("rnk"),
        F.dense_rank().over(wq).cast("long").alias("drnk"),
        F.percent_rank().over(wo).alias("pr"),
        F.cume_dist().over(wo).alias("cd"),
        F.ntile(4).over(wo).cast("long").alias("quartile"),
    )


X5_MIN_LEN = 7


@register(
    "x5_explode_outer",
    # LEFT JOIN against unnest replays explode_outer's row-preservation:
    # a document with NO long words still yields one row with NULL word
    f"""WITH lw AS (
         SELECT doc_id, unnest(list_filter(
                  regexp_split_to_array(lower(trim(text)), '\\s+'),
                  w -> length(w) >= {X5_MIN_LEN})) AS word
         FROM documents)
       SELECT d.doc_id, lw.word,
              CAST(lw.word IS NULL AS BOOLEAN) AS no_long_words
       FROM documents d LEFT JOIN lw ON d.doc_id = lw.doc_id""",
    doc="x5: explode_outer semantics (beyond-ref; the row-preservation "
    "corner plain explode silently violates) — long words per document "
    f"(length >= {X5_MIN_LEN}), with documents that have NONE kept as a "
    "single NULL-word row: dropping them is the classic explode bug "
    "that silently shrinks a corpus. Scan-local filter + generate; no "
    "shuffle.",
)
def x5_explode_outer(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda w: F.length(w) >= X5_MIN_LEN,
    )
    return d.select("doc_id", F.explode_outer(words).alias("word")).withColumn(
        "no_long_words", F.col("word").isNull()
    )


@register(
    "s21_orc_roundtrip",
    _RT_ORACLE,
    doc="s21: ORC source/sink round-trip — the second columnar format "
    "next to parquet (warehouse interchange); same lossless-rollup proof "
    "as s19/s20 against the parquet-direct oracle. ORC carries real "
    "schemas so no explicit-schema read is needed; the writer/reader "
    "pair must still preserve doubles bit-for-bit.",
)
def s21_orc_roundtrip(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1).select(
        "l_returnflag", "l_orderkey", "l_extendedprice"
    )
    path = _scratch("s21_orc")
    li.write.orc(path)
    return _roundtrip_agg(spark.read.orc(path))


@register(
    "w16_interarrival",
    # lag() exposed directly: per-user inter-arrival gaps in exact
    # micros, rolled up to count/min/max/sum — all integers
    """WITH d AS (
         SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  AS gap_us
         FROM events)
       SELECT user_id,
              CAST(count(gap_us) AS BIGINT) AS n_gaps,
              CAST(min(gap_us) AS BIGINT) AS min_gap_us,
              CAST(max(gap_us) AS BIGINT) AS max_gap_us,
              CAST(sum(gap_us) AS BIGINT) AS total_gap_us
       FROM d GROUP BY user_id""",
    doc="w16: inter-arrival gaps (beyond-ref) — lag() exposed directly "
    "(SURVEY notes the reference never uses lead/lag; w5 only consumes "
    "it internally): per-user event spacing in exact integer micros, "
    "rolled up to count/min/max/total. The burstiness profile "
    "sessionization thresholds are tuned against; one user-keyed window "
    "shuffle reused by the rollup.",
)
def w16_interarrival(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts_ns div 1000"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = ev.select(
        "user_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    )
    return d.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("total_gap_us"),
    )


@register(
    "a18_cube",
    # CUBE = GROUPING SETS((a,b),(a),(b),()) — all four aggregation
    # levels in one pass; grouping flags disambiguate NULL-as-subtotal
    # from NULL data
    f"""SELECT coalesce(l_returnflag, '∅') AS rf,
              coalesce(l_linestatus, '∅') AS ls,
              CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
              CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
              count(*) AS n,
              {money_sum_sql('l_extendedprice')} AS price_sum
       FROM lineitem
       GROUP BY CUBE (l_returnflag, l_linestatus)""",
    doc="a18: CUBE aggregation (beyond-ref; completes the "
    "multi-dimensional agg family next to a14's ROLLUP) — all four "
    "grouping levels of (returnflag, linestatus) in ONE pass via "
    "Expand: one shuffle carries every level's partial aggs; "
    "GROUPING() flags make subtotal rows unambiguous (the NULL-vs-"
    "subtotal trap), string-coalesced for the hash compare.",
)
def a18_cube(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            money_sum("l_extendedprice").alias("price_sum"),
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("∅")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("∅")).alias("ls"),
            "g_rf",
            "g_ls",
            "n",
            "price_sum",
        )
    )


@register(
    "j17_full_outer",
    # reconciliation of two overlapping per-user rollups: rows present in
    # either side survive, with presence flags and coalesced counts —
    # the one join type (FULL OUTER) the catalog lacked
    """WITH a AS (
         SELECT user_id, count(*) AS n_a FROM events
         WHERE day(ts) <= 10 GROUP BY user_id),
       b AS (
         SELECT user_id, count(*) AS n_b FROM events
         WHERE day(ts) > 20 GROUP BY user_id)
       SELECT coalesce(a.user_id, b.user_id) AS user_id,
              CAST(coalesce(n_a, 0) AS BIGINT) AS n_first,
              CAST(coalesce(n_b, 0) AS BIGINT) AS n_last,
              CAST(a.user_id IS NOT NULL AND b.user_id IS NOT NULL
                   AS BOOLEAN) AS in_both
       FROM a FULL OUTER JOIN b ON a.user_id = b.user_id""",
    doc="j17: FULL OUTER join (the one join type the catalog lacked) — "
    "reconciling two period rollups: users active in either window "
    "survive with presence flags and zero-coalesced counts, the "
    "snapshot-reconciliation shape. Both inputs pre-aggregate before "
    "the join, so the full-outer shuffles rollups, not events.",
)
def j17_full_outer(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    a = (
        ev.filter(F.dayofmonth("ts") <= 10)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        ev.filter(F.dayofmonth("ts") > 20)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_b"))
    )
    j = a.withColumnRenamed("user_id", "ua").join(
        b.withColumnRenamed("user_id", "ub"),
        F.col("ua") == F.col("ub"),
        "full_outer",
    )
    return j.select(
        F.coalesce("ua", "ub").alias("user_id"),
        F.coalesce("n_a", F.lit(0)).alias("n_first"),
        F.coalesce("n_b", F.lit(0)).alias("n_last"),
        (F.col("ua").isNotNull() & F.col("ub").isNotNull()).alias("in_both"),
    )


@register(
    "w17_time_weighted_avg",
    # TWAP in exact integer arithmetic: value → cents (st4's recipe),
    # weight = micros until the NEXT sample in the (user, day) series;
    # Σ(cents·gap_us) is exact decimal/HUGEINT on both engines and the
    # single double division at the edge is IEEE-identical
    """WITH d AS (
         SELECT user_id, date_trunc('day', ts) AS day_t,
                CAST(round(value * 100) AS BIGINT) AS cents,
                lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
         FROM events
         WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts)
                      ORDER BY epoch_us(ts), event_id))
       SELECT user_id, strftime(day_t, '%Y-%m-%d') AS day,
              CAST(count(*) AS BIGINT) AS n_gaps,
              CAST(sum(gap_us) AS BIGINT) AS total_us,
              CAST(sum(CAST(cents AS HUGEINT) * gap_us) AS DOUBLE)
                / (CAST(sum(gap_us) AS DOUBLE) * 100) AS twap
       FROM d WHERE gap_us IS NOT NULL
       GROUP BY user_id, day_t
       HAVING sum(gap_us) > 0""",
    doc="w17: time-weighted average (beyond-ref; the hypertable "
    "`time_weight` rollup next to w10's OHLC) — per (user, day), each "
    "sample weighted by how long it was current (micros until the next "
    "sample, last-observation-carried-forward semantics like w9). "
    "Irregular sampling makes the plain mean lie; TWAP is the honest "
    "per-day level. ONE (user, day)-keyed window shuffle reused by the "
    "rollup (same partitioning), weighted sum in exact integer-cents × "
    "integer-micros decimal arithmetic — floats appear only in the "
    "final division.",
)
def w17_time_weighted_avg(spark, sf_dir):
    from mrf_etl_spark.operators.rolling import time_weighted_avg

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("day_t"),
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    out = time_weighted_avg(
        ev, ["user_id", "day_t"], "ts_us", "cents", order_tiebreak=["event_id"]
    )
    return out.select(
        "user_id",
        F.date_format("day_t", "yyyy-MM-dd").alias("day"),
        "n_gaps",
        "total_us",
        "twap",
    )


@register(
    "s22_range_layout_write",
    # layout change must be invisible to readers: the range-partitioned
    # sorted copy answers a date-window rollup with the source's values
    f"""SELECT l_returnflag, count(*) AS n,
              {money_sum_sql('l_extendedprice')} AS price_sum
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
       GROUP BY 1""",
    doc="S22 (beyond-reference): range-partitioned sorted layout write — "
    "the data-skipping pattern a 100 TB time-ordered lake needs: "
    "repartitionByRange(l_shipdate) + sortWithinPartitions clusters "
    "each parquet file on a disjoint date range, so parquet row-group "
    "min/max stats (and file-level pruning) satisfy a date-window scan "
    "from a fraction of the files. Query values must equal the "
    "unclustered source; the disjoint-range layout itself is pinned in "
    "tests/test_io_sources.py.",
)
def s22_range_layout_write(spark, sf_dir):
    out = _scratch("s22_layout")
    (
        t(spark, sf_dir, "lineitem")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.parquet(out)
    )
    return (
        spark.read.parquet(out)
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            money_sum("l_extendedprice").alias("price_sum"),
        )
    )


@register(
    "s25_zorder_layout_write",
    # layout change must be invisible to readers: the Z-ordered copy
    # answers a two-column rectangle rollup with the source's values
    f"""SELECT l_returnflag, count(*) AS n,
              {money_sum_sql('l_extendedprice')} AS price_sum
       FROM lineitem
       WHERE l_partkey BETWEEN 40 AND 160
         AND l_suppkey BETWEEN 2 AND 7
       GROUP BY 1""",
    doc="S25 (beyond-reference): Z-order (Morton) clustered layout — "
    "multi-column data skipping where s22's single-column sort prunes "
    "only its own column: each dimension is bucketed equi-width (one "
    "min/max agg), bucket bits interleave into a Morton key, and the "
    "data range-partitions + sorts by it, so every parquet file covers "
    "a small hypercube and footer min/max stats prune rectangle scans "
    "on ANY clustered column subset (the Delta/Iceberg OPTIMIZE ZORDER "
    "layout from plain DataFrame ops; io/writers.zorder_layout_write). "
    "Query values must equal the unclustered source; the pruning "
    "property itself is pinned in tests/test_io_sources.py.",
)
def s25_zorder_layout_write(spark, sf_dir):
    from mrf_etl_spark.io import zorder_layout_write

    out = _scratch("s25_zorder")
    zorder_layout_write(
        t(spark, sf_dir, "lineitem"), out, ["l_partkey", "l_suppkey"], n_files=16
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("l_partkey").between(40, 160) & F.col("l_suppkey").between(2, 7))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            money_sum("l_extendedprice").alias("price_sum"),
        )
    )


@register(
    "x6_posexplode",
    # unnest WITH ORDINALITY replays posexplode: (element position,
    # element) pairs — position is the 0-based index on the Spark side,
    # DuckDB's generate_subscripts-equivalent is 1-based, so -1 aligns
    """WITH w AS (
         SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
         FROM documents),
       px AS (
         SELECT doc_id, i - 1 AS pos, ws[i] AS word
         FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w))
       SELECT word,
              CAST(count(*) AS BIGINT) AS n,
              CAST(min(pos) AS BIGINT) AS first_pos,
              CAST(max(pos) AS BIGINT) AS last_pos
       FROM px WHERE pos < 3 GROUP BY word""",
    doc="x6: posexplode (beyond-ref; completes the explode family next "
    "to x1/x2/x4/x5) — position-aware flattening: words with their "
    "0-based document position, rolled up to where each word FIRST "
    "appears among the leading positions (the 'document opener' "
    "vocabulary a boilerplate detector keys on). Generate is scan-local; "
    "the only shuffle is the word-keyed rollup.",
)
def x6_posexplode(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return (
        d.select("doc_id", F.posexplode(words).alias("pos", "word"))
        .filter(F.col("pos") < 3)
        .groupBy("word")
        .agg(
            F.count("*").alias("n"),
            F.min("pos").cast("long").alias("first_pos"),
            F.max("pos").cast("long").alias("last_pos"),
        )
    )


@register(
    "a19_robust_spread",
    # two-pass robust stats: exact interpolated median (the a4/W3
    # percentile-parity recipe), then median absolute deviation and a
    # 3-MAD outlier count — the robust outlier screen a rate-integrity
    # audit runs where avg/stddev would be dragged by the outliers
    # themselves
    """WITH v AS (
         SELECT l_returnflag, round(l_extendedprice, 2) AS v FROM lineitem),
       med AS (
         SELECT l_returnflag, quantile_cont(v, 0.5) AS median_v
         FROM v GROUP BY l_returnflag),
       dev AS (
         SELECT v.l_returnflag, v.v, abs(v.v - m.median_v) AS adev, m.median_v
         FROM v JOIN med m USING (l_returnflag)),
       mad AS (
         SELECT l_returnflag, min(median_v) AS median_v,
                quantile_cont(adev, 0.5) AS mad
         FROM dev GROUP BY l_returnflag)
       SELECT d.l_returnflag,
              CAST(count(*) AS BIGINT) AS n,
              min(m.median_v) AS median_v,
              min(m.mad) AS mad,
              CAST(count(*) FILTER (WHERE d.adev > 3 * m.mad) AS BIGINT)
                AS n_outliers
       FROM dev d JOIN mad m USING (l_returnflag)
       GROUP BY d.l_returnflag""",
    doc="a19: robust spread + outlier screen (beyond-ref) — per-group "
    "exact median, median absolute deviation, and the count of rows "
    "beyond 3 MAD: the outlier-resistant integrity check for negotiated "
    "rates (mean/stddev move with the very outliers being hunted; "
    "median/MAD do not). Three group-keyed aggregation passes with the "
    "tiny per-group stats broadcast back between them — group "
    "cardinality bounds the joined tables, the fact never re-shuffles "
    "on a new key.",
)
def a19_robust_spread(spark, sf_dir):
    v = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.round("l_extendedprice", 2).alias("v")
    )
    med = v.groupBy("l_returnflag").agg(
        F.expr("percentile(v, 0.5)").alias("median_v")
    )
    dev = v.join(F.broadcast(med), "l_returnflag").withColumn(
        "adev", F.abs(F.col("v") - F.col("median_v"))
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.min("median_v").alias("median_v"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
    )
    return (
        dev.drop("median_v")
        .join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.min("median_v").alias("median_v"),
            F.min("mad").alias("mad"),
            F.count_if(F.col("adev") > 3 * F.col("mad")).alias("n_outliers"),
        )
    )


# Sketch scale paths with VERIFIED error contracts (a20/a21). At 100 TB
# the exact forms of a6 (sort-based percentile) and a9 (count distinct)
# are the expensive aggregations in the catalog; the sketch forms
# (t-digest-style quantile summaries, HyperLogLog++) are constant-memory
# and merge map-side. A sketch's value can't be hash-compared across
# engines, so the parity contract is the ERROR BOUND instead: the entry
# outputs the exact statistic (bit-matched against the oracle as usual)
# plus a boolean asserting the sketch landed inside its documented
# error envelope — the oracle expects TRUE, so a sketch drifting out of
# contract turns the driver row red. Bounds carry ~3x margin over the
# configured accuracy so they are deterministic in practice at every SF.
A20_ACCURACY = 10_000  # rank error <= n/accuracy rows
A20_REL_BOUND = 0.02
A21_RSD = 0.05  # HLL++ relative standard deviation
A21_REL_BOUND = 0.15  # 3 sigma


@register(
    "a20_approx_quantile_bound",
    f"""SELECT l_returnflag, p50, p90,
              TRUE AS p50_ok, TRUE AS p90_ok
       FROM ({_pctl_sql("lineitem", "l_extendedprice", ["l_returnflag"],
                        [(0.5, "p50"), (0.9, "p90")])})""",
    doc="a20: approximate-quantile scale path — approx_percentile "
    "(Greenwald-Khanna style summary, mergeable, constant memory) "
    "checked against the exact interpolated percentile inside the same "
    "plan; emits the exact values plus in-bound booleans, so the sketch "
    "error contract itself is driver-verified",
)
def a20_approx_quantile_bound(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.9))").alias("_e"),
        F.expr(
            f"approx_percentile(l_extendedprice, array(0.5, 0.9), {A20_ACCURACY})"
        ).alias("_a"),
    )
    def ok(i):
        return (
            F.abs(F.col("_a")[i] - F.col("_e")[i]) / F.col("_e")[i]
            <= A20_REL_BOUND
        )
    return both.select(
        "l_returnflag",
        F.col("_e")[0].alias("p50"),
        F.col("_e")[1].alias("p90"),
        ok(0).alias("p50_ok"),
        ok(1).alias("p90_ok"),
    )


@register(
    "a21_approx_distinct_bound",
    """SELECT l_returnflag,
              count(DISTINCT l_orderkey) AS d_orders,
              TRUE AS within_bound
       FROM lineitem GROUP BY l_returnflag""",
    doc="a21: approximate-distinct scale path — approx_count_distinct "
    "(HyperLogLog++, constant memory, map-side mergeable — the form "
    "that replaces a9's exact distincts at 100 TB) checked against the "
    "exact count in the same plan; the 3-sigma in-bound boolean is what "
    "the oracle verifies",
)
def a21_approx_distinct_bound(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("d_orders"),
            F.expr(f"approx_count_distinct(l_orderkey, {A21_RSD})").alias("_a"),
        )
        .select(
            "l_returnflag",
            "d_orders",
            (
                F.abs(F.col("_a") - F.col("d_orders"))
                <= F.lit(A21_REL_BOUND) * F.col("d_orders")
            ).alias("within_bound"),
        )
    )


J18_RADIUS = 0.5  # grid cell side == verify radius, coordinate units


@register(
    "j18_grid_spatial_join",
    # Deterministic synthetic coords from the md5-hash recipe (uniform in
    # [0, 10)^2 at 3 decimal resolution); all arithmetic is multiply/add
    # on doubles, bit-identical across engines (no trig).
    f"""WITH c AS (
         SELECT c_custkey,
                CAST(CAST('0x' || substring(md5('lat|' || CAST(c_custkey AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10000 AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS lat,
                CAST(CAST('0x' || substring(md5('lon|' || CAST(c_custkey AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10000 AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS lon
         FROM customer),
       s AS (
         SELECT s_suppkey,
                CAST(CAST('0x' || substring(md5('lat|' || CAST(s_suppkey AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10000 AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS lat,
                CAST(CAST('0x' || substring(md5('lon|' || CAST(s_suppkey AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10000 AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS lon
         FROM s_src),
       pairs AS (
         SELECT c.c_custkey, s.s_suppkey,
                (c.lat - s.lat) * (c.lat - s.lat)
                  + (c.lon - s.lon) * (c.lon - s.lon) AS dist2
         FROM c
         JOIN (VALUES (-1), (0), (1)) di(i) ON true
         JOIN (VALUES (-1), (0), (1)) dj(j) ON true
         JOIN s ON floor(c.lat / {J18_RADIUS}) + di.i = floor(s.lat / {J18_RADIUS})
               AND floor(c.lon / {J18_RADIUS}) + dj.j = floor(s.lon / {J18_RADIUS}))
       SELECT c_custkey, s_suppkey, dist2 FROM pairs
       WHERE dist2 <= {J18_RADIUS} * {J18_RADIUS}""".replace("s_src", "supplier"),
    doc="J18 (beyond-ref): spatial radius join via grid bucketing — "
    "points quantized to radius-sized cells, left expanded to its 3x3 "
    "neighborhood (pigeonhole-complete), equi-join on the cell key, "
    "exact squared-distance verify. Candidates bounded by local density "
    "x 9 cells instead of |L| x |R|; the 'providers within r of each "
    "member' query the reference's geocoded dashboards answer by "
    "post-filter (operators/spatial.grid_radius_join).",
)
def j18_grid_spatial_join(spark, sf_dir):
    from mrf_etl_spark.operators.spatial import grid_radius_join

    def coords(df, key):
        def h(salt):
            raw = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt + "|"), F.col(key).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            return (raw % 10000).cast("double") / F.lit(1000.0)

        return df.select(key, h("lat").alias("lat"), h("lon").alias("lon"))

    c = coords(t(spark, sf_dir, "customer"), "c_custkey")
    s = coords(t(spark, sf_dir, "supplier"), "s_suppkey")
    return grid_radius_join(c, s, radius=J18_RADIUS).select(
        "c_custkey", "s_suppkey", "dist2"
    )


S24_QUERY_MOD = 17  # event_id % MOD == 0 rows become point-in-time queries


@register(
    "s24_point_in_time",
    # Inner-join oracle is exact here: every query's as_of is its own
    # update's timestamp, so a matching version always exists; ties on
    # valid_from (same-instant updates) resolve to the highest version
    # on both sides.
    f"""WITH upd AS (
         SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
       h AS (
         SELECT user_id,
                row_number() OVER w AS version,
                ts_us AS vf, value
         FROM upd
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       q AS (
         SELECT event_id AS query_id, user_id, ts_us AS as_of
         FROM upd WHERE event_id % {S24_QUERY_MOD} = 0)
       SELECT query_id, user_id, as_of,
              CAST(version AS BIGINT) AS version_asof, value AS value_asof
       FROM (
         SELECT q.query_id, q.user_id, q.as_of, h.version, h.value,
                row_number() OVER (
                  PARTITION BY q.query_id
                  ORDER BY h.vf DESC, h.version DESC) AS rn
         FROM q JOIN h ON h.user_id = q.user_id AND h.vf <= q.as_of)
       WHERE rn = 1""",
    doc="S24 (beyond-ref): point-in-time join over the SCD2 history — "
    "'what was this key's version when the claim was filed': each query "
    "(key, as_of) resolves to the version whose [valid_from, valid_to) "
    "contains as_of, computed as a backward as-of join on valid_from "
    "(chain tiling makes the two formulations identical). Composes s23 "
    "scd2_history with the W4 union+window as-of operator — one key "
    "shuffle, no range join (io.writers.scd2_history + "
    "operators/asof.asof_join).",
)
def s24_point_in_time(spark, sf_dir):
    from mrf_etl_spark.io import scd2_history
    from mrf_etl_spark.operators.asof import asof_join

    upd = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        "value",
    )
    hist = scd2_history(
        upd, keys=["user_id"], order_col="ts_us", tiebreak=["event_id"], attrs=["value"]
    ).select("user_id", "version", F.col("valid_from").alias("vf"), "value")
    q = upd.filter(F.col("event_id") % S24_QUERY_MOD == 0).select(
        F.col("event_id").alias("query_id"), "user_id", F.col("ts_us").alias("as_of")
    )
    out = asof_join(
        q, hist, on="user_id", left_ts="as_of", right_ts="vf",
        right_cols=["version", "value"], tiebreak="version",
    )
    return out.select(
        "query_id",
        "user_id",
        "as_of",
        F.col("version_asof").cast("long").alias("version_asof"),
        "value_asof",
    )


A22_SUPPORT = 0.05  # emit values covering >= 5% of their group


@register(
    "a22_frequent_items",
    # item = floor(sqrt(quantity)): a skewed 7-value categorical whose
    # supports run ~4%..26% (count of bucket k ∝ 2k+1), so the 5%
    # threshold genuinely drops the rare tail bucket with wide margin on
    # both sides (supports are exact integer ratios — no knife edge).
    # IEEE sqrt is correctly rounded, so floor(sqrt) is engine-identical.
    f"""WITH vc AS (
         SELECT l_returnflag,
                CAST(floor(sqrt(CAST(l_quantity AS DOUBLE))) AS BIGINT) AS item,
                count(*) AS n
         FROM lineitem GROUP BY 1, 2),
       tot AS (
         SELECT l_returnflag, sum(n) AS tot FROM vc GROUP BY l_returnflag)
       SELECT vc.l_returnflag, vc.item, CAST(vc.n AS BIGINT) AS n,
              CAST(vc.n AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS support
       FROM vc JOIN tot USING (l_returnflag)
       WHERE CAST(vc.n AS DOUBLE) / CAST(tot.tot AS DOUBLE)
               >= CAST({A22_SUPPORT} AS DOUBLE)""",
    doc="a22 (beyond-ref): exact frequent items per group — every value "
    "holding >= support fraction of its group (a17's mode generalized "
    "from top-1 to all-above-threshold; the exact counterpart of "
    "misra-gries/space-saving sketches). Two map-side-combinable aggs "
    "over the same grouping prefix + a broadcast-size totals join — the "
    "value-count rollup is the only data shuffle.",
)
def a22_frequent_items(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    vc = li.groupBy(
        "l_returnflag",
        F.floor(F.sqrt(F.col("l_quantity").cast("double"))).cast("long").alias("item"),
    ).agg(F.count("*").alias("n"))
    tot = vc.groupBy("l_returnflag").agg(F.sum("n").alias("tot"))
    return (
        vc.join(F.broadcast(tot), "l_returnflag")
        .withColumn("support", F.col("n").cast("double") / F.col("tot").cast("double"))
        .filter(F.col("support") >= A22_SUPPORT)
        .select("l_returnflag", "item", "n", "support")
    )


A23_LO, A23_HI, A23_BINS = 900.0, 105000.0, 20
_A23_W = (A23_HI - A23_LO) / A23_BINS


@register(
    "a23_histogram",
    # Manual fixed-width binning (no width_bucket dependency): bucket =
    # clamp(floor((x - lo) / w)) — identical double arithmetic both
    # engines; edges derived from the bucket index, so the whole
    # histogram is reproducible from (lo, w) alone.
    f"""WITH b AS (
         SELECT l_returnflag,
                least(greatest(CAST(floor((l_extendedprice - {A23_LO}) / {_A23_W})
                                    AS BIGINT), 0), {A23_BINS - 1}) AS bucket
         FROM lineitem)
       SELECT l_returnflag, bucket,
              CAST({A23_LO} AS DOUBLE) + bucket * CAST({_A23_W} AS DOUBLE) AS bin_lo,
              CAST(count(*) AS BIGINT) AS n
       FROM b GROUP BY 1, 2""",
    doc="a23 (beyond-ref): fixed-width histogram per group — the "
    "rate-distribution panel behind the reference's summary-stats "
    "dashboards, computed as ONE map-side-combinable aggregation "
    "(bucket is a per-row projection; under-/overflow clamp to the edge "
    "bins). Engine-neutral manual binning: clamp(floor((x-lo)/w)), no "
    "width_bucket semantics to cross-check.",
)
def a23_histogram(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.greatest(
            F.floor((F.col("l_extendedprice") - A23_LO) / _A23_W).cast("long"),
            F.lit(0),
        ),
        F.lit(A23_BINS - 1),
    )
    return (
        li.select("l_returnflag", bucket.alias("bucket"))
        .groupBy("l_returnflag", "bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "l_returnflag",
            "bucket",
            (F.lit(A23_LO) + F.col("bucket") * F.lit(_A23_W)).alias("bin_lo"),
            "n",
        )
    )

@register(
    "a24_grouped_regression",
    # All five moments are EXACT (per-factor DECIMAL(18,4) casts recover
    # the generator's 2-decimal grid from the double approximations;
    # decimal products and sums are exact in any order), so both engines
    # derive slope/intercept/r2 from bit-identical double moments with
    # the same IEEE op order — no rounding, no tolerance (the money_sum
    # doctrine extended to second moments).
    f"""WITH m AS (
         SELECT l_returnflag, count(*) AS n,
                {money_sum_sql('l_quantity')} AS sx,
                {money_sum_sql('l_extendedprice')} AS sy,
                -- width 19 promotes DuckDB's product to int128 (a width-18
                -- decimal multiplies in int64 and overflows on price^2);
                -- the VARCHAR hop matters: DuckDB's decimal->double cast
                -- double-rounds (int128->double, then /10^scale) and lands
                -- one ulp off at these magnitudes, while decimal->string is
                -- exact and string->double correctly rounded in BOTH engines
                -- (Spark's BigDecimal.doubleValue already rounds once)
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4))
                       * CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4))
                       * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxy,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4))
                       * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS syy
         FROM lineitem GROUP BY l_returnflag),
       d AS (
         SELECT l_returnflag, n,
                CAST(n AS DOUBLE) * sxy - sx * sy AS cov,
                CAST(n AS DOUBLE) * sxx - sx * sx AS varx,
                CAST(n AS DOUBLE) * syy - sy * sy AS vary,
                sx, sy
         FROM m)
       SELECT l_returnflag, n,
              CASE WHEN varx <> CAST(0 AS DOUBLE)
                   THEN cov / varx END AS slope,
              CASE WHEN varx <> CAST(0 AS DOUBLE)
                   THEN (sy - (cov / varx) * sx) / CAST(n AS DOUBLE)
                   END AS intercept,
              CASE WHEN varx <> CAST(0 AS DOUBLE) AND vary <> CAST(0 AS DOUBLE)
                   THEN (cov * cov) / (varx * vary) END AS r2
       FROM d""",
    doc="A24 (beyond-reference): exact distributed least squares per group "
    "— price ~ quantity slope/intercept/r2 from five decimal-exact moments "
    "in ONE map-side-combinable aggregate (the continuous-aggregate shape "
    "of timeseries stores' regr_* functions). At 100 TB this is a single "
    "partial-agg shuffle of 5 numbers per group; degenerate groups "
    "(zero x-variance) yield NULLs, never NaN/Inf.",
)
def a24_grouped_regression(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        money_sum("l_quantity").alias("sx"),
        money_sum("l_extendedprice").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n_d = F.col("n").cast("double")
    d = m.select(
        "l_returnflag",
        "n",
        (n_d * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov"),
        (n_d * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx"),
        (n_d * F.col("syy") - F.col("sy") * F.col("sy")).alias("vary"),
        "sx",
        "sy",
    )
    zero = F.lit(0).cast("double")
    slope = F.when(F.col("varx") != zero, F.col("cov") / F.col("varx"))
    return d.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        F.when(
            F.col("varx") != zero,
            (F.col("sy") - (F.col("cov") / F.col("varx")) * F.col("sx"))
            / F.col("n").cast("double"),
        ).alias("intercept"),
        F.when(
            (F.col("varx") != zero) & (F.col("vary") != zero),
            (F.col("cov") * F.col("cov")) / (F.col("varx") * F.col("vary")),
        ).alias("r2"),
    )

A25_CMS_W = 256
A25_CMS_D = 3
A25_TOP = 20
_P31 = 2147483647  # operators.dedup.MINHASH_P — the shared universal-hash prime


def _cms_pos_sql(h: str, j: str) -> str:
    return f"((({h} % {_P31}) * (2*{j}+1) + {j}) % {_P31}) & {A25_CMS_W - 1}"


@register(
    "a25_countmin_heavy_hitters",
    # The oracle replays the WHOLE sketch: counters are deterministic
    # arithmetic off the shared md5 hash domain (the d12 doctrine), so
    # cms_est compares exactly, collisions included, and never_under
    # pins the CMS no-undercount guarantee as a required-TRUE boolean.
    # hh is MATERIALIZED (referenced by both the counter build and the
    # exact top-k; default inlining would md5 the fact twice).
    f"""WITH hh AS MATERIALIZED (
         SELECT l_partkey AS item,
                CAST('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
                     AS BIGINT) AS h
         FROM lineitem),
       cms AS MATERIALIZED (
         SELECT j, {_cms_pos_sql('h', 'j')} AS pos, count(*) AS c
         FROM hh, (SELECT unnest(range(0, {A25_CMS_D})) AS j)
         GROUP BY 1, 2),
       top AS (
         SELECT item, h, count(*) AS true_n FROM hh GROUP BY item, h
         ORDER BY true_n DESC, item ASC LIMIT {A25_TOP}),
       probes AS (
         SELECT item, true_n, j, {_cms_pos_sql('h', 'j')} AS pos
         FROM top, (SELECT unnest(range(0, {A25_CMS_D})) AS j))
       SELECT p.item, p.true_n,
              CAST(min(coalesce(c.c, 0)) AS BIGINT) AS cms_est,
              CAST(min(coalesce(c.c, 0)) AS BIGINT) >= p.true_n AS never_under
       FROM probes p LEFT JOIN cms c ON c.j = p.j AND c.pos = p.pos
       GROUP BY p.item, p.true_n""",
    doc="A25 (beyond-reference): count-min heavy hitters — the mergeable "
    "frequency sketch (depth x width integer cells, cellwise-additive "
    "merge) estimated against the exact top-20, with the no-undercount "
    "guarantee as an in-row required-TRUE boolean. At 100 TB the sketch "
    "is constant-size however many keys exist: per-partition sketches "
    "combine map-side, stream batches fold in by addition (the q7/st9 "
    "incremental shape), and heavy hitters come from a 768-cell table "
    "instead of a billion-key groupBy. All counters replay exactly in "
    "the oracle — collisions included.",
)
def a25_countmin_heavy_hitters(spark, sf_dir):
    from pyspark import StorageLevel

    from mrf_etl_spark.operators.cms import countmin_estimate, countmin_table

    li = t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("item"))
    cms = countmin_table(li, "item", width=A25_CMS_W, depth=A25_CMS_D)
    # the exact top-k feeds BOTH the probe set and the final join — a
    # 20-row persist keeps the full-fact groupBy from running twice
    top = state.persist(
        li.groupBy("item")
        .agg(F.count("*").alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("item").asc())
        .limit(A25_TOP),
        StorageLevel.MEMORY_AND_DISK,
    )
    est = countmin_estimate(top, cms, "item", width=A25_CMS_W, depth=A25_CMS_D)
    return top.join(est, "item").select(
        "item",
        "true_n",
        "cms_est",
        (F.col("cms_est") >= F.col("true_n")).alias("never_under"),
    )


# Persisted mergeable-sketch state (round 8, VERDICT r7 #8): the lake
# twins of a25/a21/a20. Each builds its sketch state in THREE deterministic
# batches (split on a key mod 3), appends every batch's constant-size
# state rows to a parquet lake table (operators/sketchlake.py), and
# answers from the MERGED state — completing the q7/st9 incremental story
# for the approx family. The batch split is result-invisible for the
# additive shapes (cellwise/count addition is exact), so a26 reuses a25's
# fully-replayed oracle verbatim; the HLL binary state is not
# engine-replayable, so a27 keeps a21's exact-value + in-envelope-boolean
# contract; a28 brackets a20's exact percentiles with the merged grid.

def _register_sketch_lake():
    from mrf_etl_spark.operators import sketchlake as sl
    from mrf_etl_spark.operators.cms import countmin_estimate, countmin_table

    @register(
        "a26_persisted_cms",
        REGISTRY["a25_countmin_heavy_hitters"].oracle,
        doc="a26: a25's count-min sketch persisted ON THE LAKE — three "
        "batch builds append their (j, pos, c) counters, merge-on-read "
        "is cellwise addition, and the merged sketch is BIT-IDENTICAL "
        "to the single-pass sketch (additive merge is exact), so the "
        "fully-replayed a25 oracle verifies the whole persist→merge "
        "path, collisions included. The 100 TB shape: each batch "
        "shuffles ≤768 partial counters, the lake holds "
        "batches×768 rows until compact_state folds it back.",
    )
    def a26_persisted_cms(spark, sf_dir):
        from pyspark import StorageLevel

        path = _scratch("a26_cms_lake")
        li = t(spark, sf_dir, "lineitem").select(
            F.col("l_partkey").alias("item"), "l_orderkey"
        )
        for b in range(3):
            batch = li.filter(F.col("l_orderkey") % 3 == b).select("item")
            sl.append_state(
                countmin_table(batch, "item", width=A25_CMS_W, depth=A25_CMS_D),
                path,
            )
        cms = sl.cms_lake_merge(spark, path)
        top = state.persist(
            li.groupBy("item")
            .agg(F.count("*").alias("true_n"))
            .orderBy(F.col("true_n").desc(), F.col("item").asc())
            .limit(A25_TOP),
            StorageLevel.MEMORY_AND_DISK,
        )
        est = countmin_estimate(top, cms, "item", width=A25_CMS_W, depth=A25_CMS_D)
        return top.join(est, "item").select(
            "item",
            "true_n",
            "cms_est",
            (F.col("cms_est") >= F.col("true_n")).alias("never_under"),
        )

    @register(
        "a27_persisted_hll",
        REGISTRY["a21_approx_distinct_bound"].oracle,
        doc="a27: a21's HLL distinct persisted ON THE LAKE — per batch, "
        "one DataSketches binary per group (hll_sketch_agg, 4 KiB at "
        "lgk=12); merge-on-read unions the batch sketches "
        "(hll_union_agg) and estimates. The binary state is not "
        "engine-replayable, so the contract is a21's: the exact "
        "distinct (hash-compared) plus the union estimate landing in "
        "its envelope as a required-TRUE boolean.",
    )
    def a27_persisted_hll(spark, sf_dir):
        path = _scratch("a27_hll_lake")
        li = t(spark, sf_dir, "lineitem")
        for b in range(3):
            sl.append_state(
                sl.hll_state(
                    li.filter(F.col("l_orderkey") % 3 == b),
                    ["l_returnflag"],
                    "l_orderkey",
                ),
                path,
            )
        est = sl.hll_lake_distinct(spark, path, ["l_returnflag"])
        exact = li.groupBy("l_returnflag").agg(
            F.countDistinct("l_orderkey").alias("d_orders")
        )
        return exact.join(est, "l_returnflag").select(
            "l_returnflag",
            "d_orders",
            (
                F.abs(F.col("distinct_est") - F.col("d_orders"))
                <= F.lit(A21_REL_BOUND) * F.col("d_orders")
            ).alias("within_bound"),
        )

    @register(
        "a28_persisted_quantile_grid",
        REGISTRY["a20_approx_quantile_bound"].oracle,
        doc="a28: a20's quantile contract served from persisted state — "
        "per batch, a log-grid histogram (floor(16·log2 v), the "
        "cardsketch grid) appends (group, bucket, n) rows; merge-on-read "
        "is additive, and the merged grid's q-bucket brackets the exact "
        "interpolated percentile within one bucket (2^(1/16) ≈ 4.4%) "
        "each side. Output is a20's: exact p50/p90 (hash-compared) plus "
        "required-TRUE in-bracket booleans with the one-bucket slack.",
    )
    def a28_persisted_quantile_grid(spark, sf_dir):
        path = _scratch("a28_grid_lake")
        li = t(spark, sf_dir, "lineitem")
        for b in range(3):
            sl.append_state(
                sl.grid_state(
                    li.filter(F.col("l_orderkey") % 3 == b),
                    ["l_returnflag"],
                    "l_extendedprice",
                ),
                path,
            )
        brackets = sl.grid_lake_quantile_brackets(
            spark, path, ["l_returnflag"], [0.5, 0.9]
        )
        slack = 2.0 ** (1.0 / sl.GRID_RES)  # one bucket each side
        b50 = brackets.filter(F.col("q") == 0.5).select(
            "l_returnflag",
            (F.col("lo") / slack).alias("_lo50"),
            (F.col("hi") * slack).alias("_hi50"),
        )
        b90 = brackets.filter(F.col("q") == 0.9).select(
            "l_returnflag",
            (F.col("lo") / slack).alias("_lo90"),
            (F.col("hi") * slack).alias("_hi90"),
        )
        exact = li.groupBy("l_returnflag").agg(
            F.expr("percentile(l_extendedprice, array(0.5, 0.9))").alias("_e")
        )
        return (
            exact.join(b50, "l_returnflag")
            .join(b90, "l_returnflag")
            .select(
                "l_returnflag",
                F.col("_e")[0].alias("p50"),
                F.col("_e")[1].alias("p90"),
                (
                    (F.col("_e")[0] >= F.col("_lo50"))
                    & (F.col("_e")[0] < F.col("_hi50"))
                ).alias("p50_ok"),
                (
                    (F.col("_e")[1] >= F.col("_lo90"))
                    & (F.col("_e")[1] < F.col("_hi90"))
                ).alias("p90_ok"),
            )
        )

    @register(
        "a29_persisted_category_stats",
        # exact distincts + total are hash-compared; the HLL estimates
        # land as required-TRUE envelope booleans (a21's contract — the
        # binary state is not engine-replayable)
        """SELECT l_returnflag,
                  CAST(count(*) AS BIGINT) AS total_records,
                  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d_supp,
                  CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_part,
                  TRUE AS supp_ok, TRUE AS part_ok, TRUE AS total_ok
           FROM lineitem GROUP BY 1""",
        doc="a29: the serving tier's category-stats MV maintained as "
        "SKETCH STATE (VERDICT r8 #8) — per ingest batch, one state row "
        "per group holding an HLL binary PER distinct-counted category "
        "plus the exact additive row count "
        "(operators/sketchlake.stats_state); the refresh/serve side "
        "unions per-category sketches and sums counts "
        "(stats_lake_serve), so a 100 TB stats-MV refresh appends "
        "batch-sized state instead of re-aggregating the index — the "
        "multi-column generalization of a27, and compact_state's "
        "type dispatch (r9) folds it safely. Contract: exact "
        "distincts/total hash-compared, estimates as required-TRUE "
        "envelope booleans.",
    )
    def a29_persisted_category_stats(spark, sf_dir):
        path = _scratch("a29_stats_lake")
        li = t(spark, sf_dir, "lineitem")
        for b in range(3):
            sl.append_state(
                sl.stats_state(
                    li.filter(F.col("l_orderkey") % 3 == b),
                    ["l_returnflag"],
                    {"supp": "l_suppkey", "part": "l_partkey"},
                ),
                path,
            )
        served = sl.stats_lake_serve(spark, path, ["l_returnflag"]).withColumnRenamed(
            "total_records", "sl_total"
        )
        exact = li.groupBy("l_returnflag").agg(
            F.count("*").alias("total_records"),
            F.countDistinct("l_suppkey").alias("d_supp"),
            F.countDistinct("l_partkey").alias("d_part"),
        )
        return exact.join(served, "l_returnflag").select(
            "l_returnflag",
            "total_records",
            "d_supp",
            "d_part",
            (
                F.abs(F.col("unique_supp") - F.col("d_supp"))
                <= F.lit(A21_REL_BOUND) * F.col("d_supp")
            ).alias("supp_ok"),
            (
                F.abs(F.col("unique_part") - F.col("d_part"))
                <= F.lit(A21_REL_BOUND) * F.col("d_part")
            ).alias("part_ok"),
            # the additive column is EXACT through the state lake
            (F.col("sl_total") == F.col("total_records")).alias("total_ok"),
        )

    return (
        a26_persisted_cms,
        a27_persisted_hll,
        a28_persisted_quantile_grid,
        a29_persisted_category_stats,
    )


(
    a26_persisted_cms,
    a27_persisted_hll,
    a28_persisted_quantile_grid,
    a29_persisted_category_stats,
) = _register_sketch_lake()

"""Seeded input generators. Every table is a pure function of the seed (and
of the size arguments, which the workloads fix), written as parquet with
pyarrow before any timing starts. The program only ever sees these files.
"""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = ["GA", "FL", "TN", "AL"]
MONTHS = ["2025-01", "2025-02", "2025-03"]
PAYERS = [
    "Aetna Life Insurance Company",
    "Blue Cross Blue Shield of Georgia",
    "UnitedHealthcare Insurance Company",
    "Cigna Health and Life",
    "Humana Insurance Company",
    "Ambetter Health Plan",
    "Anthem Blue Cross",
]
ORG_WORDS = [
    "NORTHSIDE", "PIEDMONT", "RIVERVIEW", "SUMMIT", "LAKESHORE", "MERIDIAN",
    "VALLEY", "COASTAL", "HERITAGE", "PINNACLE", "CRESCENT", "HARBOR",
]
ORG_KINDS = [
    "CARDIOLOGY", "ORTHOPEDICS", "IMAGING", "SURGERY CENTER", "PEDIATRICS",
    "ONCOLOGY", "FAMILY MEDICINE", "DERMATOLOGY", "RADIOLOGY", "LABORATORY",
]
TAXONOMIES = [
    "Internal Medicine", "Family Medicine", "Cardiology", "Orthopaedic Surgery",
    "Diagnostic Radiology", "Pediatrics", "Dermatology", "Emergency Medicine",
    "Clinical Laboratory", "Ambulatory Surgical", "Physical Therapist",
    "Hematology & Oncology",
]
SERVICE_CODES = ['["11"]', '["11","22"]', '["02","11"]', '["21","22","23"]', '["81"]']


def slug(name: str) -> str:
    return re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-")


def zipf_index(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """Indices in [0, n) with P(i) ∝ 1/(i+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def code_universe(rng: np.random.Generator, n: int) -> list[str]:
    """CPT-like numeric codes spread over the categorizer's ranges, plus a
    few HCPCS G-codes."""
    nums = rng.choice(np.arange(10000, 99999), size=n - n // 20, replace=False)
    g = [f"G{int(x):04d}" for x in rng.choice(np.arange(1, 9999), size=n // 20, replace=False)]
    return [str(int(x)) for x in nums] + g


def _write(table: pa.Table, path: Path) -> int:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return path.stat().st_size


# ------------------------------------------------------------------ serve


def serve_star(seed: int, out: Path, n_fact: int, n_codes: int, n_groups: int) -> dict:
    """The star tables the serving tier is materialized from: fact_rate,
    dim_code, dim_code_cat, dim_npi and the two provider-group xrefs. Returns the value
    universes the request generator draws from and the bytes written."""
    rng = np.random.default_rng(seed)
    codes = code_universe(rng, n_codes)
    groups = [f"pg{g:05d}" for g in range(n_groups)]

    # provider groups -> one or two NPIs each; NPIs carry org + taxonomy
    npi_rows, xref_npi, xref_tin = [], [], []
    orgs = sorted({f"{a} {b}" for a in ORG_WORDS for b in ORG_KINDS})
    for gi, pg in enumerate(groups):
        for j in range(1 + int(rng.integers(0, 2))):
            npi = str(1000000000 + gi * 10 + j)
            xref_npi.append((pg, npi))
            npi_rows.append(
                (
                    npi,
                    f"{orgs[int(rng.integers(len(orgs)))]} {gi % 97}",
                    TAXONOMIES[int(zipf_index(rng, len(TAXONOMIES), 1)[0])],
                )
            )
        xref_tin.append((pg, "ein", f"{(gi * 7919) % 1000000000:09d}"))

    ci = zipf_index(rng, len(codes), n_fact)
    gi = zipf_index(rng, n_groups, n_fact, s=0.8)
    pi = zipf_index(rng, len(PAYERS), n_fact, s=0.7)
    si = rng.integers(0, len(STATES), n_fact)
    mi = rng.integers(0, len(MONTHS), n_fact)
    rate = np.round(rng.lognormal(4.5, 1.0, n_fact), 2)
    payer_names = np.array(PAYERS)[pi]
    fact = pa.table(
        {
            "fact_uid": [f"f{i:08d}" for i in range(n_fact)],
            "state": np.array(STATES)[si],
            "year_month": np.array(MONTHS)[mi],
            "payer_slug": [slug(p) for p in payer_names],
            "billing_class": np.where(rng.random(n_fact) < 0.6, "professional", "institutional"),
            "code_type": np.where(np.char.startswith(np.array(codes)[ci], "G"), "HCPCS", "CPT"),
            "code": np.array(codes)[ci],
            "pg_uid": np.array(groups)[gi],
            "pos_set_id": np.array(SERVICE_CODES)[rng.integers(0, len(SERVICE_CODES), n_fact)],
            "negotiated_type": np.where(rng.random(n_fact) < 0.8, "negotiated", "fee schedule"),
            "negotiation_arrangement": np.full(n_fact, "ffs"),
            "negotiated_rate": rate,
            "expiration_date": np.full(n_fact, "9999-12-31"),
            "provider_group_id_raw": np.array(groups)[gi],
            "reporting_entity_name": payer_names,
        }
    )
    dim_code = pa.table(
        {
            "code_type": ["HCPCS" if c.startswith("G") else "CPT" for c in codes],
            "code": codes,
            "code_description": [f"procedure {c}" for c in codes],
            "code_name": [f"proc {c}" for c in codes],
        }
    )
    npi_cols = list(zip(*npi_rows))
    dim_npi = pa.table(
        {
            "npi": list(npi_cols[0]),
            "enumeration_type": ["NPI-2"] * len(npi_rows),
            "status": ["A"] * len(npi_rows),
            "organization_name": list(npi_cols[1]),
            "first_name": pa.array([None] * len(npi_rows), pa.string()),
            "last_name": pa.array([None] * len(npi_rows), pa.string()),
            "primary_taxonomy_desc": list(npi_cols[2]),
        }
    )
    xn = list(zip(*xref_npi))
    xt = list(zip(*xref_tin))
    written = 0
    written += _write(fact, out / "fact_rate" / "part-0.parquet")
    written += _write(dim_code, out / "dim_code" / "part-0.parquet")
    _dim_code_cat(codes, out / "dim_code_cat" / "part-0.parquet")
    written += _write(dim_npi, out / "dim_npi" / "part-0.parquet")
    written += _write(
        pa.table({"pg_uid": list(xn[0]), "npi": list(xn[1])}),
        out / "xref_pg_member_npi" / "part-0.parquet",
    )
    written += _write(
        pa.table({"pg_uid": list(xt[0]), "tin_type": list(xt[1]), "tin_value": list(xt[2])}),
        out / "xref_pg_member_tin" / "part-0.parquet",
    )
    return {
        "codes": codes,
        "orgs": sorted({r[1] for r in npi_rows}),
        "taxonomies": TAXONOMIES,
        "payers": PAYERS,
        "input_bytes": written,
    }


def _dim_code_cat(codes: list[str], path: Path) -> None:
    """The code → procedure set / class / group table the category MVs join,
    from the program's categorizer in its SQL form, run on DuckDB: the same
    rules as ``categorize_expr`` without a Spark job in the set-up."""
    import duckdb

    from mrf_etl_spark.functions.categorizer import categorize_sql_case

    con = duckdb.connect()
    con.register("codes", pa.table({"proc_cd": codes}))
    levels = ", ".join(f"{categorize_sql_case('proc_cd', lvl)} AS {name}"
                       for lvl, name in enumerate(["proc_set", "proc_class", "proc_group"]))
    _write(con.execute(f"SELECT proc_cd, {levels} FROM codes").arrow(), path)
    con.close()


# ----------------------------------------------------------------- ingest


class MrfBatches:
    """A seeded sequence of MRF batches (rates parquet + provider parquet).

    Batch ``i`` belongs to ``states[i % len(states)]`` and carries ``rows`` rate rows
    spread over the three months; ``replay`` of them are exact copies of
    rows offered earlier for the same state, the rest are fresh. Fresh rows
    are distinct on the whole fact grain, so the expected fact-table size is
    the number of fresh rows offered so far.
    """

    RATE_FIELDS = [
        "last_updated_on", "reporting_entity_name", "reporting_entity_type",
        "version", "billing_class", "billing_code_type", "billing_code",
        "service_codes", "negotiated_type", "negotiation_arrangement",
        "negotiated_rate", "expiration_date", "description", "name",
        "provider_reference_id", "provider_group_id",
    ]
    PROVIDER_FIELDS = [
        "last_updated_on", "reporting_entity_name", "reporting_entity_type",
        "version", "provider_group_id", "provider_reference_id", "npi",
        "tin_type", "tin_value",
    ]

    def __init__(self, seed: int, out: Path, rows: int, replay: float, n_codes: int,
                 n_groups: int, states: list[str]):
        self.rng = np.random.default_rng(seed)
        self.states = states
        self.out, self.rows, self.replay = out, rows, replay
        self.codes = code_universe(self.rng, n_codes)
        self.n_groups = n_groups
        self.seen: set[tuple] = set()
        self.offered: dict[str, list[tuple]] = {s: [] for s in states}
        self.fresh_total = 0

    def make(self, i: int) -> dict:
        rng = self.rng
        state = self.states[i % len(self.states)]
        payer = PAYERS[i % len(PAYERS)]
        history = self.offered[state]
        n_replay = int(round(self.rows * self.replay)) if history else 0
        picked = [history[int(k)] for k in rng.integers(0, len(history), n_replay)] if n_replay else []
        fresh: list[tuple] = []
        while len(fresh) < self.rows - n_replay:
            k = self.rows - n_replay - len(fresh)
            month = rng.integers(0, len(MONTHS), k)
            prof = rng.random(k) < 0.6
            code = zipf_index(rng, len(self.codes), k)
            svc = rng.integers(0, len(SERVICE_CODES), k)
            rate = np.round(rng.lognormal(4.5, 1.0, k), 2)
            group = zipf_index(rng, self.n_groups, k, s=0.8)
            for j in range(k):
                row = (
                    f"{MONTHS[month[j]]}-01", payer, "Insurer", "1.0.0",
                    "professional" if prof[j] else "institutional", "CPT",
                    self.codes[code[j]], SERVICE_CODES[svc[j]], "negotiated", "ffs",
                    float(rate[j]), "9999-12-31", "desc", "name", f"PR{group[j]}", None,
                )
                key = (state, *row)
                if key not in self.seen:
                    self.seen.add(key)
                    fresh.append(row)
        history.extend(fresh)
        self.fresh_total += len(fresh)
        rows = fresh + picked
        rates = pa.table(
            {f: [r[k] for r in rows] for k, f in enumerate(self.RATE_FIELDS)},
            schema=pa.schema(
                [(f, pa.float64() if f == "negotiated_rate" else pa.string()) for f in self.RATE_FIELDS]
            ),
        )
        groups = sorted({r[14] for r in rows})
        prov_rows = []
        for g in groups:
            gi = int(g[2:])
            for j in range(1 + gi % 2):
                prov_rows.append(
                    ("2025-01-01", payer, "Insurer", "1.0.0", None, g,
                     str(1000000000 + gi * 10 + j), "ein", f"{(gi * 7919) % 1000000000:09d}")
                )
        providers = pa.table(
            {f: [r[k] for r in prov_rows] for k, f in enumerate(self.PROVIDER_FIELDS)},
            schema=pa.schema([(f, pa.string()) for f in self.PROVIDER_FIELDS]),
        )
        d = self.out / f"batch{i:03d}"
        nbytes = _write(rates, d / "rates.parquet") + _write(providers, d / "providers.parquet")
        return {
            "i": i,
            "state": state,
            "rates": str(d / "rates.parquet"),
            "providers": str(d / "providers.parquet"),
            "rows": len(rows),
            "fresh": len(fresh),
            "replayed": len(picked),
            "bytes": nbytes,
            "expected_fact": self.fresh_total,
            "probe_code": fresh[0][6],
            "probe_month": fresh[0][0][:7],
        }


# ---------------------------------------------------------------- catalog

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "the fast slow key order sort table scan merge part window small large hash "
    "join batch stream spark dup query plan index cache shuffle row column file "
    "lake rate code payer state month group filter"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]


def catalog_tables(seed: int, out: Path) -> int:
    """The tables the catalog entries read, in the layout of the repository's
    test data (``<out>/<table>.parquet``), at about its smallest scale:
    region, nation, customer, supplier, orders, lineitem, events and
    documents. Returns the bytes written."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc = 150, 10, 200, 1500, 6000, 1000, 500

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int) -> pa.Array:
        d = np.datetime64(start, "us") + rng.integers(0, n_days, n) * np.timedelta64(1, "D")
        return pa.array(d, pa.timestamp("us"))

    i32 = lambda xs: pa.array(xs, pa.int32())  # noqa: E731
    i64 = lambda xs: pa.array(xs, pa.int64())  # noqa: E731
    order_cust = rng.integers(0, n_cust, n_ord)
    line_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    ev_t = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)) * np.timedelta64(1, "us")
    doc_len = rng.integers(8, 90, n_doc)
    texts = [" ".join(DOC_WORDS[int(k)] for k in zipf_index(rng, len(DOC_WORDS), int(m), 0.9))
             for m in doc_len]
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999, 9999, n_supp)}),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(order_cust),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 400000, n_ord),
            "o_orderdate": days("1995-01-01", 2500, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": i64(line_order),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": days("1995-01-01", 2600, n_line)}),
        "events": pa.table({
            "event_id": i64(range(n_ev)),
            "ts": pa.array(ev_t, pa.timestamp("us")),
            "user_id": i64(rng.integers(0, 15, n_ev)),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": money(0, 500, n_ev),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": pa.table({
            "doc_id": i64(range(n_doc)),
            "text": texts,
            "lang": np.array(LANGS)[zipf_index(rng, len(LANGS), n_doc, 0.8)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": i64([len(t) for t in texts])}),
    }
    return sum(_write(t, out / f"{name}.parquet") for name, t in tables.items())

"""``serve`` workload: closed loop, two HTTP clients with zero think time,
against ``serving.serve()`` over the materialized tier.

The server runs in its own process (``serve_server.py``) so the CPU of the
server tree (driver Python, JVM, Python workers) is measured apart from the
load generator. Every run follows the same 20-request cycle of endpoint
families; the seed draws each request's parameters, Zipf-skewed over a
scope universe (codes × states × months, and so on) far larger than the
plan memo's 256 entries, so memo hits and misses both occur.
"""

from __future__ import annotations

import http.client
import json
import subprocess
import sys
import threading
import time
from pathlib import Path
from urllib.parse import urlencode

import numpy as np

import common
import gen

N_FACT = 15_000
N_CODES = 1500
N_GROUPS = 400
CLIENTS = 2
WARM_CLIENTS = 4  # warm-up only: more requests per second of set-up
WARM_WINDOW = 25  # requests per warm-up window
WARM_WINDOWS = 3
WARM_MAX_S = 15.0
WARM_TOL = 0.10

SCOPES = [(s, m) for s in gen.STATES for m in gen.MONTHS]
PAYER_FRAGMENTS = ["aetna", "blue", "united", "cigna", "humana", "ambetter", "anthem",
                   "health", "insurance", "cross"]
# search 45% (billing code 30%), category stats 25%, explore availability
# 15%, drill-down, autocomplete and rate summary 5% each. About 60% of
# requests take an MV-backed hot path and the rest the live index or the
# fact table; the two modes' latencies differ about 2x, so the mix keeps the
# median well inside the fast mode rather than on the gap between them. A
# fixed cycle keeps every window's family mix the same on every seed, so
# seeds vary only the request parameters.
CYCLE = [
    "search_code", "stats", "search_code", "explore", "search_payer",
    "stats", "search_code", "drill", "stats", "search_code",
    "explore", "search_org", "stats", "search_code", "autocomplete",
    "stats", "search_code", "explore", "search_tax", "summary",
]
EXPLORE_CATS = ["procedure_set", "payer", "organization", "taxonomy", "procedure_class"]
AUTO_FIELDS = ["payer", "billing_code", "organization_name", "primary_taxonomy_desc"]
ENVELOPE = {
    "search_code": "results", "search_payer": "results", "search_org": "results",
    "search_tax": "results", "explore": "results", "stats": "category_statistics",
    "drill": "results", "autocomplete": "suggestions", "summary": "summary",
}
SEARCH_KIND = {"search_code": "billing_code", "search_payer": "payer",
               "search_org": "organization", "search_tax": "taxonomy"}


class Mix:
    """Seeded request generator: (family, path, params)."""

    def __init__(self, seed: int, universe: dict):
        self.rng = np.random.default_rng(seed)
        self.u = universe
        self.i = 0
        self.seen: dict[str, int] = {}  # requests of each family so far
        self.org_words = sorted({w.lower() for o in universe["orgs"] for w in o.split()
                                 if w.isalpha() and len(w) > 3})

    def _z(self, n: int, s: float = 1.1) -> int:
        return int(gen.zipf_index(self.rng, n, 1, s)[0])

    def next(self) -> tuple[str, str, dict]:
        fam = CYCLE[self.i % len(CYCLE)]
        self.i += 1
        # which code path a request takes (a rolled-up category or not, a
        # payer or a taxonomy source, a filter or not) follows the family's
        # count, not a draw: the same share of fast and slow paths every run
        k = self.seen[fam] = self.seen.get(fam, 0) + 1
        state, ym = SCOPES[self._z(len(SCOPES), 0.8)]
        scope = {"state": state, "year_month": ym}
        u = self.u
        if fam == "search_code":
            return fam, "/api/search/billing-code", {
                "billing_code": u["codes"][self._z(len(u["codes"]))], **scope, "limit": 100}
        if fam == "search_payer":
            return fam, "/api/search/payer", {
                "payer_name": PAYER_FRAGMENTS[self._z(len(PAYER_FRAGMENTS))], **scope,
                "limit": 100}
        if fam == "search_org":
            return fam, "/api/search/organization", {
                "org_name": self.org_words[self._z(len(self.org_words))], **scope, "limit": 100}
        if fam == "search_tax":
            t = u["taxonomies"][self._z(len(u["taxonomies"]))]
            return fam, "/api/search/taxonomy", {
                "taxonomy_desc": t.split()[0].lower(), **scope, "limit": 100}
        if fam == "explore":
            # every third on the rolled-up category, the rest live
            cat = (EXPLORE_CATS[0] if k % 3 == 1
                   else EXPLORE_CATS[1 + self._z(len(EXPLORE_CATS) - 1)])
            return fam, "/api/explore/data-availability", {**scope, "category": cat, "limit": 25}
        if fam == "stats":
            return fam, "/api/explore/category-stats", scope
        if fam == "drill":
            if k % 2:
                src, val = "payer", u["payers"][self._z(len(u["payers"]))]
            else:
                src, val = "taxonomy", u["taxonomies"][self._z(len(u["taxonomies"]))]
            drill = ["procedure_set", "organization", "procedure_class"][self._z(3)]
            return fam, "/api/explore/drill-down", {
                **scope, "category": src, "selected_value": val, "drill_category": drill,
                "limit": 50}
        if fam == "autocomplete":
            return fam, "/api/autocomplete", {
                "field": AUTO_FIELDS[k % len(AUTO_FIELDS)], **scope, "limit": 20}
        params = dict(scope)
        if k % 2:
            params["payer"] = PAYER_FRAGMENTS[self._z(len(PAYER_FRAGMENTS))]
        return fam, "/api/rates/summary", params


def fetch(conn: http.client.HTTPConnection, path: str, params: dict) -> tuple[int, dict]:
    conn.request("GET", f"{path}?{urlencode(params)}")
    r = conn.getresponse()
    return r.status, json.loads(r.read())


def closed_loop(port: int, mix: Mix, stop, on_done, clients: int = CLIENTS) -> None:
    """``clients`` threads, each sending its next request as soon as the
    previous one returns, until ``stop()`` is true."""
    lock = threading.Lock()

    def client():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        while not stop():
            with lock:
                fam, path, params = mix.next()
            t = time.perf_counter()
            try:
                status, body = fetch(conn, path, params)
                ok = status == 200 and ENVELOPE[fam] in body
            except (OSError, http.client.HTTPException, ValueError):
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                ok = False
            with lock:
                on_done(fam, time.perf_counter() - t, ok)
        conn.close()

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()


class Server:
    """The server process, driven over its stdin/stdout line protocol."""

    def __init__(self, run_dir: Path, trace: int):
        self.proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).with_name("serve_server.py")),
             "--run-dir", str(run_dir), "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.ready = self._read()

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("serve server exited before answering")
        return json.loads(line)

    def cmd(self, c: str) -> dict:
        self.proc.stdin.write(c + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


def warm_up(port: int, mix: Mix, pid: int) -> tuple[list[dict], bool]:
    """WARM_WINDOWS closed-loop windows of WARM_WINDOW requests (fewer if
    WARM_MAX_S passes); reports whether median latency and server CPU per
    request had levelled off by the last one."""
    windows: list[dict] = []
    t_end = time.perf_counter() + WARM_MAX_S
    while True:
        lat: list[float] = []
        cpu0 = common.tree_cpu(pid)["total"]
        closed_loop(port, mix, lambda lat=lat: len(lat) >= WARM_WINDOW,
                    lambda fam, dt, ok, lat=lat: lat.append(dt), WARM_CLIENTS)
        cpu = common.tree_cpu(pid)["total"] - cpu0
        windows.append({"p50_ms": common.median(lat) * 1e3,
                        "cpu_ms_per_req": cpu / len(lat) * 1e3})
        if len(windows) >= WARM_WINDOWS or time.perf_counter() > t_end:
            steady = all(common.levelled([w[k] for w in windows], WARM_TOL)
                         for k in ("p50_ms", "cpu_ms_per_req"))
            return windows, steady


class Oracle:
    """What an endpoint must return, computed by DuckDB over the parquet the
    tier was built from (the index MV, the star's fact and dims)."""

    def __init__(self, run_dir: Path):
        import duckdb

        from mrf_etl_spark.plans.queries import StarLake

        self.con = duckdb.connect()
        self.con.execute("SET threads=2")
        self.fields = StarLake.CATEGORY_FIELDS
        self.rollups = StarLake.SEARCH_ROLLUPS
        self.sources = StarLake.AUTOCOMPLETE_SOURCES
        self.idx = self._src(run_dir / "mv" / "search_index")
        self.lake = run_dir / "lake"
        self.idx_cols = [
            r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {self.idx}").fetchall()
        ]

    @staticmethod
    def _src(path: Path) -> str:
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning=1)"

    def _groups(self, sql: str, args: dict, limit: int) -> tuple[int, int]:
        rows = self.con.execute(f"{sql} ORDER BY n DESC LIMIT {int(limit)}", args).fetchall()
        return len(rows), sum(r[0] for r in rows)

    def expected(self, fam: str, p: dict):
        scope = "state = $state AND year_month = $ym"
        args = {"state": p["state"], "ym": p["year_month"]}
        if fam in SEARCH_KIND:
            col, op, groups, _ = self.rollups[SEARCH_KIND[fam]]
            value = p[{"search_code": "billing_code", "search_payer": "payer_name",
                       "search_org": "org_name", "search_tax": "taxonomy_desc"}[fam]]
            pred = f"{col} = $v" if op == "eq" else f"contains(lower({col}), lower($v))"
            g = ", ".join(c for c in groups if c in self.idx_cols)
            return self._groups(
                f"SELECT count(*) AS n FROM {self.idx} WHERE {scope} AND {pred} GROUP BY {g}",
                {**args, "v": value}, p["limit"])
        if fam in ("explore", "drill"):
            field = self.fields[p["category"] if fam == "explore" else p["drill_category"]]
            extra = ""
            if fam == "drill":
                extra = f" AND {self.fields[p['category']]} = $src"
                args["src"] = p["selected_value"]
            return self._groups(
                f"SELECT count(*) AS n FROM {self.idx} WHERE {scope} AND {field} IS NOT NULL "
                f"AND {field} <> ''{extra} GROUP BY {field}", args, p["limit"])
        if fam == "stats":
            return 1, self.con.execute(
                f"SELECT count(*) FROM {self.idx} WHERE {scope}", args).fetchone()[0]
        if fam == "autocomplete":
            table, col, scoped = self.sources[p["field"]]
            table = {"fact": "fact_rate"}.get(table, table)
            where = f"{col} IS NOT NULL AND {col} <> ''" + (f" AND {scope}" if scoped else "")
            n = self.con.execute(
                f"SELECT count(DISTINCT {col}) FROM {self._src(self.lake / table)} WHERE {where}",
                args if scoped else {}).fetchone()[0]
            return min(n, p["limit"]), None
        where = scope
        if "payer" in p:
            where += " AND contains(lower(reporting_entity_name), lower($payer))"
            args["payer"] = p["payer"]
        return self.con.execute(
            f"SELECT count(*) FROM {self._src(self.lake / 'fact_rate')} WHERE {where}", args
        ).fetchone()[0], None


def observed(fam: str, body: dict):
    if fam == "stats":
        return 1, body["category_statistics"]["total_records"]
    if fam in SEARCH_KIND:
        return body["result_count"], sum(r["rate_count"] for r in body["results"])
    if fam in ("explore", "drill"):
        return body["result_count"], sum(r["record_count"] for r in body["results"])
    if fam == "autocomplete":
        return len(body["suggestions"]), None
    return body["summary"]["total_rates"], None


def check(port: int, seed: int, universe: dict, run_dir: Path) -> list[str]:
    """One seeded request per endpoint family (outside the timed window),
    each compared with DuckDB. Returns the mismatches."""
    oracle = Oracle(run_dir)
    mix = Mix(seed + 7, universe)
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    bad = []
    todo = set(CYCLE)
    while todo:
        fam, path, params = mix.next()
        if fam not in todo:
            continue
        todo.discard(fam)
        status, body = fetch(conn, path, params)
        got = observed(fam, body) if status == 200 else (status, body)
        want = oracle.expected(fam, params)
        if got != want:
            bad.append(f"{fam} {params}: got {got} want {want}")
    conn.close()
    return bad


def run(args, run_dir: Path, t0: float) -> dict:
    universe = gen.serve_star(args.seed, run_dir / "lake", N_FACT, N_CODES, N_GROUPS)
    t_spawn = time.perf_counter()
    server = Server(run_dir, args.trace)
    try:
        r = server.ready
        r["mv_steps_s"]["server_ready"] = time.perf_counter() - t_spawn
        pid, port = server.proc.pid, r["port"]
        mix = Mix(args.seed + 1, universe)
        tw = time.perf_counter()
        windows, steady = warm_up(port, mix, pid)
        setup_s = time.perf_counter() - t0
        warm_s = time.perf_counter() - tw

        server.cmd("mark")
        noise0 = common.machine_sample()
        lat: list[float] = []
        by_fam: dict[str, list[float]] = {}
        failed = 0

        def done(fam, dt, ok):
            nonlocal failed
            lat.append(dt)
            by_fam.setdefault(fam, []).append(dt)
            failed += not ok

        cpu0 = common.tree_cpu(pid)
        w0 = time.perf_counter()
        deadline = w0 + args.seconds
        closed_loop(port, mix, lambda: time.perf_counter() >= deadline, done)
        wall = time.perf_counter() - w0
        cpu = common.cpu_delta(cpu0, common.tree_cpu(pid))
        noise = common.machine_noise(noise0)
        n = len(lat)
        traced = {}
        if args.trace:
            out = run_dir / "server_trace.json"
            server.cmd(f"dump {out}")
            tr = json.loads(out.read_text())
            api_p50 = common.median(tr["api_ms"])
            traced = {
                "serving.api_ms_p50": api_p50,
                "serving.http_ms_p50": common.median(lat) * 1e3 - api_p50,
                "queries.plan_ms_p50": common.median(tr["plan_ms"]),
                "queries.memo_hit_frac": tr["memo_hits"] / max(1, tr["plan_calls"]),
                "spark.catalyst_ms_per_op": tr["catalyst_ms"] / n,
                **common.engine_per_op(tr["engine"], n),
            }
        bad = check(port, args.seed, universe, run_dir)
    finally:
        server.close()
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": common.median(lat) * 1e3,
        "op_p80_ms": common.pct(lat, 80) * 1e3,
        "ops_per_s": n / wall,
        "cpu_ms_per_op": cpu["total"] / n * 1e3,
        "bytes_per_input_byte": r["mv_bytes"] / universe["input_bytes"],
    }
    return {
        "attempted": n,
        "failed": failed,
        "correct": not bad,
        "problems": bad[:5],
        "e2e": e2e,
        "layer": {
            "session.start_s": r["session_start_s"],
            "setup.build_s": setup_s - r["session_start_s"] - warm_s,
            "setup.warm_s": warm_s,
            "setup.warm_windows": float(len(windows)),
            "setup.warm_levelled": float(steady),
            "queries.mv_build_s": r["mv_build_s"],
            "spark.jvm_cpu_s": cpu["jvm"] / n,
            "operators.pyworker_cpu_s": cpu["pyworkers"] / n,
            "operators.pyworker_cpu_frac": cpu["pyworkers"] / cpu["total"],
            "trace.op_p50_ms": e2e["op_p50_ms"],
            "trace.cpu_ms_per_op": e2e["cpu_ms_per_op"],
            **traced,
            **noise,
        },
        "detail": {
            "mv_steps_s": r["mv_steps_s"],
            "warm_windows": windows,
            "p50_ms_by_family": {f: common.median(v) * 1e3 for f, v in sorted(by_fam.items())},
        },
    }

"""Measure each probe component's ORACLE cost under driver-like conditions:
a fresh DuckDB process at DEFAULT threads (no SET threads mitigation), sf0.01.

Usage: python scripts/measure_oracle.py [component ...]
Prints one line per component: seconds, peak-ish RSS, rows, or the error.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WORKER = r"""
import json, resource, sys, time
import duckdb
sf_dir = sys.argv[1]
sql = sys.stdin.read()
con = duckdb.connect()
for tbl in ("region nation customer supplier part orders lineitem events "
            "documents embeddings").split():
    con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{tbl}.parquet')")
t0 = time.time()
rows = con.sql(sql).fetchall()
dt = time.time() - t0
rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
print(json.dumps({"sec": round(dt, 2), "rss_mb": rss, "rows": len(rows)}))
"""


def main() -> None:
    import mrf_etl_spark.plans.parity_llm  # noqa: F401
    import mrf_etl_spark.plans.parity_streaming  # noqa: F401
    from mrf_etl_spark.plans.parity import REGISTRY
    from mrf_etl_spark.plans.parity_fused import FUSE_SPECS, _fused_oracle

    sf_dir = "/root/testdata/sf0.01"
    picks = sys.argv[1:]
    comps: list[tuple[str, list[str]]] = []
    seen = set()
    for spec in FUSE_SPECS.values():
        for comp, dbl in spec:
            if comp not in seen and (not picks or comp in picks):
                seen.add(comp)
                comps.append((comp, dbl))
    # also allow measuring direct entries / probes by name
    for p in picks:
        if p not in seen and p in REGISTRY:
            comps.append((p, None))

    results = {}
    for comp, dbl in comps:
        sql = REGISTRY[comp].oracle if dbl is None else _fused_oracle([(comp, dbl)])
        if sql is None:
            continue
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, "-c", WORKER, sf_dir],
            input=sql, capture_output=True, text=True, timeout=600,
        )
        wall = round(time.time() - t0, 2)
        if proc.returncode == 0:
            r = json.loads(proc.stdout.strip().splitlines()[-1])
            r["wall"] = wall
            results[comp] = r
            print(f"OK   {comp:32s} {r['sec']:7.2f}s  rss={r['rss_mb']:5d}MB rows={r['rows']}")
        else:
            err = (proc.stderr or "").strip().splitlines()
            results[comp] = {"err": err[-1] if err else "?", "wall": wall}
            print(f"FAIL {comp:32s} wall={wall}s  {err[-1][:120] if err else '?'}")
        sys.stdout.flush()
    with open("/tmp/oracle_measure.json", "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()

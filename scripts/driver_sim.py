"""Simulate the driver's verify pass for the 50-entry window.

For each named window entry (default: all 50), in THIS process — which
holds a live Spark JVM, like the driver's verify process — run the Spark
query, then the oracle SQL on a fresh default-thread DuckDB connection,
and compare rows/columns/values exactly like tests/oracle_harness.py.
Tracks /proc/self/maps growth so map-budget regressions (the r5 OOM root
cause) show up as numbers, not as driver-only failures.

Usage: python scripts/driver_sim.py [sf_dir] [name_substring...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))


def n_maps() -> int:
    with open(f"/proc/{os.getpid()}/maps") as fh:
        return sum(1 for _ in fh)


def main() -> int:
    import duckdb

    from oracle_harness import compare

    import __spark_entry__ as entrymod
    from mrf_etl_spark.plans.parity_fused import DRIVER_WINDOW, ordered_registry
    from mrf_etl_spark.session import get_spark
    from mrf_etl_spark.state import release_state

    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    picks = [a for a in args if "/" not in a]

    REG = ordered_registry()
    spark = get_spark(app_name="driver-sim", shuffle_partitions=8)
    entrymod  # noqa: B018  (imported for its sys.path side effect parity)

    failures = 0
    for name in DRIVER_WINDOW:
        if picks and not any(p in name for p in picks):
            continue
        q = REG[name]
        t0 = time.time()
        try:
            df = q.spark_fn(spark, sf_dir)
            # fresh default-thread connection per entry, like the driver
            con = duckdb.connect()
            for tbl in (
                "region nation customer supplier part orders lineitem "
                "events documents embeddings"
            ).split():
                con.sql(
                    f"CREATE VIEW {tbl} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{tbl}.parquet')"
                )
            r = compare(name, df, q.oracle, con)
            release_state()
            con.close()
        except Exception as e:  # noqa: BLE001
            r = {"name": name, "status": "ERROR", "error": str(e)[:300]}
        dt = time.time() - t0
        if r["status"] not in ("PASS", "ROWS_ONLY"):
            failures += 1
        print(
            f"{r['status']:12s} {name:28s} {dt:6.1f}s maps={n_maps():6d} "
            + str({k: v for k, v in r.items() if k not in ("name", "status")})[:160]
        )
        sys.stdout.flush()
    print(f"\nfailures: {failures}  final maps: {n_maps()}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

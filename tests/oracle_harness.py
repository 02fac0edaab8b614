"""Self-check harness mimicking the driver's DuckDB-oracle compare.

For every parity-catalog entry: run the Spark query and the oracle SQL over
the same parquet tables, then compare row count + column names + sorted
value tuples (exact, with a float-tolerance diagnostic so near-misses are
visible before they become driver hash mismatches).

Usage: python tests/oracle_harness.py [sf_dir] [name_substring...]
"""

from __future__ import annotations

import datetime as _dt
import math
import sys

sys.path.insert(0, "/root/repo")


def _norm_val(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        return float(v)
    if isinstance(v, int):
        return int(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return str(v)


def _sort_key(row):
    return tuple(
        (x is None, "" if x is None else type(x).__name__, str(x)) for x in row
    )


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    ncols = [cols[i].lower() for i in order]
    nrows = sorted(
        (tuple(_norm_val(r[i]) for i in order) for r in rows), key=_sort_key
    )
    return ncols, nrows


def _values_close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(name: str, spark_df, oracle: str | None, con) -> dict:
    scols = spark_df.columns
    srows = [tuple(r) for r in spark_df.collect()]
    if oracle is None:
        return {"name": name, "status": "ROWS_ONLY", "spark_rows": len(srows)}
    res = con.sql(oracle)
    ocols = res.columns
    orows = res.fetchall()
    sc, sr = normalize(scols, srows)
    oc, orw = normalize(ocols, orows)
    out = {"name": name, "spark_rows": len(sr), "oracle_rows": len(orw)}
    if sc != oc:
        out.update(status="FAIL_SCHEMA", spark_cols=sc, oracle_cols=oc)
        return out
    if len(sr) != len(orw):
        out["status"] = "FAIL_COUNT"
        return out
    exact = sum(1 for a, b in zip(sr, orw) if a == b)
    close = sum(
        1
        for a, b in zip(sr, orw)
        if len(a) == len(b) and all(_values_close(x, y) for x, y in zip(a, b))
    )
    if exact == len(sr):
        out["status"] = "PASS"
    elif close == len(sr):
        out["status"] = "NEAR"  # would likely FAIL a strict hash compare
        out["exact"] = exact
        for a, b in zip(sr, orw):
            if a != b:
                out["example"] = {"spark": a, "oracle": b}
                break
    else:
        out["status"] = "FAIL_VALUES"
        out["exact"] = exact
        out["close"] = close
        for a, b in zip(sr, orw):
            if not (len(a) == len(b) and all(_values_close(x, y) for x, y in zip(a, b))):
                out["example"] = {"spark": a, "oracle": b}
                break
    return out


def main() -> int:
    import duckdb

    import mrf_etl_spark.plans.parity_llm  # noqa: F401  (registers LLM ops)
    import mrf_etl_spark.plans.parity_streaming  # noqa: F401  (streaming ops)
    from mrf_etl_spark import state
    from mrf_etl_spark.plans.parity_fused import ordered_registry
    from mrf_etl_spark.session import get_spark

    REGISTRY = ordered_registry()  # driver-window order (fused probes first)

    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    picks = [a for a in args if "/" not in a]

    spark = get_spark(app_name="oracle-harness", shuffle_partitions=8)

    def fresh_con():
        c = duckdb.connect()
        # Round 6 removed the oracle shapes that made thread count
        # dangerous (recursive CTEs and re-inlined cosine cascades used
        # to mmap 30-64k blocks at 32 threads and slam vm.max_map_count —
        # see tests/test_driver_env.py, which now pins every closure
        # oracle to a small map budget at DEFAULT threads). 8 threads is
        # kept here only to keep the long-lived harness process lean next
        # to the Spark JVM; correctness no longer depends on it.
        c.sql("SET threads=8")
        for tbl in (
            "region nation customer supplier part orders lineitem events documents embeddings"
        ).split():
            c.sql(
                f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf_dir}/{tbl}.parquet')"
            )
        return c

    failures = 0
    done = 0
    con = fresh_con()
    for name, q in REGISTRY.items():
        if picks and not any(p in name for p in picks):
            continue
        # recycle the DuckDB connection periodically: a single connection
        # across the full ~118-entry catalog accumulates buffer-pool state
        # next to the long-lived Spark JVM and the tail entries die with
        # malloc failures ("bad allocation" / can't-start-thread). The
        # round driver runs each entry in a fresh process and never sees
        # this; the local harness should match that resilience.
        done += 1
        if done % 20 == 0:
            con.close()
            con = fresh_con()
        try:
            before = state.held(spark)
            df = q.spark_fn(spark, sf_dir)
            r = compare(name, df, q.oracle, con)
            state.release_state()
            cache, rdds = state.leaked(before, state.held(spark))
            if cache or rdds:
                r.update(status="LEAK", leaked_cache=cache, leaked_rdds=rdds)
        except Exception as e:  # noqa: BLE001
            r = {"name": name, "status": "ERROR", "error": str(e)[:500]}
        flag = r["status"]
        if flag not in ("PASS", "ROWS_ONLY"):
            failures += 1
        print(f"{flag:12s} {name:32s} " + str({k: v for k, v in r.items() if k not in ('name', 'status')})[:220])
    print(f"\n{'=' * 60}\nfailures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

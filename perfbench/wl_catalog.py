"""``catalog`` workload: batch analytics through the catalog contract,
``__spark_entry__.queries()``.

A fixed list of catalog entries runs over tables generated from the seed
(the layout of the repository's test data, at its smallest scale), in a seeded
order each round. One operation is one entry: build the DataFrame, deliver
it with ``toPandas``, ``release_state`` it, then ``spark.catalog.clearCache()``.
Between the release and the cache clear the benchmark counts what the entry
left cached (CacheManager entries, persistent RDDs), outside the timing.

The list mixes three families, so a JVM-side change shows on one and a
Python-boundary change on another:

* pure SQL (``plans.parity``): a six-table join chain, latest row per key;
* a ``mapInPandas`` operator (``operators.multimodal`` via
  ``plans.parity_llm``): perceptual hashes;
* streaming operators (``streaming`` via ``plans.parity_streaming``):
  windowed event counts.

Each entry's result is checked against its ``oracle_sql()`` on DuckDB over
the same parquet: row count and sorted values.
"""

from __future__ import annotations

import math
import os
import time
from pathlib import Path

import numpy as np

import common
import gen

ENTRIES = {
    "j4_join_chain": "sql",
    "w1_latest_per_key": "sql",
    "m5_perceptual_hash": "python",
    "st1_windowed_counts": "stream",
}
TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events",
          "documents"]  # what gen.catalog_tables writes
WARM_ROUNDS = 5
MEASURED_ROUNDS = 3
WARM_TOL = 0.10


def run(args, run_dir: Path, t0: float) -> dict:
    data = run_dir / "tables"
    input_bytes = gen.catalog_tables(args.seed, data)

    t = time.perf_counter()
    spark = common.start_spark(run_dir, "perfbench-catalog")
    spark.range(1).collect()
    session_s = time.perf_counter() - t
    try:
        return _run(args, spark, run_dir, data, input_bytes, t0, session_s)
    finally:
        common.stop_spark(spark)


def _cached_entries(spark):
    """A callable giving (CacheManager entries, persistent RDDs) now. The
    CacheManager keeps its list in a private field, read by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    jsc = spark.sparkContext._jsc
    return lambda: (field.get(cm).size(), jsc.getPersistentRDDs().size())


def _run(args, spark, run_dir, data, input_bytes, t0, session_s) -> dict:
    import __spark_entry__
    from mrf_etl_spark.operators.dedup import release_state

    fns = {name: fn for name, fn in __spark_entry__.queries().items() if name in ENTRIES}
    tracer = common.Tracer(bool(args.trace))
    cached = _cached_entries(spark)
    rng = np.random.default_rng(args.seed)

    def one(name: str) -> dict:
        before = cached()
        with tracer.span("catalog.entry", entry=name):
            t = time.perf_counter()
            with tracer.span("catalog.build"):
                df = fns[name](spark, str(data))
            tb = time.perf_counter()
            with tracer.span("catalog.deliver"):
                pdf = df.toPandas()
            td = time.perf_counter()
            with tracer.span("catalog.release"):
                release_state(df)
            tr = time.perf_counter()
            # what this entry left: an RDD an earlier entry leaked may still
            # be listed (or be dropped by the cleaner meanwhile)
            leaks = [max(0, a - b) for a, b in zip(cached(), before)]
            tc = time.perf_counter()
            with tracer.span("catalog.clear_cache"):
                spark.catalog.clearCache()
            te = time.perf_counter()
        return {"name": name, "s": (tr - t) + (te - tc), "build": tb - t, "deliver": td - tb,
                "release": (tr - td) + (te - tc), "cache": leaks[0], "rdds": leaks[1],
                "catalyst_ms": common.catalyst_ms(df) if args.trace else 0.0, "pdf": pdf}

    failures: list[str] = []

    def one_round() -> list[dict]:
        done = []
        for name in rng.permutation(list(ENTRIES)):
            try:
                done.append(one(str(name)))
            except Exception as exc:  # noqa: BLE001 — counted as a failed operation
                failures.append(f"{name}: {exc!r}"[:300])
                spark.catalog.clearCache()
        return done

    t_warm = time.perf_counter()
    warm = [sum(o["s"] for o in one_round()) for _ in range(WARM_ROUNDS)]
    steady = common.levelled(warm, WARM_TOL)
    setup_s = time.perf_counter() - t0
    warm_s = time.perf_counter() - t_warm

    tracer.clear()
    warm_failures = failures[:]
    failures.clear()
    engine = common.Engine(spark) if args.trace else None
    mark = engine.mark() if engine else None
    noise0 = common.machine_sample()
    cpu0 = common.tree_cpu(os.getpid())
    w0 = time.perf_counter()
    rounds = [one_round() for _ in range(MEASURED_ROUNDS)]
    wall = time.perf_counter() - w0
    cpu = common.cpu_delta(cpu0, common.tree_cpu(os.getpid()))
    noise = common.machine_noise(noise0)
    eng = engine.since(mark) if engine else {}

    ops = [o for r in rounds for o in r]
    n = len(ops)
    last = {o["name"]: o for o in rounds[-1]}
    problems = warm_failures + failures + check(data, {k: o["pdf"] for k, o in last.items()})

    def med(name: str, key: str = "s") -> float:
        return common.median([o[key] for o in ops if o["name"] == name])

    # each entry's median over the rounds: a median over all operations
    # would fall between two entries' clusters and jump from run to run
    entry_s = [med(e) for e in ENTRIES]
    result_bytes = sum(_frame_bytes(o["pdf"]) for o in last.values())
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": sum(entry_s) / len(entry_s) * 1e3,
        "op_p80_ms": max(entry_s) * 1e3,
        "ops_per_s": n / wall,
        "cpu_ms_per_op": cpu["total"] / n * 1e3,
        "bytes_per_input_byte": result_bytes / input_bytes,
    }
    layer = {
        "session.start_s": session_s,
        "setup.build_s": setup_s - session_s - warm_s,
        "setup.warm_s": warm_s,
        "setup.warm_windows": float(len(warm)),
        "setup.warm_levelled": float(steady),
        "spark.jvm_cpu_s": cpu["jvm"] / n,
        "operators.pyworker_cpu_s": cpu["pyworkers"] / n,
        "operators.pyworker_cpu_frac": cpu["pyworkers"] / cpu["total"],
        "catalog.round_s": sum(entry_s),
        "catalog.cpu_s_per_round": cpu["total"] / len(rounds),
        "catalog.build_s": sum(med(e, "build") for e in ENTRIES),
        "catalog.deliver_s": sum(med(e, "deliver") for e in ENTRIES),
        "catalog.release_s": sum(med(e, "release") for e in ENTRIES),
        **{f"catalog.{fam}_s": sum(med(e) for e, f in ENTRIES.items() if f == fam)
           for fam in ("sql", "python", "stream")},
        **{f"catalog.{e}_s": med(e) for e in ENTRIES},
        "catalog.leaked_cache_entries": float(max(sum(o["cache"] for o in r) for r in rounds)),
        "catalog.leaked_rdds": float(max(sum(o["rdds"] for o in r) for r in rounds)),
        "trace.op_p50_ms": e2e["op_p50_ms"],
        "trace.cpu_ms_per_op": e2e["cpu_ms_per_op"],
        **noise,
    }
    if args.trace:
        layer.update({
            "spark.catalyst_ms_per_op": sum(o["catalyst_ms"] for o in ops) / n,
            **common.engine_per_op(eng, n),
        })
        tracer.dump(common.TRACES / f"{run_dir.name}.spans.json")
    return {
        "attempted": n + len(failures),
        "failed": len(failures),
        "correct": not problems,
        "problems": problems[:5],
        "e2e": e2e,
        "layer": layer,
        "detail": {
            "entries": list(ENTRIES),
            "warm_round_s": warm,
            "round_s": [sum(o["s"] for o in r) for r in rounds],
            "entry_ms": {e: med(e) * 1e3 for e in ENTRIES},
        },
    }


def _frame_bytes(pdf) -> int:
    """Arrow size of a delivered result."""
    import pyarrow as pa

    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


# ------------------------------------------------------------- correctness


def check(data: Path, results: dict) -> list[str]:
    """Each entry's delivered result against its ``oracle_sql()`` on DuckDB
    over the same tables: same row count, same sorted rows (floats equal to
    1e-9 relative). Returns the mismatches."""
    import duckdb

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / t}.parquet')")
    bad = []
    for name, pdf in results.items():
        want = con.sql(oracles[name]).df()
        got, exp = _rows(pdf), _rows(want)
        if len(got) != len(exp):
            bad.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        elif not all(_row_close(a, b) for a, b in zip(got, exp)):
            diff = next((a, b) for a, b in zip(got, exp) if not _row_close(a, b))
            bad.append(f"{name}: first differing row {diff[0]} vs oracle {diff[1]}")
    con.close()
    return bad


def _rows(pdf) -> list[tuple]:
    """Rows with columns in name order and values normalized (numbers as
    floats, nulls as None, timestamps as ISO strings), sorted."""
    cols = sorted(pdf.columns, key=str.lower)
    rows = [tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, type(x).__name__, str(x)) for x in r))


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return float(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        return None if isinstance(v, (float, np.floating)) and math.isnan(v) else float(v)
    if hasattr(v, "isoformat"):
        return None if str(v) == "NaT" else v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return str(v)


def _row_close(a: tuple, b: tuple) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, tuple) and isinstance(y, tuple):
            if not _row_close(x, y):
                return False
        elif isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True

"""``ingest`` workload: one writer runs a seeded sequence of MRF batches
through ``plans.ingest.ingest_batch``. Each batch is followed by the
serving-tier refresh (``StarLake.load`` + ``materialize_search_index``) and
one HTTP request to ``serving.serve()`` over the refreshed tier for a row of
the batch, so an operation is "batch offered → batch servable".

Batches are of one state (GA) and spread over three months. A quarter of
every batch after the first replays rows offered earlier, which the fact
upsert's anti-join must drop. One warm batch (the first, all fresh rows) is
followed by one measured batch (three quarters fresh, one quarter
replayed): a batch costs about as much as a third of a run may take.
``append_unique`` rewrites whole tables, so cost grows with the lake; a
fixed batch count, not a time, keeps the lake and the input the same size
on every run, however fast the program is.
"""

from __future__ import annotations

import http.client
import json
import os
import time
from pathlib import Path
from urllib.parse import urlencode

import common
import gen

ROWS = 1000  # rate rows per batch
REPLAY = 0.25  # share of each batch replaying earlier rows of its state
N_CODES = 800
N_GROUPS = 300
STATES = gen.STATES[:1]
WARM = 1
MEASURED = 1


def run(args, run_dir: Path, t0: float) -> dict:
    batches = gen.MrfBatches(args.seed, run_dir / "input", ROWS, REPLAY, N_CODES, N_GROUPS,
                             STATES)
    made = [batches.make(i) for i in range(WARM + MEASURED)]

    t = time.perf_counter()
    spark = common.start_spark(run_dir, "perfbench-ingest")
    spark.range(1).collect()
    session_s = time.perf_counter() - t
    try:
        return _run(args, spark, run_dir, made, t0, session_s)
    finally:
        common.stop_spark(spark)


def _instrument(tracer, df_cls, ingest_mod, lake_cls, api_cls) -> None:
    tracer.wrap(ingest_mod, "append_unique", "ingest.append_unique")
    tracer.wrap(ingest_mod, "upsert_by_key", "ingest.upsert")
    tracer.wrap(df_cls, "count", "ingest.count")
    tracer.wrap(lake_cls, "materialize_search_index", "queries.mv_build")
    tracer.wrap(lake_cls, "search_rollup", "queries.plan")
    tracer.wrap(api_cls, "search", "serving.api")
    tracer.wrap_collect(df_cls)


def _run(args, spark, run_dir, made, t0, session_s) -> dict:
    import mrf_etl_spark.plans.ingest as ingest_mod
    from mrf_etl_spark.plans.ingest import IngestConfig, ingest_batch
    from mrf_etl_spark.plans.queries import StarLake
    from mrf_etl_spark.serving.api import RateAPI, serve

    tracer = common.Tracer(bool(args.trace))
    if args.trace:
        # the session's concrete DataFrame class (pyspark's classic one)
        _instrument(tracer, type(spark.range(1)), ingest_mod, StarLake, RateAPI)
    lake, mv = run_dir / "lake", run_dir / "mv"
    state = {"fact": 0, "next": 0, "failed": 0}
    problems: list[str] = []

    def one_batch() -> dict:
        b = made[state["next"]]
        state["next"] += 1
        rates = spark.read.parquet(b["rates"])
        providers = spark.read.parquet(b["providers"])
        t = time.perf_counter()
        with tracer.span("ingest.batch", b["i"]):
            counts = ingest_batch(spark, rates, providers, str(lake), IngestConfig(state=b["state"]))
            tier = StarLake.load(spark, str(lake)).materialize_search_index(str(mv))
            server = serve(RateAPI(tier), host="127.0.0.1", port=0, block=False)
            try:
                th = time.perf_counter()
                status, body = _get(server.server_address[1], "/api/search/billing-code", {
                    "billing_code": b["probe_code"], "state": b["state"],
                    "year_month": b["probe_month"], "limit": 10})
                http_s = time.perf_counter() - th
            finally:
                server.shutdown()
                server.server_close()
        dt = time.perf_counter() - t
        inserted = counts["fact_rate"] - state["fact"]
        state["fact"] = counts["fact_rate"]
        if inserted != b["fresh"]:
            problems.append(f"batch {b['i']}: inserted {inserted} fact rows for "
                            f"{b['fresh']} fresh + {b['replayed']} replayed")
        if counts["fact_rate"] != b["expected_fact"]:
            problems.append(f"batch {b['i']}: fact_rate has {counts['fact_rate']} rows, "
                            f"generator made {b['expected_fact']} distinct fact keys")
        state["failed"] += status != 200
        if status != 200 or body.get("result_count", 0) < 1:
            problems.append(f"batch {b['i']}: its first row is not servable ({status})")
        return {"s": dt, "http_s": http_s, "rows": b["rows"], "inserted": inserted,
                "bytes": b["bytes"], "written": _written_since(lake, t)}

    t_build = time.perf_counter()
    warm = [one_batch()["s"] for _ in range(WARM)]
    setup_s = time.perf_counter() - t0
    warm_s = time.perf_counter() - t_build

    tracer.clear()
    engine = common.Engine(spark) if args.trace else None
    mark = engine.mark() if engine else None
    noise0 = common.machine_sample()
    cpu0 = common.tree_cpu(os.getpid())
    w0 = time.perf_counter()
    done = [one_batch() for _ in range(MEASURED)]
    wall = time.perf_counter() - w0
    cpu = common.cpu_delta(cpu0, common.tree_cpu(os.getpid()))
    noise = common.machine_noise(noise0)
    n = len(done)
    rows = sum(d["rows"] for d in done)
    offered = sum(d["bytes"] for d in made)
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": common.median([d["s"] for d in done]) * 1e3,
        "op_p80_ms": common.pct([d["s"] for d in done], 80) * 1e3,
        "ops_per_s": n / wall,
        "cpu_ms_per_op": cpu["total"] / n * 1e3,
        "bytes_per_input_byte": common.dir_bytes(lake) / offered,
    }
    layer = {
        "session.start_s": session_s,
        "setup.build_s": setup_s - session_s - warm_s,
        "setup.warm_s": warm_s,
        "setup.warm_windows": float(len(warm)),
        "setup.warm_levelled": 0.0,  # one warm batch cannot show a level
        "spark.jvm_cpu_s": cpu["jvm"] / n,
        "operators.pyworker_cpu_s": cpu["pyworkers"] / n,
        "operators.pyworker_cpu_frac": cpu["pyworkers"] / cpu["total"],
        "ingest.rows_per_s": rows / sum(d["s"] for d in done),
        "writers.bytes_written_per_input_byte": sum(d["written"] for d in done)
        / sum(d["bytes"] for d in done),
        "writers.insert_frac": sum(d["inserted"] for d in done) / rows,
        "trace.op_p50_ms": e2e["op_p50_ms"],
        "trace.cpu_ms_per_op": e2e["cpu_ms_per_op"],
        **noise,
    }
    if args.trace:
        batch_s = sum(d["s"] for d in done)
        api_s = tracer.durations("serving.api")
        collects = [a for (name, *_), a in zip(tracer.spans, tracer.attrs)
                    if name == "spark.collect"]
        layer.update({
            "ingest.append_unique_frac": sum(tracer.durations("ingest.append_unique")) / batch_s,
            "ingest.upsert_frac": sum(tracer.durations("ingest.upsert")) / batch_s,
            "ingest.count_frac": sum(tracer.durations("ingest.count")) / batch_s,
            "queries.mv_build_s": sum(tracer.durations("queries.mv_build")) / n,
            "queries.plan_ms_p50": common.median(tracer.durations("queries.plan")) * 1e3,
            "queries.memo_hit_frac": 0.0,  # each refresh builds a new tier: a fresh memo
            "serving.api_ms_p50": common.median(api_s) * 1e3,
            "serving.http_ms_p50": (common.median([d["http_s"] for d in done])
                                    - common.median(api_s)) * 1e3,
            "spark.catalyst_ms_per_op": sum(a["catalyst_ms"] for a in collects) / n,
            **common.engine_per_op(engine.since(mark), n),
        })
        tracer.dump(common.TRACES / f"{run_dir.name}.spans.json")
    return {
        "attempted": n,
        "failed": state["failed"],
        "correct": not problems,
        "problems": problems[:5],
        "e2e": e2e,
        "layer": layer,
        "detail": {"warm_s": warm, "batch_s": [d["s"] for d in done]},
    }


def _get(port: int, path: str, params: dict) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", f"{path}?{urlencode(params)}")
        r = conn.getresponse()
        return r.status, json.loads(r.read())
    finally:
        conn.close()


def _written_since(root: Path, t: float) -> int:
    """Bytes of lake files written since perf_counter time ``t``."""
    since = time.time() - (time.perf_counter() - t)
    return sum(p.stat().st_size for p in root.rglob("*")
               if p.is_file() and p.stat().st_mtime >= since)

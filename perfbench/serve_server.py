"""Server process of the ``serve`` workload.

Starts a session, materializes the serving tier from the generated star
tables with the program's own functions, and serves it with
``mrf_etl_spark.serving.serve`` on a loopback port. It then prints one
JSON line (``ready``) and obeys line commands on stdin:

* ``mark``  — start of the measured window: clear spans, note engine marks.
* ``dump PATH`` — write the window's per-layer figures to PATH and its
  spans under ``.perfbench_work/traces``.
* ``quit``  — stop the HTTP server and the session, wait for the JVM, exit.

Run by ``wl_serve.py``; not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402

MV_SEARCH = ["billing_code"]
MV_CATEGORIES = ["procedure_set"]


def build_tier(spark, lake_dir: Path, mv_dir: Path, tracer):
    """The bench_serving recipe for the tier the endpoints read: the index
    MV, then the second-tier search / category-stats / category rollups.
    (The market-rates MV and its head are left out: no RateAPI endpoint
    reads them, and they cost a fifth of the build. ``dim_code_cat`` comes
    with the generated star.)"""
    from mrf_etl_spark.plans.queries import StarLake

    with tracer.span("lake_load"):
        lake = StarLake.load(spark, str(lake_dir))
    with tracer.span("queries.mv_build"):
        with tracer.span("mv.search_index"):
            mv = lake.materialize_search_index(str(mv_dir / "search_index"))
        with tracer.span("mv.search_rollups"):
            mv = mv.materialize_search_rollups(str(mv_dir / "rollup"), search_types=MV_SEARCH)
        with tracer.span("mv.category_stats"):
            mv = mv.materialize_category_stats(str(mv_dir / "stats"))
        with tracer.span("mv.category_rollups"):
            mv = mv.materialize_category_rollups(str(mv_dir / "cat"), categories=MV_CATEGORIES)
        return mv


def instrument(tracer, memo: dict, api_cls, lake_cls, df_cls):
    """Traced run only: spans around RateAPI methods, StarLake endpoint
    calls (with plan-memo hit accounting) and DataFrame.collect (with the
    executed plan's Catalyst time)."""
    for name in ["search", "explore_availability", "category_stats", "drill_down",
                 "autocomplete", "rate_summary"]:
        tracer.wrap(api_cls, name, "serving.api")

    for name in ["search_rollup", "category_rollup", "category_statistics",
                 "autocomplete_values", "rate_summary"]:
        inner = getattr(lake_cls, name)

        def wrapped(self, *a, _inner=inner, _name=name, **kw):
            with tracer.span("queries.plan") as sp:
                df = _inner(self, *a, **kw)
            key = (_name, repr(a), repr(sorted(kw.items())))
            prev = memo.get(key)
            sp.extra["hit"] = prev is df
            memo[key] = df
            return df

        setattr(lake_cls, name, wrapped)

    tracer.wrap_collect(df_cls)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    run_dir = Path(args.run_dir)
    tracer = common.Tracer(bool(args.trace))

    t0 = time.perf_counter()
    spark = common.start_spark(run_dir, "perfbench-serve")
    spark.range(1).collect()
    t_session = time.perf_counter() - t0

    tracer_build = common.Tracer(True)
    tier = build_tier(spark, run_dir / "lake", run_dir / "mv", tracer_build)

    from mrf_etl_spark.plans.queries import StarLake
    from mrf_etl_spark.serving.api import RateAPI, serve

    memo: dict = {}
    if args.trace:
        # the session's concrete DataFrame class (pyspark's classic one)
        instrument(tracer, memo, RateAPI, StarLake, type(spark.range(1)))
    server = serve(RateAPI(tier), host="127.0.0.1", port=0, block=False)
    engine = common.Engine(spark) if args.trace else None
    print(
        json.dumps(
            {
                "ready": True,
                "port": server.server_address[1],
                "session_start_s": t_session,
                "mv_build_s": sum(tracer_build.durations("queries.mv_build")),
                "mv_bytes": common.dir_bytes(run_dir / "mv"),
                "mv_steps_s": {n: e - s for n, s, e, _, _ in tracer_build.spans},
            }
        ),
        flush=True,
    )

    mark = None
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "mark":
            tracer.clear()
            mark = engine.mark() if engine else None
            print(json.dumps({"ok": "mark"}), flush=True)
        elif cmd[0] == "dump":
            plans = [a for (n, *_), a in zip(tracer.spans, tracer.attrs) if n == "queries.plan"]
            collects = [a for (n, *_), a in zip(tracer.spans, tracer.attrs) if n == "spark.collect"]
            out = {
                "api_ms": [d * 1e3 for d in tracer.durations("serving.api")],
                "plan_ms": [d * 1e3 for d in tracer.durations("queries.plan")],
                "memo_hits": sum(1 for a in plans if a.get("hit")),
                "plan_calls": len(plans),
                "catalyst_ms": sum(a["catalyst_ms"] for a in collects),
                "engine": engine.since(mark) if mark else {},
            }
            Path(cmd[1]).write_text(json.dumps(out))
            tracer.dump(common.TRACES / f"{run_dir.name}.spans.json")
            print(json.dumps({"ok": "dump"}), flush=True)
        elif cmd[0] == "quit":
            break
    server.shutdown()
    server.server_close()
    common.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())

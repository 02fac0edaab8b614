"""perfbench entry point.

    python3 perfbench/run.py --workload {serve,ingest,catalog} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds its inputs from ``--seed`` under
``.perfbench_work/``, sets the session up (JVM, inputs, program-built
tables, warm-up), measures (``serve`` for ``--seconds``; ``ingest`` and
``catalog`` a fixed batch and round count), checks the outputs outside the
timed region, and prints one JSON object as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics (see README.md in this directory).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))

import common  # noqa: E402

SPEC = HERE.parent / "BENCHMARK.json"


def units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in json.loads(SPEC.read_text())[kind]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (common.ROOT / "mrf_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no mrf_etl_spark package under {common.ROOT}", file=sys.stderr)
        return 2

    run_dir = common.WORK / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    env = common.pin_environment(run_dir)
    common.log(f"workload={args.workload} seed={args.seed} env={json.dumps(env)}")

    if args.workload == "serve":
        import wl_serve as wl
    elif args.workload == "ingest":
        import wl_ingest as wl
    else:
        import wl_catalog as wl
    res = wl.run(args, run_dir, T0)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "env": env,
                      "e2e": res["e2e"], "layer": res["layer"],
                      "problems": res["problems"], "detail": res["detail"]}))
    if args.trace:
        # a layer this workload never calls did no work: it reports 0
        metrics = {k: {"value": float(res["layer"].get(k, 0.0)), "unit": u}
                   for k, u in units("per_layer").items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                   for k, u in units("end_to_end").items()}
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

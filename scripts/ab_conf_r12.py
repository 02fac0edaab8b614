"""Round-12 conf A/B harness (guide §9 experiments, e.g. shuffled-hash
join): run a query subset with an optional extra-conf variant and print
one JSON line of min-of-3 warm timings, bench-methodology-identical
(toPandas timing, interleaved sweeps, release_state after each run).

Interleave variants across PROCESSES (A B A B A B) so JVM/regime drift
hits both arms; compare min-of-N-processes per query. A two-query control
panel rides along to measure same-code spread inside each process.

Usage: python scripts/ab_conf_r12.py <variant: base|shj> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent))

VARIANTS: dict[str, dict[str, str]] = {
    "base": {},
    # guide §3.1/§9: allow shuffled hash join where its size conditions
    # fit, and let AQE rewrite SMJ->SHJ when every post-shuffle partition
    # is under the threshold.
    "shj": {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
            64 * 1024 * 1024
        ),
    },
}

DEFAULT_QUERIES = [
    "d11_soft_dedup_weights",
    "d13_canonical_pick",
    "sp20_leakage_safe_split",
    "sp25_dedup_aware_mixture",
    "pipe5_release_v2",
    "pipe2_fuzzy_dedup",
]

CONTROL = ["f_hash_uid", "w1_latest_per_key"]


def main() -> None:
    variant = sys.argv[1]
    names = sys.argv[2:] or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod
    from mrf_etl_spark.session import get_spark
    from mrf_etl_spark.state import release_state

    qs = entry_mod.queries()
    spark = get_spark(
        app_name=f"ab-r12-{variant}", extra_conf=VARIANTS[variant]
    )
    # bench.py's warm-up, abbreviated
    from pyspark.sql import functions as F

    for tbl in "lineitem orders events documents embeddings nation".split():
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet").limit(1).count()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.limit(10000).groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    import pandas as _pd  # noqa: F401

    def _ident(it):
        yield from it

    spark.range(64).repartition(32).mapInPandas(_ident, "id long").count()

    runs: dict[str, list[float]] = {n: [] for n in names + CONTROL}
    for _sweep in range(3):
        for name in CONTROL + names:
            fn = qs[name]
            spark.sparkContext.setJobDescription(f"ab-{variant}:{name}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.toPandas()
            runs[name].append(time.perf_counter() - t0)
            release_state()
            spark.sparkContext.setJobDescription(None)
    out = {
        "variant": variant,
        "min": {n: round(min(r), 3) for n, r in runs.items()},
        "all": {n: [round(x, 3) for x in r] for n, r in runs.items()},
        "control_spread": round(
            max(
                max(r[1:]) / min(r[1:])
                for n, r in runs.items()
                if n in CONTROL
            ),
            3,
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timings are end-to-end per query (plan + execute + collect), after the
session is warm — JVM startup is excluded, matching how a resident engine
would serve these.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Headline set: the heavy/representative operators (joins, percentile
# rollups, windows, uid mint, top-k, LLM-data ops). Sink round-trips are
# excluded (they benchmark the local disk, not the engine).
HEADLINE = [
    "j4_join_chain",
    "j8_star_join",
    "j7_class_split_join",
    "a4_summary_stats",
    "a6_percentile_profile",
    "a9_multi_distinct",
    "w1_latest_per_key",
    "w4_asof_join",
    "w5_sessionize_batch",
    "w7_rolling_metrics",
    "w8_event_funnel",
    "w9_gapfill_locf",
    "w10_ohlc_downsample",
    "f_hash_uid",
    "f_categorizer",
    "k1_topk",
    "mv1_materialized_rollup",
    "pipe0_enrich",
    # LLM-data ops (present once parity_llm lands)
    "d1_exact_dup",
    "d2_minhash_lsh",
    "d3b_ngram_jaccard_capped",
    "d7_repeated_passages",
    "d5b_embedding_near_dup_ivf",
    "t2_quality_score",
    "t7_repetition_signals",
    "t8_contamination",
    "pipe1_llm_prep",
    "n1_ann_cosine_topk",
    "n3_ann_lsh",
    "sp4_domain_cap",
    "sp6_sequence_pack",
    "sp8_global_shuffle",
    "sp9_quota_sample",
    "q3_prep_funnel",
    "t10_boilerplate_flags",
    "pipe2_fuzzy_dedup",
    "pipe3_corpus_release",
    "m4_media_near_dup",
    "a16_weighted_median",
    "k6_diversified_topk",
    "w14_trailing_window",
    "t15_source_similarity",
    # round-6 additions: SCD2 family, sketch scale paths, curriculum
    # order, passage chunking, spatial radius join
    "s23_scd2_history",
    "a20_approx_quantile_bound",
    "a21_approx_distinct_bound",
    "s24_point_in_time",
    "sp14_curriculum_order",
    "t16_chunk_passages",
    "j18_grid_spatial_join",
    # round-7 addition: incremental corpus card (mergeable sketch state)
    "q7_incremental_corpus_card",
    # round-7 session 2: leakage-safe split (cluster-as-unit assignment)
    # and sentence-level corpus scrub (shared-sentence removal transform)
    "sp20_leakage_safe_split",
    "t18_sentence_scrub",
    "t19_quality_classifier",
    "w20_approx_sliding_reach",
    "d11_soft_dedup_weights",
    "pipe5_release_v2",
    "e4_product_quantization",
    "n5_ann_pq_adc",
    "n7_ann_ivf_pq",
    "n14_ann_ivfpq_residual",
    # round-9: persisted IVF-PQ — the index builds once per process
    # (ingest-time state; the cold sweep records build+query, warm
    # sweeps the serving path — SCALE.md has the query-vs-corpus table)
    "n8_ann_ivf_pq_persisted",
    "q9_release_lineage",
    "n9_ann_filtered",
    "st18_stream_category_stats",
    "e5_embedding_outliers",
    "st19_stream_ivfpq_ingest",
    "st19b_stream_index_serve",
    "n12_ann_ivfpq_delete",
    "pipe8_decontam_training_order",
    "d16_repeat_ladder",
    "d17_longest_repeat",
    "sp24_bpe_sequence_pack",
    "sp25_dedup_aware_mixture",
    "m7_audio_near_dup",
    "n13_ann_ivfpq_reembed",
    "e13_deflated_directions",
    "sp26_perplexity_curriculum",
    "d18_exact_repeat_lengths",
    "d19_screened_repeat_lengths",
    "d20_trim_repeats",
    "pipe9_trimmed_prep",
    "e6_kmeans_codebook",
    "t22_ngram_lm_bits",
    "e7_pq_codebook_train",
    "e8_codebook_drift",
    "st20_stream_codebook_drift",
    "t23_bpe_merges",
    "t24_bpe_encode_fertility",
    "d14_semantic_decontam",
    "st21_stream_decontam_gate",
    "e9_linear_probe",
    "e10_probe_eval",
    "e11_probe_inference",
    "d15_dsir_select",
    "t25_perplexity_buckets",
    "t26_zipf_fit",
    "t27_vocab_growth",
    "n15_ann_pq_dimperm",
    "sp27_repetition_schedule",
    "pipe10_capped_training_order",
    "st24_stream_zipf_monitor",
    "n16_ann_rp_topk",
    "m8_shot_boundaries",
    "d21_eval_span_excision",
    "pipe11_excised_prep",
    "st25_stream_excision",
    "t28_vocab_burstiness",
    "n10_hard_negatives",
    "q10_cluster_map",
    "sp23_mixture_solver",
    "st22_stream_fertility",
    "q11_dual_gate_decontam",
    "pipe7_training_order",
    "n11_ann_matryoshka",
    "m6_phash_near_dup",
    "st23_stream_cluster_map",
    "e12_power_iteration",
    # round-7 session 3: Bloom decontamination gate (scan-speed flag +
    # in-row exact verification) and the Bloom-pruned shuffle join
    "d12_bloom_decontam",
    "j19_bloom_pruned_join",
    "a24_grouped_regression",
    "n6_ann_recall",
    "w21_burst_detection",
    "a25_countmin_heavy_hitters",
    # round-8: persisted mergeable-sketch lake (append batch state,
    # merge-on-read) — the incremental twins of a25/a21/a20
    "a26_persisted_cms",
    "a27_persisted_hll",
    "a28_persisted_quantile_grid",
    "a29_persisted_category_stats",
    "st16_stream_hll_distinct",
    "sp21_token_stream_chunks",
    "sp22_balanced_shards",
    "q8_dataset_diff",
    "st17_stream_pack_offsets",
    "t21_shingle_novelty",
    "pipe6_incremental_release",
    "w22_ewma_momentum",
    "d13_canonical_pick",
]


# Environment-control panel (VERDICT r10 #7): five cheap queries of
# deliberately different plan shapes — scan-local hash projection, hash
# groupBy dedup, TakeOrdered top-k, one-window latest-per-key, grid
# broadcast join. Each full bench times the panel once per sweep (samples
# land minutes apart), and the same-code spread ships in the output JSON:
# the r9/r10 drift adjudication (is a cross-round delta a regression or a
# CPU-steal wave?) becomes a number the bench itself records instead of a
# by-hand interleaved-control experiment each round.
CONTROL_SET = [
    "f_hash_uid",
    "d1_exact_dup",
    "k1_topk",
    "w1_latest_per_key",
    "j18_grid_spatial_join",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # Optional subset (comma-separated names) for drift isolation
    # experiments — e.g. replaying an earlier round's exact sweep size to
    # separate sweep-composition interference from real plan cost.
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    global HEADLINE
    if subset:
        wanted = [s.strip() for s in subset.split(",") if s.strip()]
        unknown = set(wanted) - set(HEADLINE)
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_QUERIES not in HEADLINE: {sorted(unknown)}")
        HEADLINE = [n for n in HEADLINE if n in wanted]

    from mrf_etl_spark.session import get_spark

    import __spark_entry__ as entry_mod

    reg_queries = entry_mod.queries()
    # Optional "input_tb:executors:cores_per_executor" — derive the
    # volume-coupled confs with deploy.cluster_plan instead of the local
    # defaults, so the sizing helper is exercised end-to-end by a real
    # sweep (the sweep must stay green and row-identical under it).
    plan_env = os.environ.get("SPARK_GRAFT_CLUSTER_PLAN")
    extra_conf = None
    if plan_env:
        from mrf_etl_spark.deploy import cluster_plan

        tb, ex, cores = plan_env.split(":")
        extra_conf = cluster_plan(float(tb), int(ex), int(cores))
        print(f"# cluster_plan({plan_env}) -> {extra_conf}", file=sys.stderr)
    spark = get_spark(app_name="mrf-etl-bench", extra_conf=extra_conf)
    # Warm the JVM the way a resident engine is warm: parquet footers for
    # every table, plus one throwaway query exercising the shared operator
    # paths (columnar scan → hash agg → broadcast join → window) so the
    # first timed query doesn't absorb one-time JIT/codegen class loading.
    # No headline query's plan is precomputed by this.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    tables = "region nation customer supplier part orders lineitem events documents embeddings"
    for tbl in tables.split():
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet").limit(1).count()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    warm = (
        li.limit(10000)
        .join(F.broadcast(n), li.l_suppkey % 25 == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("l_quantity").alias("s"))
        .withColumn("rn", F.row_number().over(Window.partitionBy().orderBy("n_name")))
    )
    warm.collect()
    # Warm the Python worker pool too: the first Arrow-batched stage of a
    # session pays fork + pandas import for every worker (~6 s for 32 on
    # this machine). Resident engines keep workers alive
    # (spark.python.worker.reuse), so the fork cost is session setup, not
    # query cost — pay it here, once, across the full width.
    import pandas as _pd  # noqa: F401

    def _ident(it):
        yield from it

    spark.range(spark.sparkContext.defaultParallelism * 2).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_ident, "id long").count()

    # A headline query that errors must NOT silently vanish from the JSON
    # (round 3 lost w1/w4/w5/w7 with no signal): record it loudly instead.
    errors: dict[str, str] = {}
    all_runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    rows: dict[str, int] = {}

    from mrf_etl_spark import state

    def time_one(name: str) -> None:
        fn = reg_queries.get(name)
        if fn is None:
            errors[name] = "not registered in queries()"
            return
        before = state.held(spark)
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            # Arrow-batched materialization: full results still cross
            # to Python, but columnar (2.6x vs row-at-a-time collect()
            # on the 600k-row queries — the delivery path, not the
            # query, was the bottleneck)
            rows[name] = len(df.toPandas().index)
        except Exception as e:  # noqa: BLE001
            errors[name] = str(e).splitlines()[0][:300] if str(e) else repr(e)
            print(f"# {name} ERROR {e}", file=sys.stderr)
            return
        elapsed = time.perf_counter() - t0
        # release operator-held state AFTER the timing. State that
        # survives the release would turn the next sweep's run into a
        # CacheManager hit, so a leak is an error, not a fast timing.
        state.release_state()
        cache, rdds = state.leaked(before, state.held(spark))
        if cache or rdds:
            errors[name] = f"LEAK: {cache} cached plans, {rdds} persisted RDDs"
            print(f"# {name} {errors[name]}", file=sys.stderr)
            return
        all_runs[name].append(elapsed)

    # Three timed executions per query, report the fastest. The FIRST run
    # of a plan shape pays JVM JIT + janino codegen (measured 2-4x the
    # steady-state cost at sf0.1); the warm run is what predicts
    # cluster-scale behavior, where compile cost amortizes over
    # minutes-long stages. Cold is recorded alongside (queries_cold) so
    # nothing is hidden. The passes are INTERLEAVED — three full sweeps
    # over the list rather than back-to-back repeats — so a query's
    # samples land minutes apart: this VM's CPU-steal waves last tens of
    # seconds, and back-to-back sampling let one wave poison all of a
    # query's samples at once (observed: f_hash_uid, a sub-second
    # projection, recorded 2.7 s because its three consecutive runs all
    # sat in one wave).
    # the control panel's own samples (kept out of all_runs — control
    # executions are environment probes, not headline measurements)
    control_runs: dict[str, list[float]] = {name: [] for name in CONTROL_SET}

    def time_control() -> None:
        for cname in CONTROL_SET:
            fn = reg_queries.get(cname)
            if fn is None:
                continue
            t0 = time.perf_counter()
            try:
                cdf = fn(spark, sf_dir)
                cdf.toPandas()
            except Exception:  # noqa: BLE001 — a control error is not a bench error
                continue
            control_runs[cname].append(time.perf_counter() - t0)
            state.release_state()

    for sweep in range(3):
        if not subset:
            time_control()
        for name in HEADLINE:
            if name in errors:
                continue
            time_one(name)

    # One adaptive retry: a query whose two FASTEST samples still
    # disagree >1.8x was likely hit by noise in multiple sweeps — take a
    # fourth sample before recording.
    for name in HEADLINE:
        runs = all_runs[name]
        if (
            name not in errors
            and len(runs) == 3
            and min(runs) > 0.5
            and sorted(runs)[1] / min(runs) > 1.8
        ):
            time_one(name)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        runs = all_runs[name]
        if name in errors or not runs:
            if name not in errors:
                errors[name] = "no successful runs"
            continue
        dt = min(runs)
        timings[name] = round(dt, 3)
        cold[name] = round(max(runs), 3)
        total += dt
        print(
            f"# {name}: {dt:.3f}s (cold {max(runs):.3f}s) rows={rows.get(name)}",
            file=sys.stderr,
        )

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "timing": "min of 3 interleaved sweeps/query (steady-state; sweep 1 pays JIT)",
        "sf": sf_val,
    }
    if errors:
        detail["errors"] = errors
    # control panel: same-code spread measured INSIDE this run. Sweep 1's
    # control samples pay JIT exactly like sweep-1 headline samples, so
    # the spread is computed over sweeps 2+ (the steady-state pair) —
    # max/min per control query, summarized by median and max. Reading
    # rule (PLANS.md r9/r10 drift sections, now computed not asserted):
    # median steady-state spread ≲ 1.08 = quiet machine, trust deltas;
    # spikes beyond ~1.25 = CPU-steal wave during this run — read
    # cross-round per-query deltas against control_spread first.
    spreads = {
        name: round(max(runs[1:]) / min(runs[1:]), 3)
        for name, runs in control_runs.items()
        if len(runs) >= 3 and min(runs[1:]) > 0
    }
    if spreads:
        svals = sorted(spreads.values())
        detail["control_panel"] = {
            "samples": {
                n: [round(x, 3) for x in r] for n, r in control_runs.items()
            },
            "spread": spreads,
            "control_spread": svals[len(svals) // 2],
            "max_spread": svals[-1],
        }
    # carry the serving-latency section (scripts/bench_serving.py writes
    # BENCH_SERVING.json) so a fresh ETL bench doesn't drop it from the
    # committed detail
    serving_path = Path(__file__).resolve().parent / "BENCH_SERVING.json"
    if serving_path.is_file():
        try:
            detail["serving_ms"] = json.loads(serving_path.read_text())
        except (OSError, ValueError):
            pass
    # Per-query detail: its own EARLY stdout line + a sidecar file. The
    # LAST stdout line must stay short — round 4's final line (42 warm +
    # 42 cold timings, ~2.6 kB) overflowed the driver's tail capture and
    # BENCH_r04.json recorded "parsed": null.
    print(json.dumps(detail))
    if subset:
        # a SPARK_GRAFT_QUERIES subset run is a drift-isolation probe,
        # not the headline record — writing it to the sidecar would
        # clobber the committed full-sweep numbers with a partial total
        # labeled "headline_queries_total" (it did, once)
        print("# subset run: BENCH_DETAIL.json left untouched", file=sys.stderr)
        return
    try:
        with open(Path(__file__).resolve().parent / "BENCH_DETAIL.json", "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:  # read-only checkout: the stdout copy above stands
        print(f"# BENCH_DETAIL.json not written: {e}", file=sys.stderr)
    # exactly the short shape the round-4 verdict prescribed — no
    # queries dict here (a non-float value could trip a typed consumer;
    # the full dict is on the earlier line + BENCH_DETAIL.json)
    summary = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "errors": errors,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()

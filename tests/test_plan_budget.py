"""Exchange-count budgets for flagship plans.

A perf regression usually arrives as an extra shuffle (a lost broadcast,
a new repartition, an agg split that stopped combining map-side) long
before anyone reads timings. These tests pin the Exchange count of the
plans whose shape is the documented design — a failure means the plan
changed structurally, not that a machine got slower.

Budgets are UPPER bounds counted on the pre-AQE physical plan (AQE can
only remove/convert exchanges at runtime, never add).
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"

# entry -> max Exchange nodes tolerated in the executed plan string
BUDGETS = {
    # scan → partial agg → single final exchange
    "s1_pruned_scan": 1,
    # dim chain broadcasts; the only exchanges are the final agg's
    "j4_join_chain": 2,
    # one window shuffle on the key
    "w7_rolling_metrics": 1,
    # lag+cumsum sessionization: one key shuffle (+ final agg exchange)
    "w5_sessionize_batch": 2,
    # union+window carry: one key shuffle over the tagged union
    "w4_asof_join": 2,
    # salt spreads the join: exactly the two join-input exchanges + agg
    "j13_salted_skew_join": 3,
    # latest-per-key window: one shuffle
    "w1_latest_per_key": 1,
    # end-to-end enrich pipeline: every join broadcasts (rates never
    # shuffles); the exchanges are the fixture dims' aggs + final rollup
    "pipe0_enrich": 6,
    # domain quota: histogram agg (2) + histogram window (1) + boundary
    # rank (1) + decisions join input (1) — only the boundary rank ever
    # shuffles row-proportional data
    "sp4_domain_cap": 5,
    # shard manifest: stateless shard projection + ONE combinable agg
    "sp5_pack_shards": 1,
    # per-doc repetition signals: pure map-side projection — NO exchange
    "t7_repetition_signals": 0,
    # global rank: bucket-count agg pair feeding the broadcast offsets
    # (constant-size) + the ONE per-bucket data shuffle
    "sp8_global_shuffle": 3,
    # boilerplate: (source, span) window shuffle + per-doc rollup
    "t10_boilerplate_flags": 2,
    # LSH probe: (id, bucket) candidate shuffle + verify join; queries
    # and signatures travel as broadcasts
    "n3_ann_lsh": 2,
    # keyset pagination: predicate pushed to the scan, TakeOrdered top-k
    # — NO shuffle at any page depth (the whole point vs OFFSET)
    "k5_keyset_pagination": 0,
    # doc-local TTR: pure map-side array projection
    "t12_type_token_ratio": 0,
    # quota sample: one stratum-keyed window shuffle
    "sp9_quota_sample": 1,
    # fixed-value-list pivot: one partial+final agg pair, no
    # distinct-values job
    "a15_pivot_matrix": 2,
    # prep funnel: (hash, quality) window + the single-row rollup
    "q3_prep_funnel": 2,
    # gap fill: daily agg, bounds-agg/spine join, LOCF window
    "w9_gapfill_locf": 3,
    # INTERSECT + EXCEPT: each a distinct-agg + join exchange pair
    "u2_intersect_except": 4,
    # sketch-vs-exact in ONE grouped agg: a single partial+final pair
    "a20_approx_quantile_bound": 1,
    # exact distinct forces the Expand path: distinct agg + final
    "a21_approx_distinct_bound": 2,
    # small-input gate picks the one-phase plan at sf0.001: ONE window
    # shuffle (the two-phase variant is budgeted separately below)
    "a16_weighted_median": 1,
    # bloom decontam: the only corpus-proportional exchange is the final
    # doc_id agg pair; the eval join BROADCASTS (BroadcastExchange is not
    # counted) and the other Exchange mentions are the constant-size eval
    # distinct inside the persisted bitset-source plan's string
    "d12_bloom_decontam": 6,
    # grouped regression: ONE map-side-combinable agg (five moments ride
    # the same partial/final pair); the derivation is a projection
    "a24_grouped_regression": 1,
    # concat-and-chunk span map: bucket-sum agg pair + the ONE per-bucket
    # corpus window + the constant-size offsets scan; the offsets window
    # sorts ≤n_buckets rows (single partition BY DESIGN, tiny table)
    "sp21_token_stream_chunks": 5,
    # balanced shards: two-level pair-count agg + per-pair corpus window
    # + manifest agg; the prefix window runs over the tiny pair table
    "sp22_balanced_shards": 6,
    # release diff: the full-outer join's two input exchanges + rollup —
    # content hashes computed scan-side, no window anywhere
    "q8_dataset_diff": 3,
    # release lineage: two independent q8 diffs (2 input exchanges each)
    # + the final labeled rollup pair riding the union
    "q9_release_lineage": 6,
    # embedding outliers: ONE combinable centroid agg; the join back
    # broadcasts; quantization and flags are scan-local projections
    "e5_embedding_outliers": 1,
    # bigram LM surprise: two count aggs (unigram, bigram), the
    # count-table bits join on w1, the doc-pair scoring join on the
    # FULL (w1, w2) key (skew-spread by key widening — r11), per-doc
    # rollup + join back, plus the widen_narrow_input round-robins
    # (no-ops at real scale; at fixture scale they put the tokenize
    # explode on all cores — the r11 sf1 fix)
    "t22_ngram_lm_bits": 6,
    # stats sketch lake serve: state-sized union agg + the exact
    # verification side's distinct agg (the only corpus shuffle)
    "a29_persisted_category_stats": 3,
    # composed IVF-PQ (r11 map-side ADC): the per-row projection's
    # widen round-robins + candidate and final rank windows — probe
    # list, LUT MAP and rerank queries all broadcast; the former ADC
    # posexplode + (query, neighbor) pivot exchange are GONE (§12; plan
    # capture: `python scripts/plan_profile.py <outdir> after n7_ann_ivf_pq`)
    "n7_ann_ivf_pq": 7,
    # flat PQ-ADC (r11): codes-only projection + LUT map — one widen,
    # lutm agg, candidate + final rank windows; no corpus code window,
    # no pair pivot
    "n5_ann_pq_adc": 5,
    # persisted IVF-PQ QUERY plan (the index build is ingest-time
    # actions, not part of this plan): probe window, LUT long-form
    # windows + lutm map agg, candidate + final rank windows — codes,
    # probes, LUT map and rerank queries all broadcast (r11 §12: the
    # ADC pivot agg on probed×B rows is gone; the remaining aggs are
    # KiB query-side)
    "n8_ann_ivf_pq_persisted": 7,
    # novelty audit: shingle-df agg pair + join-back + doc rollup —
    # d3's posting-list shape without the pair emission
    "t21_shingle_novelty": 4,
    # incremental release: the diff's full-outer inputs + delta gate
    # rollups; the Bloom gate itself contributes ZERO (scan projection)
    "pipe6_incremental_release": 7,
    # EWMA momentum: the daily-count agg pair + the key window over the
    # tiny (type, day) table
    "w22_ewma_momentum": 2,
    # canonical pick: the d3 pair cascade's exchanges; the argmax agg and
    # anti-join run over the pair-graph-bounded label set
    "d13_canonical_pick": 6,
    # probe inference: the weights train on the driver, so the scoring
    # pass is one shuffle-free projection of the corpus
    "e11_probe_inference": 0,
    # DSIR: two word-count aggs + the scoring join + doc rollup; totals
    # broadcast, the budget cut is a bounded TakeOrdered (no shuffle)
    "d15_dsir_select": 4,
    # perplexity buckets: t22's six (scores) + doc-source join + the
    # histogram/threshold stages — everything past the rollup runs over
    # the bounded (domain, score) table; thresholds broadcast back.
    # r11: +9 from the widen round-robins appearing per-subtree in the
    # pre-AQE string (runtime reuses them; the sf1 win is 7.2 -> 5.2 s)
    "t25_perplexity_buckets": 22,
    # hard negatives: ivf_topk's shape — assignment agg, candidate join,
    # rank window; centroids and probes broadcast
    "n10_hard_negatives": 4,  # +1 r11 widen
    # mixture solver: ONE combinable token-count agg + the
    # corpus-proportional budget's total agg (r11: budget = one
    # epoch-equivalent, a 1-row broadcast derived from the same slim
    # (domain, tokens) table) — the rate math stays a projection
    "sp23_mixture_solver": 3,
    # dual-gate report: d12's doc rollup exchanges + the semantic argmax
    # agg + the id-keyed gate join — eval sides broadcast; +1 in r11 for
    # semantic_decontam's widen round-robin (the sf10 straggler fix,
    # no-op at real scale)
    "q11_dual_gate_decontam": 8,
    # training-order manifest: the solver's token-count agg + the r11
    # corpus-proportional budget's total agg (slim-table exchanges,
    # printed per-subtree pre-AQE) + sp8's bucket-count agg pair feeding
    # broadcast offsets + the ONE per-bucket data shuffle
    "pipe7_training_order": 9,
    # Matryoshka ANN: ONE window shuffle (shortlist rank; the rerank
    # rides the same rows) — queries broadcast, no index, no codebook
    "n11_ann_matryoshka": 1,
    # Zipf fit: ONE vocab-bounded count shuffle + the tiny
    # distinct-frequency collapse/window/bit-class stages
    "t26_zipf_fit": 4,
    # Heaps growth: doc-count + bucket-offset agg pair, the per-bucket
    # prefix window, the min-per-word agg, the 64-row class histogram
    "t27_vocab_growth": 14,
    # water-filling schedule: ONE corpus token agg + ONE single-partition
    # exchange carrying every solver scalar as `sum(...) OVER ()` windows
    # (r11: the crossJoin-per-scalar shape doubled the plan every round —
    # 63 printed exchanges; the window chain is linear in rounds)
    "sp27_repetition_schedule": 5,
    # sp27's window-chain solver + pipe7's explode and global-shuffle
    # tail (r11: was 129 via the solver's cached-subtree reprints)
    "pipe10_capped_training_order": 16,
    # permuted PQ-ADC: n5's cascade + the per-dim variance agg and the
    # 64-row rank window; permutation and stats attach as broadcasts.
    # r11: the 1-row permutation persists (each of the cascade's ~6
    # corpus references re-ran the variance + global-max aggs before —
    # measured noop 4.6 -> 2.5 s at sf0.1); the persist trades one
    # ReusedExchange print for an InMemory leaf, hence 39 -> 40 counted
    # KiB exchanges while corpus passes drop from ~18 to ~7
    "n15_ann_pq_dimperm": 35,  # r11 §12: pair pivots gone from both ADC passes
    # JL prefilter: quantize max agg, the k-way projection agg, the
    # candidate/final rank windows — sign matrix and query sketches
    # broadcast
    "n16_ann_rp_topk": 11,
    # eval-span excision: the eval-universe distinct, the hit agg, the
    # removed-position distinct, the rewrite's kept agg + joins — the
    # eval side broadcasts, the rewrite runs only on hit docs; the
    # count includes widen round-robins reprinted per subtree pre-AQE
    "d21_eval_span_excision": 21,
    # excision-first prep: d21's chain + the quality gate (projection),
    # the md5-dedup window, and the split projection — one more than
    # d21 for the dedup window's key shuffle
    "pipe11_excised_prep": 22,
    # burstiness: the cf agg, the (domain, wd, did) pre-distinct + df
    # agg, the cf⋈df join inputs, the domain rollup — all vocab-bounded
    # after the tokenize, plus the widen round-robin
    "t28_vocab_burstiness": 6,
    # repeat ladder: widen repartition + (len,hash) window shuffle +
    # (doc,len) agg + per-doc agg — 4 real, printed twice through the
    # AdaptiveSparkPlan initial-plan section
    "d16_repeat_ladder": 8,
    # screened exact repeat (d16 → semi-join gate → d18): the ladder's
    # 4 real exchanges + the gate join input + the exact pass's
    # (len,hash) window and per-doc aggs — measured 7 at sf0.001; an
    # 8th would mean the gate stopped semi-joining or the exact pass
    # gained a shuffle
    "d19_screened_repeat_lengths": 8,
    # (d19/d20 pins are measured under the FULL pytest session — the
    # widen round-robins print with or without ReusedExchange markers
    # depending on session plan-cache state, ±1-2 in the string count)
    # trim rewrite: the ladder screen's 4 + gate join input + positional
    # span agg pair + coverage distinct + kept-words rollup + the final
    # accounting join — the only full-corpus-proportional exchanges are
    # the screen's and the word rollup's; span/coverage traffic is
    # flagged-docs-only
    "d20_trim_repeats": 16,
    # trim-first prep: d20's rewrite chain (14) + the content-hash dedup
    # window — quality gate, scrub and split are scan-local projections
    # over the rewrite's output
    "pipe9_trimmed_prep": 15,
    # residual IVF-PQ: codes argmin agg + candidate/final rank windows —
    # centroids, seeds, probe list and the per-(query, bucket) LUT all
    # broadcast. r11: the coarse-assign agg exchange (corpus-sized,
    # previously reused 3x) is GONE — cid attaches map-side via
    # _with_centroid — but each of the three rcorp consumers now prints
    # its own copy of the KiB codebook collect (SinglePartition) and the
    # fixture widen (RoundRobin) instead of a ReusedExchange: more nodes,
    # strictly fewer corpus bytes moved (measured 3.7 -> 2.5 s noop at
    # sf0.1; plan capture: `python scripts/plan_profile.py <outdir> after
    # n14_ann_ivfpq_residual`)
    "n14_ann_ivfpq_residual": 10,  # r11 §12: residual codes per-row, ADC map-side
}


def _catalog():
    import mrf_etl_spark.plans.parity as parity
    import mrf_etl_spark.plans.parity_llm  # noqa: F401
    import mrf_etl_spark.plans.parity_streaming  # noqa: F401

    return parity.REGISTRY


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, name):
    # the pin measures THIS query's plan, not whatever cache entries
    # earlier tests leaked: a foreign persist of a shared subtree makes
    # CacheManager substitute (or refuse) InMemoryRelations and the
    # printed Exchange/ReusedExchange census shifts order-dependently
    spark.catalog.clearCache()
    df = _catalog()[name].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # count Exchange operators; ReusedExchange references don't add work
    n = len(re.findall(r"\bExchange\b", plan)) - len(
        re.findall(r"\bReusedExchange\b", plan)
    )
    assert n <= BUDGETS[name], (
        f"{name}: {n} exchanges > budget {BUDGETS[name]} — the plan gained "
        f"a shuffle; inspect df.explain('formatted')"
    )


def test_t22_pair_join_keyed_by_full_bigram(spark):
    """The doc-pair scoring join must shuffle on the FULL (w1, w2) key —
    keying the heavy side by w1 alone concentrates hot stopwords
    ('the') into single partitions (the skew behind sp26's r10 3.1x
    ladder); the fix is key widening, pinned here so it can't silently
    regress to a w1-keyed pair join (w1-only exchanges are fine for the
    small count-table join)."""
    reg = _catalog()
    df = reg["t22_ngram_lm_bits"].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(w1#\d+, w2#\d+", plan), plan


def test_keyset_predicate_reaches_the_scan(spark):
    """k5's row-value cursor predicate must push into the parquet scan as
    the expanded OR — if it ever degrades to a post-scan filter, page
    cost becomes a full scan and the operator loses its reason to exist."""
    reg = _catalog()
    df = reg["k5_keyset_pagination"].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Or(GreaterThan(l_orderkey" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_a16_two_phase_plan_budget(spark, monkeypatch):
    """The large-input (gated) a16 plan: pre-agg exchange on (group,
    value) + the 3-partition window exchange — exactly two, and the
    window's input must be the AGGREGATED frame (shrink-first), never
    the raw fact."""
    import mrf_etl_spark.plans.parity as parity

    monkeypatch.setattr(parity, "_A16_TWO_PHASE_BYTES", 0)
    df = _catalog()["a16_weighted_median"].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = len(re.findall(r"\bExchange\b", plan)) - len(
        re.findall(r"\bReusedExchange\b", plan)
    )
    assert n <= 2, plan
    # the window must sit above an aggregate, not the raw scan
    assert "Window" in plan and "HashAggregate" in plan


def test_scd2_build_single_window_shuffle(spark):
    """scd2_history is ONE key-partitioned window — a second exchange
    would mean the version chain re-shuffles (e.g. a lost co-partition
    between row_number and lead)."""
    from pyspark.sql import functions as F

    from mrf_etl_spark.io import scd2_history
    from mrf_etl_spark.plans.parity import t

    upd = t(spark, SF_DIR, "events").select(
        "user_id", F.expr("ts_ns div 1000").alias("ts_us"), "event_id", "value"
    )
    h = scd2_history(upd, ["user_id"], "ts_us", ["event_id"], ["value"])
    plan = h._jdf.queryExecution().executedPlan().toString()
    n = len(re.findall(r"\bExchange\b", plan)) - len(
        re.findall(r"\bReusedExchange\b", plan)
    )
    assert n <= 1, plan


@pytest.mark.parametrize(
    "name",
    [
        "e6_kmeans_codebook",
        "e7_pq_codebook_train",
        "e9_linear_probe",
        "e10_probe_eval",
        "e12_power_iteration",
        "e13_deflated_directions",
        "t23_bpe_merges",
    ],
)
def test_driver_side_trainer_holds_no_state(spark, name):
    """The int-exact trainers keep their KiB iteration state (codebook,
    weights, direction, BPE merge table) on the driver, so each
    iteration reads the previous one without re-deriving it
    (re-deriving re-executes every earlier iteration's corpus aggs:
    measured 4x for e6 at iters=2, sf0.1). The returned frame must scan
    those driver rows and read the corpus no more (no file scan, no
    exchange), and building and collecting it must leave no cached plan
    or persisted RDD behind — checked WITHOUT calling release_state."""
    from mrf_etl_spark import state

    before = state.held(spark)
    df = _catalog()[name].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Scan ExistingRDD|LocalTableScan", plan), plan[:2000]
    assert "FileScan" not in plan and "Exchange" not in plan, plan[:2000]
    assert df.collect()
    assert state.held(spark) == before


def test_global_int8_scale_is_a_literal(spark):
    """quantize_int8_global computes the corpus max once, when the frame
    is built: the frame itself reads the corpus once and joins nothing,
    so a Lloyd loop that collects it per iteration (e7) scans the corpus
    once per iteration, not twice."""
    from mrf_etl_spark.operators.similarity import quantize_int8_global

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = (
        quantize_int8_global(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]


@pytest.mark.parametrize(
    "name", ["t24_bpe_encode_fertility", "sp24_bpe_sequence_pack"]
)
def test_bpe_encode_plans_hold_no_state(spark, name):
    """t24 and sp24 train the merge table on the driver and apply it as
    literal merge steps over the vocab: the executed plan reads no
    cached frame, and building and collecting it leaves no cached plan
    or persisted RDD behind — checked WITHOUT calling release_state."""
    from mrf_etl_spark import state

    before = state.held(spark)
    df = _catalog()[name].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan[:2000]
    assert df.collect()
    assert state.held(spark) == before


def test_pipe8_gate_runs_once_through_cache(spark):
    """pipe8's dual-gate cascade must execute ONCE: the slim gated
    frame is localCheckpointed (r11 — the previous lazy persist reran
    the OPTIMIZER over the cascade per manifest reference: 74 printed
    exchanges, plan build dominated), so every corpus pass of the
    manifest plan (solver agg, copy explode, shuffle-rank) reads an
    in-memory RDD leaf and the executed plan contains NO trace of the
    gate cascade (no parquet scan of eval_queries, no Bloom agg) —
    the gate ran before the plan was even built."""
    from mrf_etl_spark.state import release_state

    df = _catalog()["pipe8_decontam_training_order"].spark_fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_state()
    assert plan.count("Scan ExistingRDD") >= 2, plan[:2000]
    assert "eval_queries" not in plan, plan[:2000]


def test_sp27_solver_rounds_run_through_cache(spark):
    """sp27's corpus token agg must execute ONCE. Since the r11 window
    rewrite the solver's scalars (_sbp, budget, each round's
    excess/headroom, spent) are ``sum(...) OVER ()`` windows on the
    |domains|-row table instead of crossJoin(broadcast(agg)) attaches —
    the plan references the corpus subtree exactly once (no cache
    needed; the old persist + InMemoryTableScan pin is obsolete), and
    the plan stays LINEAR in n_rounds instead of doubling per round.
    Pins: one corpus parquet scan, and no broadcast-nested-loop scalar
    attaches anywhere in the solver."""
    df = _catalog()["sp27_repetition_schedule"].spark_fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the AQE string repeats the tree in its "Initial Plan" section —
    # count the final plan only
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Scan parquet|FileScan parquet", final)) == 1, (
        final[:2000]
    )
    assert "BroadcastNestedLoopJoin" not in final, final[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "n5_ann_pq_adc",
        "n7_ann_ivf_pq",
        "n8_ann_ivf_pq_persisted",
        "n14_ann_ivfpq_residual",
    ],
)
def test_adc_attaches_map_side(spark, name):
    """r11 §12 pin: the ADC stage must attach block distances map-side
    from the broadcast per-query LUT map — the old shape posexploded
    every candidate's code array (a Generate over corpus/probed rows)
    and re-assembled pairs with a (query, neighbor) pivot exchange. The
    only Generate allowed in these plans is the LUT long-form explode
    over the |queries|-sized side (and its per-probed-bucket twin on
    the residual path)."""
    spark.catalog.clearCache()
    df = _catalog()[name].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_gen = len(re.findall(r"\bGenerate\b", plan))
    assert n_gen <= 1, (
        f"{name}: {n_gen} Generate nodes — a corpus-side code explode "
        f"came back; the ADC must read wide code columns map-side"
    )

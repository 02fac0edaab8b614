"""Catalog-wide physical-plan audit.

Every parity entry's optimized plan is swept for the two operators that
are fatal at 100 TB regardless of local timings:

  * CartesianProduct — an unconditioned shuffle cross product; N×M rows.
  * BroadcastNestedLoopJoin on a non-tiny side — every probe row scans
    the whole build side.

A small allowlist names the entries where a nested-loop over a BOUNDED
broadcast side is the intended design (brute-force ANN baselines probing
a fixed query/centroid set, and the all-pairs exact oracle d5 keeps as
the test baseline for d5b) — each with the reason recorded here, so a new
cartesian can never slip into the catalog silently.

Streaming entries execute their own micro-batch runs inside spark_fn, so
they are exercised by tests/test_streaming.py instead; multimodal/m* and
enrichment/s8-s10 entries run mapInPandas stages whose plan is audited
the same way (they must still be product-free).
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

# entry -> why an unbounded-at-scale join shape is acceptable there
NESTED_LOOP_OK = {
    # exact all-pairs form kept ONLY as the recall baseline for d5b (the
    # IVF-bucketed scale path); documented in operators/similarity.py
    "d5_embedding_near_dup": "exact baseline for d5b recall tests",
    # brute-force cosine top-k: |queries| is a bounded request-sized set
    # broadcast onto the corpus — linear in corpus, not quadratic
    "n1_ann_cosine_topk": "bounded broadcast query set (exact baseline)",
    # IVF assign/probe: centroid set is fixed-size and broadcast
    "n2_ann_ivf": "bounded broadcast centroid set",
    # same cascade against the PERSISTED codebook (index create/append
    # assign + query probe all cross the broadcast centroid set)
    "n4_ann_index_incremental": "bounded broadcast centroid set (persisted codebook)",
    # PQ: every vector/query crosses the CONSTANT 16-entry sub-centroid
    # codebook (a bounded broadcast, linear in corpus); n5 additionally
    # crosses the 1-row query distance table onto the code scan
    "e4_product_quantization": "bounded broadcast PQ codebook (16 seeds)",
    "n5_ann_pq_adc": "bounded broadcast PQ codebook + 1-row query table",
    # n6 composes n1 (bounded broadcast query set) and n2 (bounded
    # broadcast centroid set) — it inherits both allowlisted shapes
    "n6_ann_recall": "composes n1+n2's bounded broadcasts",
    "d5b_embedding_near_dup_ivf": "bounded broadcast centroid set",
    # d8 composes the d5b cascade (same centroid broadcast) before the
    # star-contraction clustering — the product side is the centroid set
    "d8_semantic_dedup": "bounded broadcast centroid set (d5b cascade)",
    # availability matrix crosses two tiny DISTINCT dimension column sets
    # (states x codes) to build the dense frame — both sides bounded
    "a8_availability_matrix": "bounded distinct-values frame",
    # deliberate tiny cross product per SURVEY A12 (rate x class grid)
    "a12_cross_product": "SURVEY A12 is a bounded grid product",
    # corpus size N attaches as a ONE-ROW broadcast crossJoin (the
    # collect-free way to join a global scalar); probe cost is 1 row
    "t5_tfidf_top_terms": "1-row global-scalar broadcast (n_docs)",
    # quota apportionment: two 1-row aggregate scalars (total weight,
    # base-quota sum) crossJoined onto the |sources|-row quota table
    "sp13_temperature_mix": "1-row global-scalar broadcasts over the "
    "bounded source-cardinality table",
    # n7 composes n2's coarse-centroid broadcast with n5's PQ-codebook
    # broadcast — both bounded; the prune joins are keyed, not products
    "n7_ann_ivf_pq": "composes n2+n5's bounded broadcasts",
    # n14 quantizes coarse RESIDUALS: corpus × 16-seed broadcast for
    # codes, query × centroid broadcast for probes, query-residual ×
    # seed broadcast for the per-bucket LUT — all bounded sides
    "n14_ann_ivfpq_residual": "residual IVF-PQ: bounded centroid/seed/LUT broadcasts (the n7 pattern)",
    # n15 is n5's cascade in permuted coordinates: the same bounded
    # 16-seed codebook + 1-row query-table broadcasts, plus the 1-ROW
    # permutation-array attach
    "n15_ann_pq_dimperm": "n5's bounded broadcasts + 1-row permutation "
    "attach",
    # n16: the k_proj-row sign-matrix broadcast crosses the corpus once
    # (map-side projection), the |Q|-row query-sketch broadcast crosses
    # the projected corpus (n1's bounded-query shape on 4x fewer bytes)
    "n16_ann_rp_topk": "bounded sign-matrix (k_proj rows) and "
    "query-sketch broadcasts",
    # sp27/pipe10: the corpus-proportional budget and each
    # water-filling round's excess/headroom scalars are 1-ROW broadcast
    # crossJoins onto the persisted |domains|-row table (the t5
    # collect-free global-scalar shape, n_rounds + 1 times)
    "sp27_repetition_schedule": "1-row budget + per-round scalar "
    "broadcasts over the bounded domains table",
    "pipe10_capped_training_order": "sp27's 1-row budget/round scalar "
    "broadcasts (solver stage)",
    # t27: the 1-row (lo, hi, total) stats attach (bucket width +
    # checkpoint count) and the <= 62-row class-histogram inequality
    # join — both constant-size broadcast sides
    "t27_vocab_growth": "1-row stats attach + <= 62-row class-histogram "
    "inequality join",
    # r11 corpus-proportional budgets: the solver's total-token budget
    # rides a 1-ROW broadcast crossJoin onto the |domains|-row rate
    # table (the t5 collect-free global-scalar shape)
    "sp23_mixture_solver": "1-row corpus-total budget broadcast onto the domains table",
    "pipe7_training_order": "sp23's 1-row budget broadcast (solver stage)",
    "s30_training_order_export": "sp23's 1-row budget broadcast (solver stage)",
    "pipe8_decontam_training_order": "sp23's 1-row budget broadcast (solver stage)",
    "sp25_dedup_aware_mixture": "1-row effective-token budget broadcast onto the domains table",
    # n8 is n7 served from the lake: the query probes the PERSISTED
    # coarse-centroid broadcast and the LUT crosses the persisted 16-row
    # PQ codebook — the same bounded shapes, read from disk
    "n8_ann_ivf_pq_persisted": "composes n2+n5's bounded broadcasts "
    "(persisted codebooks)",
    # n9 is n2's cascade with a candidate predicate — the product side
    # is still only the bounded centroid broadcast
    "n9_ann_filtered": "bounded broadcast centroid set (n2's cascade)",
    # st19 streams appends into n8's persisted layout and answers with
    # n8's query cascade — the same bounded persisted-codebook shapes
    "st19_stream_ivfpq_ingest": "composes n2+n5's bounded broadcasts "
    "(persisted codebooks, streamed appends)",
    # st19b serves queries from the stream-maintained index — n8's
    # bounded persisted-codebook shapes, ingest memoized per process
    "st19b_stream_index_serve": "composes n2+n5's bounded broadcasts "
    "(persisted codebooks, resident streamed index)",
    # n12 adds only a constant-small tombstone anti-join broadcast to
    # n8's bounded persisted-codebook shapes
    "n12_ann_ivfpq_delete": "composes n2+n5's bounded broadcasts "
    "(persisted codebooks) + constant-small tombstone anti-join",
    "n13_ann_ivfpq_reembed": "composes n2+n5's bounded broadcasts "
    "(persisted codebooks; re-embed is ingest-time state)",
    # e8 attaches the two snapshot totals as a 1-row crossJoin (t5's
    # global-scalar shape); its codebook is collected to the driver
    "e8_codebook_drift": "1-row snapshot-totals broadcast",
    # t23's per-pass winning pair is a 1-row argmax crossJoined back
    # onto the vocab (t5's global-scalar shape), once per merge pass
    "t23_bpe_merges": "1-row winning-pair broadcast per merge pass",
    "t24_bpe_encode_fertility": "1-row winning-pair broadcast per merge "
    "pass (t23's trainer inside)",
    "sp24_bpe_sequence_pack": "1-row winning-pair broadcast per merge "
    "pass (t24's encoder feeding sp6's pack chain)",
    # d14: eval sets are small at any corpus size — the bounded eval
    # broadcast IS the production decontamination plan (n1's shape)
    "d14_semantic_decontam": "bounded broadcast eval set",
    # d15: token totals (N_c, N_t) attach as a ONE-ROW broadcast
    # crossJoin (t5's collect-free global-scalar shape)
    "d15_dsir_select": "1-row token-totals scalar broadcast",
    # n10: ivf_topk's cascade — centroid set fixed-size and broadcast
    "n10_hard_negatives": "bounded broadcast centroid set",
    # q11 composes d14's bounded eval-set broadcast (the n-gram gate
    # side is a zero-join bitset projection)
    "q11_dual_gate_decontam": "bounded broadcast eval set (d14's gate inside)",
    # pipe8 runs q11's gates once (persisted id set) before pipe7's
    # manifest — the only products are q11's bounded eval broadcasts
    "pipe8_decontam_training_order": "bounded broadcast eval set "
    "(q11's dual gate inside, persisted released-id state)",
    # n11: n1's shape — the bounded query set broadcasts onto the corpus
    # scan (at quarter cost via the truncated fold); rerank is keyed
    "n11_ann_matryoshka": "bounded broadcast query set (truncated-dim scan)",
    # bucket width derives from a ONE-ROW max-id (and max-weight)
    # aggregate crossJoined on (the t5 collect-free global-scalar shape)
    "sp21_token_stream_chunks": "1-row bucket-width scalar broadcast",
    "sp22_balanced_shards": "1-row bucket-width scalar broadcast",
}


def _inherit_fused_allowlist() -> None:
    """A fused fx_* probe unions its components' plans verbatim, so it
    inherits exactly the allowlist reasons its components carry — no new
    product shape can hide behind a probe (components are still audited
    individually above)."""
    from mrf_etl_spark.plans.parity_fused import FUSE_SPECS

    for fused, comps in FUSE_SPECS.items():
        reasons = [
            f"{c}: {NESTED_LOOP_OK[c]}" for c, _ in comps if c in NESTED_LOOP_OK
        ]
        if reasons:
            NESTED_LOOP_OK.setdefault(fused, "; ".join(reasons))


_inherit_fused_allowlist()


def _catalog():
    import mrf_etl_spark.plans.parity as parity
    import mrf_etl_spark.plans.parity_llm  # noqa: F401
    import mrf_etl_spark.plans.parity_streaming  # noqa: F401

    return parity.REGISTRY


def _entries():
    reg = _catalog()
    return [
        name
        for name in sorted(reg)
        # streaming ops run micro-batches inside spark_fn (audited via
        # their batch twins) — the fx_streaming_batch probe likewise;
        # s8/s9/s10 run bounded mapInPandas fetch stages over driver-side
        # temp caches, not sf-scaled plans
        if not name.startswith(("st", "s8", "s9", "s10", "fx_streaming_batch"))
    ]


@pytest.mark.parametrize("name", _entries())
def test_no_unbounded_product(spark, name):
    reg = _catalog()
    df = reg[name].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name in NESTED_LOOP_OK:
        return  # shape is the documented intent; nothing to assert
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} plans a nested-loop join; if a bounded broadcast side is "
        "intended, add it to NESTED_LOOP_OK with the reason"
    )

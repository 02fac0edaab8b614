"""Persisted-state lifecycle (``mrf_etl_spark.state``): scopes free exactly
their own persists and local checkpoints, and ``release_state`` leaves
neither a CacheManager entry nor a persisted RDD behind — for the unit
mix below and for every catalog entry that persists state."""

from __future__ import annotations

import pytest

from mrf_etl_spark import state

# catalog entries that persist or checkpoint intermediate state (the fused
# fx_* probes over the same components are left out for run time, except
# fx_dedup_state)
STATEFUL = [
    "d6_dup_clusters",
    "d8_semantic_dedup",
    "d11_soft_dedup_weights",
    "d13_canonical_pick",
    "e6_kmeans_codebook",
    "e7_pq_codebook_train",
    "e8_codebook_drift",
    "e9_linear_probe",
    "e10_probe_eval",
    "e11_probe_inference",
    "e12_power_iteration",
    "e13_deflated_directions",
    "q7_incremental_corpus_card",
    "q10_cluster_map",
    "q11_dual_gate_decontam",
    "pipe2_fuzzy_dedup",
    "pipe5_release_v2",
    "pipe8_decontam_training_order",
    "sp20_leakage_safe_split",
    "sp24_bpe_sequence_pack",
    "sp25_dedup_aware_mixture",
    "t23_bpe_merges",
    "t24_bpe_encode_fertility",
    "st7_stream_dedup_ingest",
    "st20_stream_codebook_drift",
    "st22_stream_fertility",
    "st23_stream_cluster_map",
    "st25_stream_excision",
    "fx_dedup_state",
]


def test_scope_frees_only_its_own_state(spark):
    state.release_state()
    base = state.held(spark)

    outer = state.persist(spark.range(200).selectExpr("id * 2 AS x"))
    cp = state.local_checkpoint(spark.range(50).selectExpr("id + 1 AS y"))
    assert outer.count() == 200
    outer_rdds = state.held(spark)[1] - base[1]
    assert len(outer_rdds) == 2  # outer's cached buffers + cp's checkpoint RDD
    mid = state.held(spark)

    with state.scope():
        cut = state.local_checkpoint(outer.filter("x >= 20"))
        inner = state.persist(cp.filter("y > 3"))
        assert inner.count() == 47 and cut.count() == 190
        inside = state.held(spark)
        assert state.leaked(mid, inside) == (1, 2)
    after_scope = state.held(spark)
    assert after_scope[0] == mid[0]
    assert not (inside[1] - mid[1]) & after_scope[1]  # the scope's RDDs are gone
    assert outer_rdds <= after_scope[1]  # the outer ones are not
    assert outer.count() == 200 and cp.count() == 50

    state.release_state()
    assert state.leaked(base, state.held(spark)) == (0, 0)
    assert not outer_rdds & state.held(spark)[1]
    # a released local checkpoint cannot be recomputed
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        cp.count()


def test_leaked_names_entries_not_counts(spark):
    """A run that frees one earlier entry and leaves a new one behind
    still reads as a leak."""
    state.release_state()
    state.persist(spark.range(7).selectExpr("id AS old")).count()
    before = state.held(spark)
    state.release_state()
    fresh = state.persist(spark.range(9).selectExpr("id AS new"))
    assert fresh.count() == 9
    assert state.leaked(before, state.held(spark)) == (1, 1)
    state.release_state()


def test_nested_scopes_release_innermost_first(spark):
    state.release_state()
    base = state.held(spark)
    with state.scope():
        a = state.persist(spark.range(30).selectExpr("id AS a"))
        with state.scope():
            b = state.local_checkpoint(a.filter("a % 2 = 0"))
            assert b.count() == 15
        assert state.leaked(base, state.held(spark)) == (1, 1)  # a's cache + buffers
        assert a.count() == 30
    assert state.leaked(base, state.held(spark)) == (0, 0)


def test_scopes_are_per_thread(spark):
    """A scope open on one thread does not collect state another thread
    registers meanwhile; that state lands in the shared root scope."""
    import threading

    state.release_state()
    base = state.held(spark)
    opened, registered = threading.Event(), threading.Event()

    def scoped():
        with state.scope():
            state.persist(spark.range(11).selectExpr("id AS s"))
            opened.set()
            assert registered.wait(60)

    t = threading.Thread(target=scoped)
    t.start()
    assert opened.wait(60)
    other = state.persist(spark.range(13).selectExpr("id AS o"))
    registered.set()
    t.join(60)
    assert not t.is_alive()
    assert state.leaked(base, state.held(spark))[0] == 1  # only `other`
    assert other.count() == 13
    state.release_state()
    assert state.leaked(base, state.held(spark)) == (0, 0)


def test_local_checkpoints_on_two_threads_free_only_their_own(spark):
    """Two threads checkpoint at the same time, each in its own scope.
    Each scope frees exactly the checkpoint RDDs its own thread made: the
    other thread's checkpoints still read after it closes, and nothing is
    left once both have closed."""
    import threading

    state.release_state()
    base = state.held(spark)
    start, first_closed = threading.Barrier(2, timeout=120), threading.Event()
    errors: list = []

    def run(k: int) -> None:
        try:
            with state.scope():
                start.wait()
                cps = [
                    state.local_checkpoint(
                        spark.range(100 + 10 * i + k).selectExpr(f"id * {k + 1} AS v")
                    )
                    for i in range(6)
                ]
                start.wait()
                if k == 1:
                    assert first_closed.wait(120)
                    assert [c.count() for c in cps] == [101 + 10 * i for i in range(6)]
            if k == 0:
                first_closed.set()
        except Exception as e:  # noqa: BLE001 - re-raised on the test thread
            errors.append(e)
            first_closed.set()

    threads = [threading.Thread(target=run, args=(k,)) for k in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(180)
    assert not errors, errors
    assert state.leaked(base, state.held(spark)) == (0, 0)


@pytest.mark.parametrize("name", STATEFUL)
def test_catalog_entry_releases_all_state(spark, sf_dir, name):
    import __spark_entry__

    fn = __spark_entry__.queries()[name]
    state.release_state()
    before = state.held(spark)
    fn(spark, sf_dir).toPandas()
    state.release_state()
    assert state.leaked(before, state.held(spark)) == (0, 0), name

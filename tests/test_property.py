"""Property-based invariants (hypothesis) for the operator algebra.

Each property is the operator's CONTRACT, not an example: split
assignment is append-stable, salting is invisible, as-of equals the
brute-force argmax, exact-decimal money sums are permutation-invariant,
quantization error is bounded. Examples are kept small (Spark job per
example); shrinking still localizes failures.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

ids = st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30, unique=True)


@given(ids=ids)
@settings(**SETTINGS)
def test_assign_split_is_append_stable(spark, ids):
    """Adding rows never changes existing rows' split assignments, and
    every row gets exactly one of the declared splits."""
    from mrf_etl_spark.operators.sampling import assign_split

    w = {"train": 0.8, "test": 0.2}
    half = ids[: max(1, len(ids) // 2)]
    df_half = spark.createDataFrame([(i,) for i in half], "id long")
    df_full = spark.createDataFrame([(i,) for i in ids], "id long")
    a = {r.id: r.split for r in assign_split(df_half, "id", w).collect()}
    b = {r.id: r.split for r in assign_split(df_full, "id", w).collect()}
    assert all(b[i] == a[i] for i in half)
    assert set(b.values()) <= {"train", "test"}


@given(
    fact=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 5)), min_size=1, max_size=40
    ),
    dim=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=10,
    ),
)
@settings(**SETTINGS)
def test_salted_join_invisible(spark, fact, dim):
    """salted_join == plain join for any tables, duplicate keys included."""
    from mrf_etl_spark.operators.skew import salted_join

    f = spark.createDataFrame(fact, "row_id long, k long")
    d = spark.createDataFrame(dim, "k long, v long")
    plain = sorted(
        (r.row_id, r.k, r.v) for r in f.join(d, "k").select("row_id", "k", "v").collect()
    )
    salted = sorted(
        (r.row_id, r.k, r.v)
        for r in salted_join(f, d, on=["k"], salt_col="row_id", n_salt=3)
        .select("row_id", "k", "v")
        .collect()
    )
    assert salted == plain


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=20),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=20),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    """asof result == per-left-row argmax over right (latest ts <= l.ts,
    ties by the operator's documented tie-break: largest right ts wins;
    right rows deduped on (key, ts) to keep the brute force well-defined)."""
    from mrf_etl_spark.operators.asof import asof_join

    right = list({(k, ts): (k, ts) for k, ts in right}.values())
    l = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], "k long, lts long, lid long"
    )
    r = spark.createDataFrame(right, "k long, rts long")
    got = {
        (row.lid): row.rts_asof
        for row in asof_join(
            l, r, on="k", left_ts="lts", right_ts="rts", right_cols=["rts"]
        ).collect()
    }
    for i, (k, ts) in enumerate(left):
        cands = [rts for rk, rts in right if rk == k and rts <= ts]
        assert got.get(i) == (max(cands) if cands else None)


@given(
    vals=st.lists(
        st.decimals(
            min_value=-1000, max_value=1000, places=2, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    ),
    parts=st.integers(1, 8),
)
@settings(**SETTINGS)
def test_money_sum_partition_invariant(spark, vals, parts):
    """Exact-decimal sums don't depend on partitioning/order (THE property
    that broke a13 in round 1 under double summation)."""
    from mrf_etl_spark.plans.parity import money_sum

    rows = [(float(v),) for v in vals]
    df = spark.createDataFrame(rows, "v double")
    a = df.repartition(parts).agg(money_sum("v").alias("s")).collect()[0].s
    b = df.coalesce(1).agg(money_sum("v").alias("s")).collect()[0].s
    assert a == b
    assert abs(a - float(sum(vals))) < 1e-9


@given(
    vec=st.lists(
        st.floats(
            min_value=-10, max_value=10, allow_nan=False, allow_infinity=False, width=32
        ),
        min_size=1,
        max_size=16,
    )
)
@settings(**SETTINGS)
def test_quantize_error_bounded(spark, vec):
    from mrf_etl_spark.operators.similarity import dequantize_expr, quantize_int8

    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = (
        quantize_int8(df)
        .select("scale", "qvec", dequantize_expr("qvec", "scale").alias("rec"))
        .collect()[0]
    )
    assert all(-127 <= q <= 127 for q in row.qvec)
    for orig, rec in zip(vec, row.rec):
        # half-quantum bound, with slack for the float32 storage rounding
        assert abs(rec - orig) <= row.scale / 2 + 1e-5


@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 200)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 200)), min_size=1, max_size=15),
    width=st.integers(0, 100),
)
@settings(**SETTINGS)
def test_range_join_matches_bruteforce(spark, left, right, width):
    """Banded range join == the quadratic definition |lts - rts| <= width
    per key, for any width including 0."""
    from mrf_etl_spark.operators.rangejoin import range_join

    l = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], "k long, lts long, lid long"
    )
    r = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(right)], "k long, rts long, rid long"
    )
    got = sorted(
        (row.lid, row.rid)
        for row in range_join(l, r, on="k", left_ts="lts", right_ts="rts", width=width).collect()
    )
    want = sorted(
        (i, j)
        for i, (lk, lts) in enumerate(left)
        for j, (rk, rts) in enumerate(right)
        if lk == rk and abs(lts - rts) <= width
    )
    assert got == want


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=1, max_size=25
    ),
    gap=st.integers(1, 200),
)
@settings(**SETTINGS)
def test_sessionize_matches_bruteforce(spark, events, gap):
    """session_seq == the sequential gap-scan definition per key (events
    deduped on (key, ts) so ordering is unambiguous)."""
    from mrf_etl_spark.operators.sessions import sessionize

    events = sorted(set(events))
    df = spark.createDataFrame(events, "k long, ts long")
    got = {
        (r.k, r.ts): r.session_seq
        for r in sessionize(df, "k", "ts", gap).collect()
    }
    for k in {k for k, _ in events}:
        times = sorted(ts for ek, ts in events if ek == k)
        seq = 1
        prev = None
        for ts in times:
            if prev is not None and ts - prev > gap:
                seq += 1
            assert got[(k, ts)] == seq, (k, ts, times)
            prev = ts


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_connected_components_match_union_find(spark, edges):
    """Star contraction's labels == a sequential union-find's: every node
    appearing in the pair list is labeled with the min id of its
    component, regardless of edge order, direction, self-loops, or
    duplicate pairs."""
    from mrf_etl_spark.operators.dedup import connected_components
    from mrf_etl_spark.state import release_state

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    # cutoff=0 forces the distributed star-contraction path; the default
    # cutoff routes a list this small through the driver union-find,
    # which is structurally the same algorithm as the oracle below —
    # the distributed path is what needs the property check. The driver
    # path is covered too (it IS the default for every small-graph call
    # site, e.g. test_connected_components_chain_and_canonical).
    comp = connected_components(df, driver_edge_cutoff=0)
    got = {r.doc_id: r.component_id for r in comp.collect()}
    release_state()

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for ab in edges for n in ab}
    assert got == want


@given(
    gids=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_global_shuffle_is_a_dense_rank_of_the_hash_order(spark, gids):
    """For ANY id set (negatives included): positions are a dense
    permutation 0..n-1 equal to the rank of (hash, id) — the bucketed
    distributed form reproduces the naive single-window definition."""
    import hashlib

    from mrf_etl_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame([(i,) for i in gids], "id long")
    got = {
        r.id: r.shuffle_pos
        for r in global_shuffle(df, "id", salt="p", n_buckets=8).collect()
    }
    def h(i: int) -> int:
        return int(hashlib.md5(f"p{i}".encode()).hexdigest()[:15], 16)

    want = {i: pos for pos, i in enumerate(sorted(gids, key=lambda i: (h(i), i)))}
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 4),                     # actor
            st.sampled_from(["view", "click", "purchase", "other"]),
            st.integers(0, 50),                    # ts
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_funnel_matches_sequential_scan(spark, events):
    """funnel_steps == the obvious per-actor sequential scan: walk events
    in ts order, advance one step at a time, each step strictly after the
    previous."""
    from mrf_etl_spark.operators.funnel import funnel_steps

    steps = ["view", "click", "purchase"]
    df = spark.createDataFrame(events, "uid long, et string, ts long")
    got = {
        r.uid: (r.step_1_ts, r.step_2_ts, r.step_3_ts)
        for r in funnel_steps(df, "uid", "et", "ts", steps).collect()
    }

    expect: dict[int, tuple] = {}
    for uid in {e[0] for e in events}:
        mine = sorted((ts, et) for (u, et, ts) in events if u == uid)
        reached = []
        last = None
        for step in steps:
            cand = [
                ts for ts, et in mine
                if et == step and (last is None or ts > last)
            ]
            if not cand:
                break
            last = min(cand)
            reached.append(last)
        expect[uid] = tuple(reached + [None] * (3 - len(reached)))
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 6), st.integers(0, 1000)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_locf_carries_last_observed_day(spark, rows):
    """Gap-fill+LOCF contract on a toy daily table: every spine day holds
    the most recent observed day-sum at or before it, and the spine is
    dense from each key's first to last day."""
    import datetime as dt

    from pyspark.sql.window import Window

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, base + dt.timedelta(days=d), float(v)) for k, d, v in rows],
        "k long, day timestamp, v double",
    )
    daily = df.groupBy("k", "day").agg(F.sum("v").alias("v"))
    bounds = daily.groupBy("k").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        "k", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    w = (
        Window.partitionBy("k")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        spine.join(daily, ["k", "day"], "left")
        .select("k", "day", F.last("v", ignorenulls=True).over(w).alias("f"))
        .collect()
    )

    per_key: dict[int, dict[int, float]] = {}
    for k, d, v in rows:
        per_key.setdefault(k, {}).setdefault(d, 0.0)
        per_key[k][d] += float(v)
    seen_days: dict[int, list[int]] = {}
    for r in out:
        day_idx = (r.day - base).days
        seen_days.setdefault(r.k, []).append(day_idx)
        obs = per_key[r.k]
        last_obs = max(d for d in obs if d <= day_idx)
        assert r.f == pytest.approx(obs[last_obs])
    for k, days in seen_days.items():
        lo, hi = min(per_key[k]), max(per_key[k])
        assert sorted(days) == list(range(lo, hi + 1))


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),                      # key
            st.integers(0, 10_000_000),             # ts_us
            st.integers(-10_000, 10_000),           # cents
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_time_weighted_avg_matches_bruteforce(spark, events):
    """TWAP contract vs a sequential Python reference: per key, sort by
    (ts, seq); twap = Σ cents_i·(t_{i+1}-t_i) / (Σ gaps · 100). Keys
    with no elapsed time are dropped."""
    from collections import defaultdict

    from mrf_etl_spark.operators.rolling import time_weighted_avg

    rows = [(k, ts, c, i) for i, (k, ts, c) in enumerate(events)]
    df = spark.createDataFrame(rows, "k long, ts_us long, cents long, seq long")
    got = {
        r["k"]: (r["n_gaps"], r["total_us"], r["twap"])
        for r in time_weighted_avg(
            df, ["k"], "ts_us", "cents", order_tiebreak=["seq"]
        ).collect()
    }
    by_key = defaultdict(list)
    for k, ts, c, i in rows:
        by_key[k].append((ts, i, c))
    for k, samples in by_key.items():
        samples.sort()
        gaps = [
            (samples[j + 1][0] - samples[j][0], samples[j][2])
            for j in range(len(samples) - 1)
        ]
        total = sum(g for g, _ in gaps)
        if total == 0:
            assert k not in got
            continue
        wsum = sum(g * c for g, c in gaps)
        n, t, tw = got[k]
        assert n == len(gaps) and t == total
        assert tw == pytest.approx(wsum / (total * 100), rel=1e-12)
        # the level is bounded by the observed (cent) range
        lo = min(c for _, c in gaps) / 100
        hi = max(c for _, c in gaps) / 100
        assert lo - 1e-9 <= tw <= hi + 1e-9


@given(
    upd=st.lists(
        st.tuples(
            st.integers(0, 5),      # key
            st.integers(0, 20),     # ts (collisions likely)
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_scd2_intervals_tile_the_update_timeline(spark, upd):
    """scd2_history contract on arbitrary update logs (with heavy ts
    collisions): per key, versions are 1..n in (ts, uid) order, interval
    starts are exactly the update timestamps, each valid_to equals the
    next version's valid_from (half-open chain, no gaps or overlaps),
    and exactly the last version is current."""
    from mrf_etl_spark.io import scd2_history

    rows = [(k, ts, uid) for uid, (k, ts) in enumerate(upd)]
    df = spark.createDataFrame(rows, "key long, ts long, uid long")
    h = scd2_history(df, keys=["key"], order_col="ts", tiebreak=["uid"]).collect()
    by_key: dict[int, list] = {}
    for r in h:
        by_key.setdefault(r.key, []).append(r)
    assert sum(len(v) for v in by_key.values()) == len(rows)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r.version)
        expect = sorted(((ts, uid) for kk, ts, uid in rows if kk == k))
        assert [r.version for r in versions] == list(range(1, len(expect) + 1))
        assert [r.valid_from for r in versions] == [ts for ts, _ in expect]
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to == b.valid_from  # chain tiles, half-open
            assert not a.is_current
        assert versions[-1].valid_to is None and versions[-1].is_current


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 500),  # id
            st.integers(0, 3),    # band
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_curriculum_order_contract(spark, rows):
    """curriculum_order invariants on arbitrary banded sets: positions
    are a dense permutation of 0..n-1, bands occupy contiguous ascending
    position ranges, and within a band the order is exactly (salted
    hash, id) — i.e. the distributed decomposition reproduces the
    single-window spec."""
    import hashlib

    from mrf_etl_spark.operators.sampling import curriculum_order

    df = spark.createDataFrame(rows, "doc_id long, band long")
    out = curriculum_order(df, "doc_id", "band", salt="s").collect()
    assert sorted(r.curriculum_pos for r in out) == list(range(len(rows)))

    def h(i: int) -> int:
        return int(hashlib.md5(f"s{i}".encode()).hexdigest()[:15], 16)

    spec = sorted(rows, key=lambda t: (t[1], h(t[0]), t[0]))
    got = sorted(out, key=lambda r: r.curriculum_pos)
    assert [(r.doc_id, r.band) for r in got] == spec


@given(
    syms=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=2), min_size=1, max_size=8
    ),
    pair=st.tuples(
        st.text(alphabet="abc", min_size=1, max_size=2),
        st.text(alphabet="abc", min_size=1, max_size=2),
    ),
)
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
def test_bpe_merge_fold_matches_greedy_reference(spark, syms, pair):
    """_bpe_merge_step (the F.aggregate left-fold behind t23/t24, and
    via list_reduce the oracle's twin) must equal the canonical greedy
    left-to-right non-overlapping pair merge on arbitrary symbol
    sequences — including re-merge chaining (a fused symbol serving as
    the next LEFT) and (x, x) self-pairs."""
    from pyspark.sql import functions as F

    from mrf_etl_spark.operators.textops import _bpe_merge_step

    left, right = pair

    def ref(seq):
        out = []
        for x in seq:
            if out and out[-1] == left and x == right:
                out[-1] = left + right
            else:
                out.append(x)
        return out

    df = spark.createDataFrame([(syms,)], "arr array<string>")
    got = df.select(
        _bpe_merge_step(F.col("arr"), F.lit(left), F.lit(right)).alias("s")
    ).collect()[0].s
    assert got == " ".join(ref(syms)), (syms, pair, got)


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 500),                      # doc_id
            st.integers(1, 40),                       # n tokens
            st.sampled_from(["A", "B", "C"]),         # domain
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    ta=st.integers(0, 10000),
    tb=st.integers(0, 10000),
    budget=st.integers(0, 5000),
)
@settings(**SETTINGS)
def test_mixture_solver_never_overshoots(spark, docs, ta, tb, budget):
    """sp23's contract: for every domain, realized (planned_tokens) <=
    budget*target_bp/10000 (the floor discipline), tokens are the exact
    whitespace counts, untargeted domains solve to rate 0, and a domain
    NAMED in targets but absent from the corpus still emits a
    (tokens=0, rate_bp=0) row instead of vanishing."""
    from mrf_etl_spark.operators.sampling import mixture_solver

    rows = [(i, " ".join(["w"] * n), d) for i, n, d in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = mixture_solver(df, {"A": ta, "B": tb}, budget).collect()
    want_tokens = {}
    for _, n, d in docs:
        want_tokens[d] = want_tokens.get(d, 0) + n
    # every targeted domain has a row even when absent from the corpus
    assert {"A", "B"} <= {r.domain for r in out}
    for r in out:
        assert r.tokens == want_tokens.get(r.domain, 0)
        target = {"A": ta, "B": tb}.get(r.domain, 0)
        assert r.target_bp == target
        assert r.planned_tokens <= budget * target // 10000
        if target == 0:
            assert r.rate_bp == 0 and r.planned_tokens == 0
        # the realized count is what mix_sources' integer recipe emits:
        # tokens·rate div 10000 (re-derived, not trusted from the row)
        assert r.planned_tokens == r.tokens * r.rate_bp // 10000


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 300),
            st.integers(1, 30),
            st.sampled_from(["A", "B"]),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(1, 2000),
)
@settings(**SETTINGS)
def test_training_order_is_a_permutation_consistent_with_rates(
    spark, docs, budget
):
    """pipe7's contract on arbitrary corpora: order_pos is a dense
    0..n-1 permutation; every doc emits floor(rate) or floor(rate)+1
    copies of itself; rate-0 domains never appear."""
    from collections import Counter

    from mrf_etl_spark.operators.sampling import mixture_solver, training_order

    rows = [(i, " ".join(["w"] * n), d) for i, n, d in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    targets = {"A": 7000, "B": 3000}
    out = training_order(df, targets, budget).collect()
    pos = sorted(r.order_pos for r in out)
    assert pos == list(range(len(out)))
    rates = {
        r.domain: r.rate_bp for r in mixture_solver(df, targets, budget).collect()
    }
    copies = Counter(r.doc_id for r in out)
    dom = {i: d for i, _, d in docs}
    for i, _, d in docs:
        n = copies.get(i, 0)
        lo = rates[d] // 10000
        assert n in (lo, lo + 1)
        if rates[d] == 0:
            assert n == 0


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 300),
            st.lists(st.sampled_from("abcd"), min_size=2, max_size=8),
            st.sampled_from(["X", "Y"]),
        ),
        min_size=3,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_perplexity_buckets_partition_each_domain(spark, docs):
    """t25's contract on arbitrary corpora: every doc lands in exactly
    one bucket, t1 <= t2 per domain, buckets respect the thresholds,
    and the head never exceeds 2/3 of the domain (tie blocks land
    whole, so head <= cum at t1 which is < ceil(2n/3) + ties)."""
    from mrf_etl_spark.operators.textops import perplexity_buckets

    rows = [(i, " ".join(ws), d) for i, ws, d in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = perplexity_buckets(df).collect()
    assert len(out) == len(docs)
    for r in out:
        assert r.t1 <= r.t2
        if r.bucket == "head":
            assert r.score_e <= r.t1
        elif r.bucket == "middle":
            assert r.t1 < r.score_e <= r.t2
        else:
            assert r.score_e > r.t2


@given(
    supplies=st.lists(
        st.integers(min_value=0, max_value=500), min_size=1, max_size=6
    ),
    bps=st.lists(
        st.integers(min_value=0, max_value=5000), min_size=1, max_size=6
    ),
    budget=st.integers(min_value=0, max_value=20_000),
)
@settings(**SETTINGS)
def test_repetition_schedule_respects_caps_and_budget(
    spark, supplies, bps, budget
):
    """sp27's CONTRACT for any supplies/targets/budget: no domain ever
    exceeds max_epochs x its supply, the total allocation never exceeds
    the budget, and unalloc_tokens is exactly the unspent remainder."""
    from mrf_etl_spark.operators.sampling import repetition_schedule

    n = min(len(supplies), len(bps))
    supplies, bps = supplies[:n], bps[:n]
    rows = [
        (i, " ".join(["w"] * s) if s else "", f"d{i}")
        for i, s in enumerate(supplies)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    targets = {f"d{i}": bp for i, bp in enumerate(bps)}
    out = repetition_schedule(
        docs, targets, budget_tokens=budget, max_epochs=4
    ).collect()
    assert len(out) == n
    total_alloc = 0
    for r in out:
        # empty text still splits to one '' token — use the REPORTED
        # supply as the cap base (the operator's own token recipe)
        assert r.alloc_tokens <= 4 * r.tokens, r
        assert r.alloc_tokens >= 0
        total_alloc += r.alloc_tokens
        assert r.unalloc_tokens == budget - sum(
            x.alloc_tokens for x in out
        ), r
    assert total_alloc <= budget


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(list("abcdefg")), min_size=1, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_eval_span_excision_accounting_is_consistent(spark, texts):
    """d21's CONTRACT for any corpus/eval mix: every corpus doc comes
    back exactly once, 0 <= n_removed <= n_tokens, the kept word count
    equals n_tokens - n_removed, docs with no hit round-trip their
    (whitespace-normalized) text, and n_hits = 0 iff n_removed = 0
    for k-or-longer docs."""
    from mrf_etl_spark.operators.textops import eval_span_excision

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # doc 0 is the eval split; everything else is corpus
    out = {
        r.doc_id: r
        for r in eval_span_excision(
            docs, F.col("doc_id") == 0, "text", "doc_id", k=3
        ).collect()
    }
    assert set(out) == set(range(1, len(texts)))
    for i in range(1, len(texts)):
        r = out[i]
        assert 0 <= r.n_removed <= r.n_tokens
        kept = len(r.clean_text.split()) if r.clean_text else 0
        assert kept == r.n_tokens - r.n_removed
        if r.n_hits == 0:
            assert r.n_removed == 0
            assert r.clean_text == " ".join(texts[i].split())

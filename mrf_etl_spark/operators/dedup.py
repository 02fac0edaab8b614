"""Deduplication operators for LLM-training-data pipelines.

Four tiers, all DataFrame-native (no Python UDFs):

  exact_dup_groups   — hash-groupBy on content md5. One shuffle on the
                       hash; at 100 TB this is the cheapest possible dedup.
  ngram_jaccard      — exact near-dup via shingle inverted index: explode
                       shingles → self-join on shingle → per-pair
                       intersection counts → Jaccard. Quadratic only within
                       shingle posting lists, not across the corpus.
  minhash_lsh        — MinHash signatures + LSH banding: candidate pairs
                       come from equality joins on band hashes (shuffle on
                       band key), then exact-Jaccard verification of the
                       (tiny) candidate set. THE scale path: cost is
                       O(docs × shingles × K) map-side + a key join.
  simhash            — 64-bit SimHash signatures from word-level md5 bit
                       votes; near-dups = signature-equality or low
                       Hamming distance buckets.

Engine-neutral hashing: every hash bottoms out in an md5-hex expression
(never Spark's murmur `hash()`, which no other engine reproduces) so the
DuckDB oracles in plans/parity_llm can replay the exact pipeline. MinHash
values are int64: ONE md5 per shingle parsed to a 60-bit integer, then a
(2s+1)·h+s mod-P universal-hash family per seed — identical arithmetic on
both engines, 16× less hashing than md5-per-seed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mrf_etl_spark import state
from mrf_etl_spark.state import release_state  # noqa: F401 (re-export)

# ------------------------------------------------------------------ exact


def widen_narrow_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition an input that has fewer partitions than the
    cluster's parallelism; identity otherwise.

    Shingling / signature hashing is map-side CPU-bound: a corpus that
    arrives as one or two parquet splits would pin the whole fan-out on
    1-2 cores while the rest idle (measured: the sf0.1 documents file reads
    as 2 splits → 30 of 32 local cores idle through the hottest stage). At
    real scale the scan already has >= defaultParallelism splits and this
    is a no-op — it only pays (one narrow-input shuffle of id+text) when
    the input is pathologically under-partitioned.

    Width is estimated from the scan's file list + sizes, NOT
    ``df.rdd.getNumPartitions()``: converting to RDD compiles the plan to
    a physical RDD graph (measured 0.1-0.9 s per call — pure fixed cost
    repeated by every dedup/similarity operator). A non-file source (or a
    remote store where sizes aren't free) returns None splits and is left
    untouched — at real scale those inputs are already wide."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    splits = _estimated_scan_splits(df)
    if splits is not None and splits < target:
        return df.repartition(target)
    return df


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Approximate file-scan split count: Σ ceil(size / maxPartitionBytes)
    over local input files. None when the input isn't a local file scan
    (derived plans, streaming, object stores) — callers treat that as
    'already wide enough'."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        max_pb = int(df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        max_pb = 128 * 1024 * 1024
    splits = 0
    for uri in files:
        if uri.startswith("file:"):
            path = uri[len("file:") :]
        elif "://" not in uri:
            path = uri
        else:
            return None
        try:
            size = os.path.getsize(path)
        except OSError:
            return None
        splits += max(1, -(-size // max_pb))
    return splits


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical documents: md5(text) → group, keep groups
    with >1 member. Returns (content_hash, n, min_id, max_id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").alias("n"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .filter(F.col("n") > 1)
    )


# --------------------------------------------------------------- shingles


def shingle_expr(text_col: str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of lower(text), as array<string>."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(k)]),
    )
    # short docs (< k words) get their whole text as the single shingle
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.array_distinct(grams)
    )


def doc_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) exploded pairs — the inverted-index input.

    Two-projection formulation: the word split is materialized as a column
    BEFORE the k-gram transform. Higher-order lambdas are interpreted with
    no common-subexpression elimination, so an inline split (shingle_expr)
    re-runs the regex for every gram × every element_at — measured ~10×
    slower. Same output, same oracle."""
    words_df = widen_narrow_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_words"),
    )
    return words_df.select(
        "doc_id", F.explode(shingle_array_expr(k)).alias("shingle")
    )


def shingle_array_expr(k: int, words_col: str = "_words") -> Column:
    """Distinct word k-gram shingles of a pre-split ``words_col`` array
    (short docs contribute their whole text as the single shingle) — the
    ONE shingle recipe shared by doc_shingles, bloom_contam_gate, and
    repeated_span_flags, so the d12/st13 gate==tagged equivalence and
    every shingle-replaying oracle can never drift from a divergent
    copy.

    ONE parsed expression instead of Python-side Column composition: the
    lambda/element_at form cost ~50 py4j round trips to build (~0.5 s
    first call); the parsed string is 1 round trip, verified
    row-identical. ``w[i]`` is 0-based == element_at(w, i+1)."""
    parts = ", ".join(f"{words_col}[i + {j}]" for j in range(k))
    return F.expr(
        f"CASE WHEN size({words_col}) < {k} "
        f"THEN array(concat_ws(' ', {words_col})) "
        f"ELSE array_distinct(transform("
        f"sequence(0, greatest(size({words_col}) - {k}, 0)), "
        f"i -> concat_ws(' ', {parts}))) END"
    )


# ---------------------------------------------------------- exact jaccard


def ngram_jaccard_pairs_capped(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 1000,
    metric: str = "jaccard",
) -> DataFrame:
    """n-gram Jaccard near-dup with a document-frequency cap — the scale
    path for :func:`ngram_jaccard_pairs`.

    The uncapped inverted index is quadratic in the document frequency of
    its hottest shingle: one stopword trigram appearing in df docs emits
    df² candidate rows in the self-join (at 100 TB a single hot shingle is
    the whole job). The standard LSH-literature fix: drop shingles with
    df > max_doc_freq (or df < 2 — they can't form pairs) from CANDIDATE
    GENERATION only, bounding the join at Σ_kept df² ≤ kept·cap². Returned
    pairs are then verified against each doc's FULL shingle-hash set, so
    every emitted (n_common, sizes, jaccard) is exact — the only semantics
    delta (documented, tested) is that a pair whose shared shingles are
    ALL hot is never surfaced; a pair over the jaccard threshold shares
    most of its shingles, so it is missed only when hot shingles dominate
    both docs entirely.

    Works in the engine-neutral 60-bit md5 hash domain (like
    minhash_lsh_pairs), so the SQL oracle replays it verbatim. Returns
    (doc_a, doc_b, n_common, size_a, size_b, <metric>).

    ``metric="containment"`` scores c/least(|A|,|B|) instead — the
    asymmetric-size form (Lee et al. ACL'22) that surfaces a short doc
    EMBEDDED in a long one, which jaccard's union denominator dilutes
    below any useful threshold. Same candidate generation, same lossless
    prune shape (both metrics are increasing in c)."""
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"metric must be jaccard|containment, got {metric!r}")
    from pyspark.storagelevel import StorageLevel

    # One shingle+hash pass feeds ONE aggregation; the compact per-doc
    # hash-set state (docs × hset, ~10× smaller than the exploded shingle
    # table) is what persists and serves df-counting, candidate indexing
    # AND verification — the d2 fused-state design.
    sh = doc_shingles(df, text_col, id_col, k)
    hashed = sh.select("doc_id", shingle_hash_expr(F.col("shingle")).alias("h"))
    per_doc = state.persist(
        hashed.groupBy("doc_id")
        .agg(F.collect_set("h").alias("hset")),
        StorageLevel.MEMORY_AND_DISK,
    )
    # Posting-list pair generation, NOT an inverted-index self-join: ONE
    # groupBy-h shuffle builds the per-shingle posting list (df-capped, so
    # each list holds ≤ max_doc_freq doc ids — bounded, skew-free), then
    # ordered pairs are emitted MAP-SIDE from the sorted list and only the
    # pair rows shuffle into the per-pair count. The previous
    # dfreq-groupBy + keep-join + h-equi-self-join shape paid an extra
    # shuffle of the full index plus a 262k×262k hash join to produce the
    # same pair rows (measured at sf0.1: cand stage 2.05 s → 1.2 s).
    idx_full = per_doc.select("doc_id", F.explode("hset").alias("h"))
    posts = (
        idx_full.groupBy("h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= max_doc_freq))
    )
    # The posting-list table is tiny (one row per surviving shingle hash)
    # so AQE coalesces it to a few partitions — but the pair explode below
    # fans each row out ~df²/2×, and a coalesced plan runs that generate
    # stage on those few cores. Round-robin the small table first: the
    # extra exchange moves |posts| rows to buy an explode spread over the
    # whole cluster (measured at sf0.1: cand stage 2.5 s → 1.2 s). No
    # persist needed for its double use (candidate pairs + kept-per-doc
    # counts): the physical plans are identical up to the agg, so Spark
    # reuses the shuffle (ReusedExchange) — a cache was measured neutral.
    posts = posts.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # all i<j pairs of the sorted posting list, generated in-place
    pair_arr = F.expr(
        "flatten(transform(slice(docs, 1, size(docs) - 1), (x, i) -> "
        "transform(slice(docs, i + 2, size(docs) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    cand = (
        posts.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_kept_common"))
    )
    # Lossless candidate pruning BEFORE the wide hset join. For a pair:
    #   n_common = n_kept_common + |hot(A) ∩ hot(B)|
    #            ≤ n_kept_common + least(hot_a, hot_b)          (= ub)
    # and jaccard = c/(sz_a+sz_b-c) is increasing in c, so
    # jaccard ≤ ub/(sz_a+sz_b-ub). Pairs whose upper bound misses the
    # threshold can't pass exact verification — dropping them changes
    # nothing (measured at sf0.1: 1.13 M candidates → ~1 k survivors
    # reach the array_intersect join, which was ~half the runtime).
    kept_per_doc = (
        posts.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("kept"))
    )
    stats = per_doc.select(
        "doc_id", F.size("hset").alias("sz")
    ).join(kept_per_doc, "doc_id", "left").select(
        "doc_id", "sz", F.coalesce("kept", F.lit(0)).alias("kept")
    )
    sta = stats.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("size_a"),
        (F.col("sz") - F.col("kept")).alias("hot_a"),
    )
    stb = stats.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("size_b"),
        (F.col("sz") - F.col("kept")).alias("hot_b"),
    )
    # both metrics are increasing in c with a c-independent-or-shrinking
    # denominator, so the same ub yields a lossless prune:
    #   jaccard     = c/(sa+sb-c)      ≤ ub/(sa+sb-ub)
    #   containment = c/least(sa,sb)   ≤ ub/least(sa,sb)
    ub = F.col("n_kept_common") + F.least("hot_a", "hot_b")

    def score(c):
        if metric == "containment":
            return c / F.least("size_a", "size_b")
        return c / (F.col("size_a") + F.col("size_b") - c)

    pruned = (
        cand.join(sta, "doc_a")
        .join(stb, "doc_b")
        .filter(score(ub) >= threshold)
        .select("doc_a", "doc_b", "size_a", "size_b")
    )
    sa = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("set_a"))
    sb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("set_b"))
    # Broadcast the PAIR side of the verify joins (r12, guide §3.1/§8
    # "attach the plan without shuffling the payload"): the planner's
    # estimate for `pruned` is unknown post-aggregate, so it was picking
    # the wide per-doc hash-set table as the build/shuffle side — the
    # heaviest rows in the query moved to meet a KiB pair list. With the
    # pair list broadcast, both verify joins stream per_doc map-side and
    # non-candidate docs drop at the probe (measured same-session: the
    # verify tail 4.0 -> 3.0 s at sf0.1, identical 300 rows). Scale note:
    # the broadcast is the THRESHOLD-SURVIVING pair list (ub-prune cuts
    # ~1.13 M candidates to ~1 k here) — bounded by true near-dup volume,
    # the same order as the result itself; a corpus whose surviving pair
    # list outgrows broadcast should shard the verify by doc_a range
    # instead (each slice still beats shuffling hash sets).
    return (
        F.broadcast(pruned)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(metric, score(F.col("n_common")))
        .filter(F.col(metric) >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", metric)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via the shingle inverted index.

    Posting lists here are UNBOUNDED — one hot shingle makes the
    self-join quadratic in its document frequency, so at scale use
    :func:`ngram_jaccard_pairs_capped` (df-pruned candidates, exact
    verification).

    Plan (r11): explode → ONE groupBy-shingle shuffle builds the
    per-shingle posting list, ordered pairs are emitted MAP-SIDE from
    the sorted list (the d3b posting-list kernel, minus the df cap —
    the previous shingle-equi-self-join shuffled the exploded table
    twice more and paid a corpus-explode × corpus-explode hash join to
    produce the same pair rows) → count intersections → join sizes →
    jaccard = i / (|A| + |B| - i). Pair sets are identical: a sorted
    posting list's i<j pairs ARE the (a.doc_id < b.doc_id) join matches
    per shingle. Returns (doc_a, doc_b, n_common, size_a, size_b,
    jaccard)."""
    sh = doc_shingles(df, text_col, id_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    posts = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    # spread the df²/2-per-row pair explode over the cluster (the d3b
    # lesson: AQE coalesces the tiny posting table to a few partitions
    # and the generate stage runs on those few cores)
    posts = posts.repartition(df.sparkSession.sparkContext.defaultParallelism)
    pair_arr = F.expr(
        "flatten(transform(slice(docs, 1, size(docs) - 1), (x, i) -> "
        "transform(slice(docs, i + 2, size(docs) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    inter = (
        posts.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


# ----------------------------------------------------------- minhash lsh


MINHASH_P = 2147483647  # 2^31 - 1; keeps (h % P) * (2*seed+1) + seed in int64


def shingle_hash_expr(shingle: Column) -> Column:
    """Engine-neutral 60-bit integer hash of a shingle: the first 15 hex
    digits of md5, parsed base-16. DuckDB replays it as
    CAST('0x' || substring(md5(s),1,15) AS BIGINT) — verified identical."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")


def seed_mix_expr(h: Column, seed: int) -> Column:
    """Universal-hash family g_seed(h) = ((h % P) * (2*seed+1) + seed) % P —
    pure int64 arithmetic, identical across engines. ONE md5 per shingle
    feeds all seeds (16x less hashing than md5-per-seed)."""
    return ((h % MINHASH_P) * (2 * seed + 1) + seed) % MINHASH_P


def minhash_wide(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, m_0 .. m_{H-1}): all H minhashes in ONE aggregation pass.

    Plan shape: explode shingles (docs x shingles rows) -> project the H
    mixed hashes as columns -> groupBy(doc_id).agg(H mins). No seed
    fan-out: the H-way explode of the md5-per-seed formulation multiplied
    the aggregation input by H; here the row count stays docs x shingles
    and the mins combine map-side. At 100 TB the shuffle carries exactly
    docs x (H+1) pre-aggregated longs."""
    return minhash_wide_from_shingles(doc_shingles(df, text_col, id_col, k), num_hashes)


def minhash_wide_from_shingles(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """minhash_wide over a pre-computed (doc_id, shingle) table."""
    h = shingle_hash_expr(F.col("shingle"))
    hashed = sh.select("doc_id", *[seed_mix_expr(h, s).alias(f"g_{s}") for s in range(num_hashes)])
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"g_{s}").alias(f"m_{s}") for s in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, seed, minhash) — long-form view of minhash_wide (API/test
    compatibility; plans use the wide form directly)."""
    wide = minhash_wide(df, text_col, id_col, k, num_hashes)
    pairs = F.array(*[
        F.struct(F.lit(s).alias("seed"), F.col(f"m_{s}").alias("minhash"))
        for s in range(num_hashes)
    ])
    return wide.select("doc_id", F.explode(pairs).alias("sm")).select(
        "doc_id", F.col("sm.seed").alias("seed"), F.col("sm.minhash").alias("minhash")
    )


def lsh_band_hashes(
    signatures_wide: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, band, band_hash) from the WIDE signature table: md5 over
    the band's minhashes in seed order — a post-aggregation projection."""
    r = num_hashes // bands
    structs = ", ".join(
        f"struct({b} AS band, md5(concat_ws('|', "
        + ", ".join(f"m_{b * r + i}" for i in range(r))
        + ")) AS band_hash)"
        for b in range(bands)
    )
    return signatures_wide.select(
        "doc_id", F.explode(F.expr(f"array({structs})")).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )


def per_doc_signature_state(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, m_0 .. m_{H-1}, hset): per doc, the H minhash signature
    mins AND the distinct shingle-hash set, in ONE aggregation pass over
    the hashed shingles. This is both minhash_lsh_pairs' working state
    and the PERSISTED INDEX SCHEMA for incremental dedup — write it
    bucketed by doc_id and new batches dedup against it without ever
    re-reading the corpus text (see :func:`dedup_incremental`)."""
    sh = doc_shingles(df, text_col, id_col, k)
    hashed = sh.select("doc_id", shingle_hash_expr(F.col("shingle")).alias("h"))
    # parsed expr strings (1 py4j round trip each) instead of 5-op Column
    # composition per seed — same arithmetic, ~0.3 s less plan build
    return hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(((h % {MINHASH_P}) * {2 * s + 1} + {s}) % {MINHASH_P})"
            ).alias(f"m_{s}")
            for s in range(num_hashes)
        ],
        F.collect_set("h").alias("hset"),
    )


def dedup_incremental(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup an incoming batch against an already-deduped corpus WITHOUT
    re-reading the corpus — the production ingest pattern: the lake keeps
    a signature index (:func:`per_doc_signature_state` rows, written
    bucketed by doc_id), and each new batch joins against it.

    Returns one row per batch doc: (doc_id, survived, match_id) —
    ``survived`` is true when no corpus doc reaches ``threshold``
    Jaccard; otherwise ``match_id`` is the smallest matching corpus id.
    Surviving docs' own signature rows (``per_doc_signature_state`` of
    the filtered batch) are what the caller appends to the index.

    At 100 TB: the candidate join shuffles fixed-width band hashes (batch
    side is batch-sized; index side prunes to colliding buckets), and
    exact verification fetches only the CANDIDATES' hash sets from the
    index — the corpus text is never touched. Cost scales with the batch
    and its collision set, not the lake.

    ``index`` is referenced twice in the plan (band projection + hset
    fetch). A lake table read from disk is fine; a COMPUTED index should
    be persisted by the caller first or its aggregation runs twice."""
    from pyspark.storagelevel import StorageLevel

    bstate = state.persist(
        per_doc_signature_state(batch, text_col, id_col, k, num_hashes),
        StorageLevel.MEMORY_AND_DISK,
    )
    bband = lsh_band_hashes(bstate, num_hashes, bands).withColumnRenamed(
        "doc_id", "bdoc"
    )
    iband = lsh_band_hashes(index, num_hashes, bands).withColumnRenamed(
        "doc_id", "cdoc"
    )
    cand = (
        bband.join(iband, ["band", "band_hash"]).select("bdoc", "cdoc").distinct()
    )
    bsets = bstate.select(F.col("doc_id").alias("bdoc"), F.col("hset").alias("bset"))
    csets = index.select(F.col("doc_id").alias("cdoc"), F.col("hset").alias("cset"))
    n_common = F.size(F.array_intersect(F.col("bset"), F.col("cset")))
    matches = (
        cand.join(bsets, "bdoc")
        .join(csets, "cdoc")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("bset") + F.size("cset") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy("bdoc")
        .agg(F.min("cdoc").alias("match_id"))
    )
    return (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(matches, F.col("doc_id") == F.col("bdoc"), "left")
        .select(
            "doc_id",
            F.col("match_id").isNull().alias("survived"),
            "match_id",
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH candidate generation, then exact-Jaccard verification.

    The candidate join is an equality join on (band, band_hash) — at
    100 TB this shuffles only the fixed-width signatures, never the corpus,
    and verification touches only candidate pairs. Returns
    (doc_a, doc_b, jaccard) with exact jaccard >= threshold.

    ONE aggregation pass over the hashed shingles produces, per doc, the H
    signature mins AND the doc's distinct shingle-hash set (+ its size).
    Verification is then `array_intersect` on the two hash sets of each
    candidate pair — no second pass over the exploded shingle table, no
    separate sizes aggregation, and the per-doc state persisted for reuse
    is docs × (H longs + the hash set) instead of the ~10×-corpus shingle
    text. Jaccard is computed in the 60-bit hash domain on BOTH engines
    (the oracle joins on the same md5-derived h), so parity is exact by
    construction and collisions would have to collide on both sides alike."""
    from pyspark.storagelevel import StorageLevel

    per_doc = state.persist(
        per_doc_signature_state(df, text_col, id_col, k, num_hashes),
        StorageLevel.MEMORY_AND_DISK,
    )
    bandh = lsh_band_hashes(per_doc, num_hashes, bands)
    a = bandh.alias("a")
    b = bandh.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification over candidates only, reusing the persisted
    # per-doc state. NOTE: no broadcast hint on cand — a broadcast was
    # measured slower at sf0.1 (it forfeits plan reuse); AQE still switches
    # to broadcast at runtime when cand is truly tiny.
    sa = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("set_a"))
    sb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("set_b"))
    n_common = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("set_a") + F.size("set_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------ dedup clustering


def _cc_driver_local(raw: DataFrame) -> DataFrame:
    """Union-find on the driver for a driver-sized edge list — the
    small-graph fast path of :func:`connected_components`. Union-by-min
    (the smaller root becomes parent) + path halving, so every root IS
    its component's minimum id — exactly the distributed fixpoint label."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for row in raw.collect():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    data = [(n, find(n)) for n in parent]
    # label types mirror the edge id type: a string-id corpus (URL/hash
    # ids) must not be forced through a long schema (min/ordering works
    # the same — union-by-min is lexicographic there)
    id_type = raw.schema[0].dataType.simpleString()
    return raw.sparkSession.createDataFrame(
        data, schema=f"doc_id {id_type}, component_id {id_type}"
    )


def _cc_star(raw: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Distributed star contraction over a (u, v) edge frame — the
    large-graph path of :func:`connected_components`. Returns the
    (doc_id, component_id) labels and the number of rounds run."""
    nodes = state.persist(
        raw.select(F.col("u").alias("n"))
        .union(raw.select(F.col("v").alias("n")))
        .distinct(),
    )
    nodes.count()
    # directed larger→smaller, the invariant both star ops preserve.
    # localCheckpoint (NOT persist) each round: the round's plan references
    # `edges` ~8× (sym twice, mins/large/small reuse), so without lineage
    # truncation the logical plan grows 8× per round and Catalyst OOMs by
    # round 3 — persist caches data but keeps the full plan. On a real
    # cluster localCheckpoint blocks live on executors (lost with them);
    # for multi-hour runs set a checkpoint dir and swap in reliable
    # .checkpoint() — same truncation, HDFS-backed.
    edges = state.local_checkpoint(
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct(),
    )
    n_edges = edges.count()
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # ---- large star: (v, min(N(u) ∪ {u})) for every v ∈ N(u), v > u
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small star: connect u and its smaller neighbors to their min
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = state.local_checkpoint(
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
        )
        n_new = small.count()
        stable = n_new == n_edges and small.exceptAll(edges).limit(1).count() == 0
        edges, n_edges = small, n_new
        if stable:
            break
    # at the fixpoint each non-min node points exactly at its component
    # min; the min-agg also keeps the label well-defined if max_iter cut
    # the loop short of convergence
    centers = edges.groupBy("u").agg(F.min("v").alias("component_id"))
    labels = nodes.join(centers.withColumnRenamed("u", "n"), "n", "left").select(
        F.col("n").alias("doc_id"),
        F.coalesce("component_id", F.col("n")).alias("component_id"),
    )
    return labels, rounds


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    driver_edge_cutoff: int = 200_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    component_id) where component_id is the MIN doc id reachable from the
    node. The canonical-representative step every dedup pipeline needs:
    near-dup similarity is not transitive, but keep-one-per-cluster is
    defined on the transitive closure of the pair relation.

    Alternating large-star / small-star contraction (the MapReduce CC
    algorithm of Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public literature):

      * large-star: every node connects its LARGER neighbors to the
        minimum of its neighborhood (incl. itself);
      * small-star: every node connects its smaller neighbors and itself
        to that minimum.

    Each op is a groupBy + join (two shuffles/round) and the edge set
    converges to stars centered at each component's minimum id in
    O(log n) rounds — diameter-independent, unlike min-label propagation
    whose round count equals the graph diameter (a 100-hop chain of
    mutated near-dup copies took 100 shuffle rounds; star contraction
    takes ~5). The driver-side work per round is one convergence check.

    Deterministic regardless of iteration schedule (the fixpoint is the
    per-component min), so the oracle replays it with a recursive-CTE
    transitive closure. Only nodes appearing in ``pairs`` are labeled."""
    # Materialize the (possibly expensive) upstream pair plan ONCE —
    # nodes and edges both derive from this checkpoint. Deriving them
    # independently from `pairs` ran the full upstream plan (e.g. a
    # MinHash-LSH cascade) twice before the first contraction round.
    raw = state.local_checkpoint(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    )
    # Small-graph fast path (the broadcast-join analogy): a near-dup pair
    # graph is typically ORDERS of magnitude smaller than the corpus —
    # when it fits on the driver (two longs per edge; the default cutoff
    # is ~3 MB collected), a local union-find replaces ~2 shuffle jobs
    # per contraction round of pure scheduler overhead (measured: the CC
    # tail of pipe2 at sf0.1 swung 2-10 s on job-scheduling noise alone).
    # The label fixpoint is identical (component min). Graphs above the
    # cutoff take the distributed star-contraction path (_cc_star), which
    # is the 100 TB story; both paths share one property-based test against
    # a sequential union-find oracle.
    if raw.count() <= driver_edge_cutoff:
        return _cc_driver_local(raw)
    return _cc_star(raw, max_iter)[0]


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Drop every non-canonical member of each dup cluster: keep rows whose
    id is its component's min (or appears in no pair at all). Pass a
    precomputed ``components`` frame (from :func:`connected_components`,
    which runs its contraction loop eagerly) when the caller also needs
    the labels — avoids running the iterative clustering twice."""
    comp = components if components is not None else connected_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def canonical_pick(
    corpus: DataFrame,
    pairs: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Policy-based cluster representative — keep_canonical's quality
    upgrade: instead of the min id, each dup cluster keeps the member
    with the HIGHEST ``weight_col`` (ties → lowest id) — "keep the most
    complete version" when near-dups are truncations/mutations of one
    page. Weights must be non-null (token counts, quality scores).

    Returns (doc_id, component_id, canonical_id, is_canonical) for EVERY
    corpus row; singletons are their own canonical.

    Plan: the argmax runs ONLY over the labeled members (bounded by the
    pair graph, tiny next to the corpus) as a map-side-combinable
    min(struct(-w, id)) — long negation is exact, so the struct min IS
    `ORDER BY w DESC, id ASC`; singletons join out via ONE left-anti
    against the label set (broadcast-sized). The corpus is never
    shuffled — d11's discipline."""
    comp = components if components is not None else connected_components(pairs)
    w = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.col(weight_col).cast("long").alias("_cp_w"),
    )
    memb = w.join(comp, "doc_id")
    best = memb.groupBy("component_id").agg(
        F.min(
            F.struct(
                (-F.col("_cp_w")).alias("nw"), F.col("doc_id").alias("cid")
            )
        ).alias("_b")
    )
    clustered = memb.join(best, "component_id").select(
        "doc_id",
        "component_id",
        F.col("_b.cid").alias("canonical_id"),
        (F.col("doc_id") == F.col("_b.cid")).alias("is_canonical"),
    )
    singles = w.join(comp.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("component_id"),
        F.col("doc_id").alias("canonical_id"),
        F.lit(True).alias("is_canonical"),
    )
    return clustered.unionByName(singles)


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Down-weight instead of drop — the soft alternative to
    :func:`keep_canonical`: every document gets weight 1/|cluster| so a
    passage duplicated N times contributes ONE document's worth of
    training mass in expectation (the repeat-penalty used when hard
    dedup is too aggressive, e.g. boilerplate-heavy but individually
    useful pages; cf. the "deduplicating training data" line of work —
    down-weighting preserves coverage where dropping loses it).

    Returns ``df``'s id column plus (cluster_size, weight): singletons —
    anything absent from the pair graph — get size 1 / weight 1.0, and
    cluster members share weight 1/size exactly (one correctly-rounded
    IEEE division both engines reproduce bit-for-bit).

    Plan: component labels (bounded by the pair-graph nodes, tiny next
    to the corpus) roll up to per-component sizes, then broadcast back
    onto the corpus through two small-side left joins — no shuffle of
    the corpus itself at any scale."""
    comp = components if components is not None else connected_components(pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").alias("cluster_size")
    )
    labeled = comp.join(sizes, "component_id").select(
        F.col("doc_id").alias("_sd_id"), "cluster_size"
    )
    return (
        df.join(labeled, F.col(id_col) == F.col("_sd_id"), "left")
        .drop("_sd_id")
        .select(
            id_col,
            F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long").alias(
                "cluster_size"
            ),
            (
                F.lit(1.0)
                / F.coalesce(F.col("cluster_size"), F.lit(1)).cast("double")
            ).alias("weight"),
        )
    )


# --------------------------------------------------------------- simhash


def simhash_hex(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash as 16 lowercase hex chars.

    Word-level features; each word votes ±1 per bit using the first 16 hex
    chars of md5(word) (4 bits per char). Ties (sum == 0) vote 0 — the
    convention the oracle mirrors. Plan: explode words → explode 16 hex
    positions → nibble→4 bit votes → two groupBys. Everything stays in
    codegen; shuffle key is doc_id."""
    words = F.explode(
        F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    ).alias("word")
    base = widen_narrow_input(df).select(F.col(id_col).alias("doc_id"), words).withColumn(
        "h", F.md5(F.col("word"))
    )
    pos = base.withColumn("p", F.explode(F.sequence(F.lit(1), F.lit(16))))
    # column-arg shift/substr/instr need the SQL forms (the Python API
    # wrappers only take literals for these)
    nib = pos.withColumn(
        "v", F.expr("instr('0123456789abcdef', substring(h, p, 1)) - 1")
    ).withColumn("b", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2), F.lit(3))))
    votes = nib.withColumn(
        "vote", F.expr("CASE WHEN (shiftright(v, b) & 1) = 1 THEN 1 ELSE -1 END")
    )
    bit_sums = votes.groupBy("doc_id", "p", "b").agg(F.sum("vote").alias("s"))
    nibbles = bit_sums.groupBy("doc_id", "p").agg(
        F.sum(F.expr("CASE WHEN s > 0 THEN shiftleft(1, b) ELSE 0 END")).alias("nv")
    )
    per_pos = nibbles.select(
        "doc_id",
        "p",
        F.expr("substring('0123456789abcdef', cast(nv AS int) + 1, 1)").alias("c"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("p", "c")))
    return per_pos.groupBy("doc_id").agg(
        F.concat_ws("", F.transform(ordered, lambda s: s.c)).alias("simhash")
    )


def dedup_quality_report(lsh_pairs: DataFrame, exact_pairs: DataFrame) -> DataFrame:
    """Recall audit of an approximate dedup pass against an exact ground
    truth: full-outer join of the two (doc_a, doc_b) pair sets rolled up
    to one (n_exact, n_lsh, n_tp, n_missed, recall) row.

    Takes ALREADY-BUILT pair frames so a session can audit the cascades
    it has just run (the pipe2 composition pattern) instead of paying
    both candidate generations a second time; pass freshly-built frames
    for a standalone audit. One shuffle on the pair key + an O(1) agg —
    the frames' own lineage (cached or not) is the caller's choice.

    Both projections are made DISTINCT before the join: the inputs are
    arbitrary caller-built frames, and a duplicated (doc_a, doc_b) row in
    either would otherwise inflate n_exact/n_lsh/n_tp and skew recall
    (cheap relative to the join itself — same shuffle key)."""
    e = exact_pairs.select("doc_a", "doc_b").distinct().withColumn("in_e", F.lit(1))
    l = lsh_pairs.select("doc_a", "doc_b").distinct().withColumn("in_l", F.lit(1))
    j = e.join(l, ["doc_a", "doc_b"], "full")
    return j.agg(
        F.sum(F.coalesce("in_e", F.lit(0))).alias("n_exact"),
        F.sum(F.coalesce("in_l", F.lit(0))).alias("n_lsh"),
        F.sum(
            F.when(
                F.col("in_e").isNotNull() & F.col("in_l").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_tp"),
    ).select(
        "n_exact",
        "n_lsh",
        "n_tp",
        (F.col("n_exact") - F.col("n_tp")).alias("n_missed"),
        F.when(
            F.col("n_exact") > 0, F.col("n_tp").cast("double") / F.col("n_exact")
        ).alias("recall"),
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_band_freq: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= ``max_hamming`` —
    the low-Hamming half of the SimHash design (Manku, Jain & Sarma,
    WWW'07), next to d4's signature-equality buckets.

    Pigeonhole banding: the 64-bit signature splits into 4 bands of 16
    bits; any pair within Hamming distance 3 differs in <= 3 bits, so at
    least one band matches EXACTLY — candidates come from equality joins
    on (band index, band value), never from an all-pairs scan. Candidates
    then verify the true distance via ``bit_count(xor())`` over the two
    32-bit signature halves, so every emitted pair is exact. Band values
    with document frequency > ``max_band_freq`` are dropped from
    candidate generation (the d3b df-cap pattern: a degenerate band —
    e.g. all-zero from short docs — would emit df^2 candidates; capped,
    the join is bounded and the only loss is pairs ALL of whose matching
    bands are degenerate).

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    if not 0 <= max_hamming <= 3:
        # 4 fixed bands pigeonhole-guarantee recall only for distance <= 3
        # (d+1 bands are needed for distance d); silently incomplete pairs
        # at higher thresholds would betray the "exact banded candidates"
        # contract above
        raise ValueError(
            f"max_hamming={max_hamming} not supported: 4 bands guarantee "
            "complete candidates only for 0 <= max_hamming <= 3"
        )

    # the signature table feeds banding AND both verify sides — persist
    # the compact (doc_id, sig) state so the bit-vote cascade runs once
    sig = state.persist(
        simhash_hex(df, text_col, id_col)
        .select(
            "doc_id",
            "simhash",
            F.expr("cast(conv(substring(simhash, 1, 8), 16, 10) as bigint)").alias("hi"),
            F.expr("cast(conv(substring(simhash, 9, 8), 16, 10) as bigint)").alias("lo"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                "b -> struct(b AS b, substring(simhash, b * 4 + 1, 4) AS bv))"
            )
        ).alias("band"),
    ).select("doc_id", "band.b", "band.bv")
    kept = bands.withColumn(
        "_df", F.count("*").over(Window.partitionBy("b", "bv"))
    ).filter(F.col("_df") <= max_band_freq)
    a = kept.select(F.col("doc_id").alias("doc_a"), "b", "bv")
    b = kept.select(F.col("doc_id").alias("doc_b"), "b", "bv")
    cand = (
        a.join(b, ["b", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("hi").alias("hi_a"), F.col("lo").alias("lo_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("hi").alias("hi_b"), F.col("lo").alias("lo_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming",
            F.expr(
                "cast(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) as bigint)"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )

"""Deterministic sampling / dataset-split operators.

A training-data pipeline needs REPRODUCIBLE splits: `rand()`-based
sampling changes under retries, re-partitioning, and re-runs, and cannot
be replayed by another engine. These operators derive every decision from
an md5 hash of the row's id (the same engine-neutral 60-bit recipe the
minhash family uses — operators/dedup.shingle_hash_expr), so:

  * re-running assigns every row the SAME split — a new batch appended to
    the corpus never reshuffles existing rows' assignments;
  * any engine can replay the assignment (DuckDB oracles verify it);
  * at 100 TB the split is a stateless per-row projection — no shuffle,
    no sampling pass, no driver-side coordination.

Buckets are `hash % 10_000` (basis-point resolution), so fractions are
exact to 0.01%.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BUCKETS = 10_000


def shard_hash(id_col: Column | str, salt: str = "") -> Column:
    """Full-resolution 60-bit deterministic hash of the id: first 15 hex
    chars of md5(salt || id) parsed base-16 — the single engine-neutral
    recipe every sampling decision derives from. The salt decorrelates
    independent uses over the same ids."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 15), 16, 10
    )
    return h.cast("long")


def hash_bucket(id_col: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, 10000): :func:`shard_hash` quantized
    mod 10000 (basis-point resolution)."""
    return (shard_hash(id_col, salt) % BUCKETS).alias("bucket")


def assign_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Add a split-name column from cumulative weight thresholds.

    weights: ordered {name: fraction} summing to 1.0, e.g.
    {"train": 0.9, "val": 0.05, "test": 0.05}. Assignment is a pure
    per-row expression — appended data never disturbs existing rows."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1.0, got {total}")
    b = hash_bucket(id_col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cut = int(round(acc * BUCKETS))
        expr = F.when(b < cut, name) if expr is None else expr.when(b < cut, name)
    out = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, out)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling (the reproducible `sampleBy`):
    keep a row iff its hash bucket falls under its stratum's fraction.
    Strata absent from `fractions` use `default_fraction`. Stateless
    per-row predicate — at scale it pushes straight into the scan."""
    b = hash_bucket(id_col, salt)
    cut = None
    for name, frac in fractions.items():
        cond = F.col(strata_col) == name
        val = F.lit(int(round(frac * BUCKETS)))
        cut = F.when(cond, val) if cut is None else cut.when(cond, val)
    cut = (
        F.lit(int(round(default_fraction * BUCKETS)))
        if cut is None
        else cut.otherwise(int(round(default_fraction * BUCKETS)))
    )
    return df.filter(b < cut)


def quota_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Exact-k deterministic sample per stratum — the eval-set builder's
    "exactly k docs per language/source" op (rate-based
    :func:`stratified_sample` can't hit an exact count).

    Rank rows within each stratum by :func:`shard_hash` (id as the
    tie-break: total order, reproducible across runs and engines) and
    keep ``sample_rank <= k``. One window shuffle keyed by the stratum;
    at 100 TB strata are few and large, so the per-stratum sort is the
    cost — but ranking only needs the TOP k per partition, which Spark's
    window TopK (rank-limit pushdown) serves without a full sort when k
    is small. Skewed strata are one key each: the window sort spills, it
    does not OOM."""
    h = shard_hash(id_col, salt)
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def pack_shards(
    df: DataFrame, id_col: str, n_shards: int, salt: str = "", out_col: str = "shard_id"
) -> DataFrame:
    """Assign every row a deterministic shard in [0, n_shards) — the
    export step that turns a prepared corpus into N balanced training
    shards. shard = 60-bit md5 hash of the id mod n_shards, so:

      * shards are hash-balanced (±sqrt noise) at ANY n_shards, not just
        divisors of the bucket resolution;
      * a re-run (or another engine) reproduces the exact same packing —
        shard manifests can be diffed across pipeline versions;
      * assignment is a stateless per-row projection: at 100 TB the only
        cost is the write itself (``partitionBy(out_col)`` or
        ``repartition(n_shards, out_col)`` → one exchange, no driver
        coordination, no sampling pass).
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    return df.withColumn(out_col, shard_hash(id_col, salt) % n_shards)


# Checksum modulus: keeps per-row contributions < 2^17 so a BIGINT sum
# holds ~2^46 rows before overflow — engine-neutral (DuckDB's HUGEINT sum
# is cast back down by the oracle).
CHECKSUM_MOD = 100_003


def shard_manifest(
    sharded: DataFrame,
    id_col: str,
    size_col: str | None = None,
    shard_col: str = "shard_id",
    salt: str = "",
) -> DataFrame:
    """Per-shard manifest: row count, total payload size, and an
    order-independent id checksum (sum of hash mod a prime). The
    manifest is what a training job validates before reading a shard —
    and what makes `pack_shards` auditable: identical manifest ⇒
    identical shard membership with overwhelming probability. One
    map-side-combinable aggregation; output is n_shards rows."""
    aggs = [
        F.count("*").alias("n_rows"),
        F.sum(shard_hash(id_col, salt) % CHECKSUM_MOD).alias("id_checksum"),
    ]
    if size_col is not None:
        aggs.insert(1, F.sum(size_col).alias("total_size"))
    return sharded.groupBy(shard_col).agg(*aggs)


def domain_cap(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    cap: int,
    salt: str = "",
) -> DataFrame:
    """Per-domain document quota (the RefinedWeb / CommonCrawl-curation
    step): keep at most ``cap`` rows per domain, chosen deterministically
    as the first ``cap`` ids in (hash_bucket, id) order — a reproducible
    uniform sample of each domain, not "whatever the scan saw first".

    Semantics (what the oracle replays):
        row_number() OVER (PARTITION BY domain ORDER BY bucket, id) <= cap

    Implementation is NOT that window. A global per-domain row_number
    ranks a hot domain's entire row set in one task — at 100 TB a single
    domain can hold billions of rows and the straggler kills the stage.
    Instead, exact top-``cap`` per key via a bucket histogram:

      1. count rows per (domain, bucket) — map-side-combinable agg whose
         output is ≤ |domains| × 10000 rows regardless of corpus size;
      2. per domain, a running sum over the ≤10000 bucket counts finds
         the boundary bucket where the cumulative count crosses ``cap``
         (tiny window over the aggregated histogram, not the data);
      3. rows in buckets below the boundary are kept outright; rows IN
         the boundary bucket — ~1/10000 of the domain — are ranked by id
         and the remainder of the quota taken from them.

    The only per-row shuffle is the boundary-bucket ranking, whose input
    is 4 orders of magnitude smaller than the domain. Result is exactly
    the window spec above (within one bucket, (bucket, id) order is id
    order)."""
    from pyspark.sql.window import Window

    b = hash_bucket(id_col, salt)
    with_b = df.withColumn("_dc_bucket", b)
    hist = with_b.groupBy(domain_col, "_dc_bucket").agg(F.count("*").alias("_dc_n"))
    wcum = (
        Window.partitionBy(domain_col)
        .orderBy("_dc_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = hist.withColumn("_dc_before", F.coalesce(F.sum("_dc_n").over(wcum), F.lit(0)))
    # keep_all: bucket fully inside the quota; partial: quota boundary
    decisions = hist.select(
        domain_col,
        "_dc_bucket",
        (F.col("_dc_before") + F.col("_dc_n") <= cap).alias("_dc_keep_all"),
        (F.lit(cap) - F.col("_dc_before")).alias("_dc_take"),
    ).filter(F.col("_dc_take") > 0)
    # decisions is domain-proportional (≤ |domains| × boundary buckets) —
    # no forced broadcast; AQE converts when the histogram is actually small.
    # Null-safe on the domain: a NULL domain is one partition under the
    # window spec (and in the histogram groupBy), so it must survive the
    # join too — a plain equi-join would silently drop those rows.
    dec = decisions.withColumnsRenamed(
        {domain_col: "_dc_dom", "_dc_bucket": "_dc_bkt"}
    )
    joined = with_b.join(
        dec,
        F.col(domain_col).eqNullSafe(F.col("_dc_dom"))
        & (F.col("_dc_bucket") == F.col("_dc_bkt")),
        "inner",
    ).drop("_dc_dom", "_dc_bkt")
    full = joined.filter(F.col("_dc_keep_all"))
    boundary = joined.filter(~F.col("_dc_keep_all"))
    wrank = Window.partitionBy(domain_col, "_dc_bucket").orderBy(id_col)
    partial = (
        boundary.withColumn("_dc_rk", F.row_number().over(wrank))
        .filter(F.col("_dc_rk") <= F.col("_dc_take"))
        .drop("_dc_rk")
    )
    drop = ["_dc_bucket", "_dc_keep_all", "_dc_take"]
    return full.drop(*drop).unionByName(partial.drop(*drop))


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shard_col: str = "shard_id",
    out_col: str = "seq_id",
    salt: str = "",
) -> DataFrame:
    """Pack rows into fixed-token-budget training sequences within each
    shard — the data-loader step after dedup/split: a 4096-token training
    window reads one packed sequence instead of seeking per-document.

    Rows are ordered deterministically within their shard by
    (hash_bucket(id), id) and assigned ``seq = cum_tokens_before DIV
    budget`` — the streaming fill: a sequence closes when the running
    token count crosses its bin edge. A document straddling an edge
    stays in the earlier sequence (its overhang shortens the next one),
    so sequence ids are contiguous and every edge is crossed exactly
    once; exact first-fit packing is inherently sequential and buys
    <1 sequence per shard over this.

    Integer division keeps the bin edge exact on every engine (no float
    boundary). The cumulative window runs per shard — ``pack_shards``
    first, and pick n_shards so a shard's row set fits a task; the
    window is then the only shuffle."""
    from pyspark.sql.window import Window

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(hash_bucket(id_col, salt), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return df.withColumn("_ps_cum", cum).withColumn(
        out_col, F.expr(f"_ps_cum div {int(budget)}")
    ).drop("_ps_cum")


def token_stream_chunks(
    df: DataFrame,
    id_col: str,
    token_col: str,
    chunk_tokens: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """Concat-and-chunk packing — the GPT-pretraining loader shape:
    conceptually concatenate every document's tokens in ``id_col`` order
    into one stream and cut it every ``chunk_tokens`` tokens, letting
    documents STRADDLE chunk boundaries (sp6/pack_sequences is the
    doc-preserving alternative; this is the zero-padding one). Returns
    the doc→chunk span map a loader or attention-mask builder needs:
    (id, n_tok, start_off, first_chunk, last_chunk, n_chunks) — all
    exact integers, n_chunks = boundary crossings + 1.

    The global exclusive running sum is NOT a single-task
    ``ORDER BY id`` window: ids bucket by ``id div width`` (width from
    one max-id aggregate, broadcast — monotone, so bucket order IS id
    order), per-bucket token sums prefix-scan on the ≤``n_buckets``-row
    offset table, and the only corpus-sized window runs per bucket —
    global_shuffle's decomposition, keyed by id range instead of hash.
    Dense ids (ingest-minted) give uniform buckets; a sparse or skewed
    id space concentrates buckets — re-mint ids or raise n_buckets.
    Zero-token rows are excluded from the stream (they occupy no
    positions); ids must be non-negative."""
    from pyspark.sql.window import Window

    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    pos = df.select(
        F.col(id_col), F.col(token_col).cast("long").alias("_tc_tok")
    ).filter(F.col("_tc_tok") > 0)
    width = pos.agg(
        ((F.max(id_col) + F.lit(n_buckets)) / F.lit(n_buckets))
        .cast("long")
        .alias("_w")
    )
    b = pos.crossJoin(F.broadcast(width)).withColumn(
        "_b", F.expr(f"{id_col} div _w")
    )
    offsets = (
        b.groupBy("_b")
        .agg(F.sum("_tc_tok").alias("_bsum"))
        .select(
            "_b",
            F.coalesce(
                F.sum("_bsum").over(
                    Window.orderBy("_b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("_off"),
        )
    )
    return _span_map(b, offsets, id_col, chunk_tokens)


def _span_map(
    b: DataFrame, offsets: DataFrame, id_col: str, chunk_tokens: int
) -> DataFrame:
    """Shared tail of token_stream_chunks / token_stream_chunks_from_state:
    given rows (_b, id, _tc_tok) and the exclusive per-bucket offset table
    (_b, _off), derive the exact span map."""
    from pyspark.sql.window import Window

    w_in = (
        Window.partitionBy("_b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("_off") + F.coalesce(F.sum("_tc_tok").over(w_in), F.lit(0))
    out = (
        b.join(F.broadcast(offsets), "_b")
        .withColumn("start_off", start)
        .withColumn("first_chunk", F.expr(f"start_off div {int(chunk_tokens)}"))
        .withColumn(
            "last_chunk",
            F.expr(f"(start_off + _tc_tok - 1) div {int(chunk_tokens)}"),
        )
    )
    return out.select(
        F.col(id_col),
        F.col("_tc_tok").alias("n_tok"),
        "start_off",
        "first_chunk",
        "last_chunk",
        (F.col("last_chunk") - F.col("first_chunk") + F.lit(1)).alias(
            "n_chunks"
        ),
    )


def token_stream_chunks_from_state(
    lake: DataFrame,
    bucket_sums: DataFrame,
    id_col: str,
    token_col: str,
    bucket_col: str,
    chunk_tokens: int,
) -> DataFrame:
    """token_stream_chunks served from persisted state — the incremental
    form: ``lake`` is the ingested doc table carrying a FIXED-width
    bucket column minted at ingest, ``bucket_sums`` the additively
    maintained (bucket, tok_sum) MV (st9's incremental-rollup shape).
    Start offsets depend only on id order — any monotone bucketing
    yields the identical span map — so stream-ingested state reproduces
    the batch operator's output exactly, independent of batch
    boundaries. The prefix scan runs over the ≤|buckets|-row MV; a new
    batch's spans need only its own buckets' lake rows plus the MV."""
    from pyspark.sql.window import Window

    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    b = lake.select(
        F.col(id_col),
        F.col(token_col).cast("long").alias("_tc_tok"),
        F.col(bucket_col).alias("_b"),
    ).filter(F.col("_tc_tok") > 0)
    offsets = bucket_sums.select(
        F.col(bucket_col).alias("_b"),
        F.coalesce(
            F.sum(F.col("tok_sum")).over(
                Window.orderBy(F.col(bucket_col)).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return _span_map(b, offsets, id_col, chunk_tokens)


def balanced_shards(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n_shards: int,
    n_weight_buckets: int = 1024,
    n_id_buckets: int = 64,
) -> DataFrame:
    """Weight-balanced shard assignment for export — the release step
    that writes N output files with near-equal token counts instead of
    equal row counts: rows rank globally by (weight DESC, id ASC) and
    deal out snake-wise (0..N-1, N-1..0, ...), the classic LPT-flavored
    greedy — heaviest docs spread first, each lap reverses so no shard
    systematically gets the lap's heaviest. Max-min shard imbalance is
    bounded by one lap's weight spread; for token-count weights the
    shards land within a fraction of a percent of each other.

    The global rank is NOT a one-task window: rows bucket by
    (EXACT weight DESC, id div Wi ASC) — a key lexicographically
    monotone in the rank order BECAUSE the primary key is the exact
    weight value, so id sub-buckets only ever subdivide TRUE weight
    ties (the r8 bug: keying offsets on a COARSE weight bucket let an
    id sub-bucket reorder two distinct weights sharing a coarse bucket
    — weights 2047/2046 under bucket width >1 swapped shards vs the
    (weight DESC, id ASC) spec). Per-bucket counts prefix-scan on the
    offset table — one row per populated (exact weight, id-bucket)
    pair, bounded by distinct-weight-count × n_id_buckets; for
    token-count weights distinct values ≤ max doc length, so the table
    is MBs, never corpus-sized, and its single-partition prefix window
    is deliberate. The only corpus-sized window runs per (weight,
    id-bucket) group (token_stream_chunks' decomposition), so heavy
    weight-tie blocks — the realistic skew: thousands of docs sharing
    one length — split across id sub-buckets instead of funneling into
    one task. n_weight_buckets is retained for API compatibility and
    ignored (exactness requires the ungrouped weight).
    Weights and ids must be non-negative; ids unique."""
    from pyspark.sql.window import Window

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    base = df.withColumn("_bs_w", F.col(weight_col).cast("long"))
    widths = base.agg(
        ((F.max(id_col) + F.lit(n_id_buckets)) / F.lit(n_id_buckets))
        .cast("long")
        .alias("_wi"),
    )
    b = base.crossJoin(F.broadcast(widths)).withColumn(
        "_bs_ib", F.expr(f"{id_col} div _wi")
    )
    # exclusive prefix in (exact w DESC, ib ASC) order over the pair table
    counts = b.groupBy("_bs_w", "_bs_ib").agg(F.count("*").alias("_c"))
    offsets = counts.select(
        "_bs_w",
        "_bs_ib",
        F.coalesce(
            F.sum("_c").over(
                Window.orderBy(
                    F.col("_bs_w").desc(), F.col("_bs_ib").asc()
                ).rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    # within an exact weight + id sub-bucket, only id ASC remains of the
    # global order
    w_in = Window.partitionBy("_bs_w", "_bs_ib").orderBy(F.col(id_col).asc())
    ranked = (
        b.join(F.broadcast(offsets), ["_bs_w", "_bs_ib"])
        .withColumn("_rk", F.row_number().over(w_in) + F.col("_off") - 1)
    )
    lap = F.expr(f"_rk div {int(n_shards)}")
    pos = F.col("_rk") % n_shards
    shard = F.when(lap % 2 == 0, pos).otherwise(n_shards - 1 - pos)
    return ranked.withColumn("shard_id", shard.cast("long")).drop(
        "_bs_w", "_bs_ib", "_wi", "_off", "_rk"
    )


def mix_sources(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "mix",
    copy_col: str = "copy",
) -> DataFrame:
    """Deterministic source mixing / epoch upsampling — the training-data
    mixture step: each source is sampled at its own rate, where a rate
    ABOVE 1 repeats documents (epochs: 2.5 means every doc twice plus a
    half-chance third copy) and below 1 downsamples.

    Rates quantize to basis points (1/10000), so the math is pure
    integer arithmetic any engine replays exactly: a row emits copies
    0 .. floor(rate) where copy < floor(rate) always survives and the
    one fractional copy survives iff hash_bucket(id, salt) < the
    fractional part in bp. Appending data never changes existing rows'
    copies, and re-runs are identical.

    At 100 TB this is a stateless per-row generate-and-filter (explode
    of a ≤ ceil(rate)-element sequence) — no shuffle, no per-source
    pass, no driver coordination. Pass a non-empty ``salt`` (default
    'mix') so the fractional-copy decision decorrelates from
    assign_split's buckets over the same ids."""
    rate_bp = None
    for name, r in rates.items():
        bp = int(round(r * BUCKETS))
        cond = F.col(domain_col) == name
        rate_bp = F.when(cond, bp) if rate_bp is None else rate_bp.when(cond, bp)
    default_bp = int(round(default_rate * BUCKETS))
    rate_bp = (
        F.lit(default_bp) if rate_bp is None else rate_bp.otherwise(default_bp)
    ).cast("long")
    b = hash_bucket(id_col, salt)
    n_full = (rate_bp / BUCKETS).cast("long")  # floor for non-negative bp
    rem = rate_bp % BUCKETS
    out = df.withColumn("_mx_n", n_full).withColumn("_mx_rem", rem)
    out = out.withColumn(
        copy_col, F.explode(F.sequence(F.lit(0).cast("long"), F.col("_mx_n")))
    )
    return out.filter(
        (F.col(copy_col) < F.col("_mx_n"))
        | ((F.col(copy_col) == F.col("_mx_n")) & (b < F.col("_mx_rem")))
    ).drop("_mx_n", "_mx_rem")


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cutoff,
    gap=0,
) -> DataFrame:
    """Leakage-safe temporal split: rows strictly before ``cutoff`` are
    'train', rows at/after ``cutoff + gap`` are 'test', and rows inside
    the gap get 'holdout_gap' (drop them — they are the leakage buffer
    for features computed over trailing windows: a trailing-N-day
    feature of an early test row would otherwise read train-period
    events, and vice versa).

    ``ts_col``/``cutoff``/``gap`` share whatever numeric time domain the
    caller uses (epoch micros here, matching the events table). A pure
    per-row projection: no shuffle, pushes into the scan, reproducible
    on any engine — the temporal analog of ``assign_split``.
    """
    c = F.col(ts_col)
    return df.withColumn(
        "split",
        F.when(c < F.lit(cutoff), F.lit("train"))
        .when(c >= F.lit(cutoff) + F.lit(gap), F.lit("test"))
        .otherwise(F.lit("holdout_gap")),
    )


def global_shuffle(
    df: DataFrame,
    id_col: str,
    salt: str = "shuffle",
    n_buckets: int = 1024,
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    dense position ``0..n-1`` in md5-randomized order — the "shuffle the
    corpus before epoching" step of a training-data pipeline, reproducible
    across engines and re-runs (same salt → same order; a different salt
    → an independent order).

    The naive expression — ``row_number() OVER (ORDER BY hash)`` — is a
    single-partition window: the WHOLE corpus funnels through one task.
    This computes the identical ranking distributed:

      1. bucket = top ``log2(n_buckets)`` bits of the 60-bit row hash —
         bucket order IS hash order, so ranking decomposes per bucket;
      2. per-bucket counts (tiny agg: ``n_buckets`` rows) → exclusive
         prefix sums on that constant-size table → broadcast back;
      3. ``row_number()`` within each bucket (hash-partitioned window,
         uniformly spread by construction — the hash is uniform) plus
         the bucket's offset.

    One data shuffle (the per-bucket window), one broadcast join; the
    only ordered window runs over the ``n_buckets``-row offset table.
    Ties (hash collisions) break by id, so positions are total and
    deterministic. The same decomposition is how a cluster writes a
    globally sorted corpus (repartitionByRange + sortWithinPartitions);
    here the rank is materialized as a column instead.
    """
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    width = (1 << 60) // n_buckets
    from pyspark.sql.window import Window

    with_h = df.withColumn("_gs_h", shard_hash(id_col, salt)).withColumn(
        "_gs_b", F.expr(f"_gs_h div {width}")
    )
    counts = with_h.groupBy("_gs_b").agg(F.count("*").alias("_c"))
    offsets = counts.select(
        "_gs_b",
        F.coalesce(
            F.sum("_c").over(
                Window.orderBy("_gs_b").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
    )
    w = Window.partitionBy("_gs_b").orderBy("_gs_h", F.col(id_col))
    return (
        with_h.join(F.broadcast(offsets), "_gs_b")
        .withColumn(out_col, F.row_number().over(w) + F.col("_off") - 1)
        .drop("_gs_h", "_gs_b", "_off")
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    band_col: str,
    salt: str = "curriculum",
    n_buckets: int = 1024,
    out_col: str = "curriculum_pos",
) -> DataFrame:
    """Curriculum training order: dense position ``0..n-1`` ordered by
    ascending ``band_col`` (easiest / highest-quality band first), with a
    deterministic salted-hash shuffle WITHIN each band — the "order the
    corpus easy→hard, shuffle within difficulty" step of curriculum
    training, reproducible across engines and re-runs.

    The spec is ``row_number() OVER (ORDER BY band, hash, id)`` — a
    single-partition window at corpus scale. This computes the identical
    ranking distributed with :func:`global_shuffle`'s decomposition, the
    (band, bucket) pair taking the bucket's role: per-(band, bucket)
    counts (a constant-size agg: |bands| x n_buckets rows) → exclusive
    prefix offsets over that tiny table → broadcast back → per-(band,
    bucket) ``row_number`` plus the offset. One data shuffle, one
    broadcast join; the only ordered window runs over the offset table.
    """
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    width = (1 << 60) // n_buckets
    from pyspark.sql.window import Window

    with_h = df.withColumn("_co_h", shard_hash(id_col, salt)).withColumn(
        "_co_b", F.expr(f"_co_h div {width}")
    )
    counts = with_h.groupBy(band_col, "_co_b").agg(F.count("*").alias("_c"))
    offsets = counts.select(
        band_col,
        "_co_b",
        F.coalesce(
            F.sum("_c").over(
                Window.orderBy(band_col, "_co_b").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
    )
    w = Window.partitionBy(band_col, "_co_b").orderBy("_co_h", F.col(id_col))
    return (
        with_h.join(F.broadcast(offsets), [band_col, "_co_b"])
        .withColumn(out_col, F.row_number().over(w) + F.col("_off") - 1)
        .drop("_co_h", "_co_b", "_off")
    )


def length_bucket_batches(
    df: DataFrame,
    id_col: str,
    length_col: str,
    batch_size: int,
    salt: str = "",
) -> DataFrame:
    """Length-bucketed batch assignment — the padding-efficiency batching
    trick: group rows whose lengths share a power-of-two bucket
    (floor(log2(len))), then cut each bucket into fixed-size batches in
    salted-hash order. Batching similar lengths together means a batch
    pads to its max member, wasting O(bucket width) instead of O(corpus
    max); the hash order keeps batches shuffled WITHIN a bucket so
    batch composition is still random, and deterministic across runs.

    Adds (bucket, batch_id, batch_seq). One bucket-keyed window shuffle;
    rank order is totalized by (hash, id) so output is engine- and
    parallelism-independent.

    floor(log2(n)) is computed as length(bin(n)) - 1 — pure integer/
    string ops, identical on every engine; float log2 is within 1 ulp of
    exact at powers of two, where a downward error flips the floor and
    silently moves a row one bucket down on one engine only."""
    blen = F.greatest(F.col(length_col), F.lit(1))
    bucket = (F.length(F.bin(blen)) - 1).cast("long")
    h = shard_hash(id_col, salt)
    out = df.withColumn("bucket", bucket)
    w = Window.partitionBy("bucket").orderBy(h.asc(), F.col(id_col).asc())
    rn = F.row_number().over(w) - 1
    return (
        out.withColumn("batch_id", (rn / batch_size).cast("long"))
        .withColumn("batch_seq", (rn % batch_size).cast("long"))
    )


def temperature_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    total_k: int,
    salt: str = "",
    weight_scale: int = 10**6,
) -> DataFrame:
    """Temperature-based source mixing (alpha = 0.5): per-source sampling
    quotas proportional to n_s^alpha — the multilingual/multi-source
    rebalancing scheme (XLM-R-style alpha-sampling) that up-weights small
    sources relative to raw-proportional mixing without the fixed
    per-source rates of ``source_mix``.

    Engine-exact by construction: alpha is FIXED at 0.5 because IEEE
    sqrt is correctly rounded on every engine while pow(x, alpha) is
    not; the weight is then floor(sqrt(n)·scale) — an integer — and the
    quota split runs entirely in integer arithmetic (largest-remainder
    apportionment, ties broken by source name), so two engines cannot
    disagree by an ulp. Within each source, docs rank by the salted
    60-bit hash (:func:`shard_hash`) with id tie-break. A source with
    fewer docs than its quota contributes all of them (the realized
    total can then undershoot ``total_k``; quotas are targets, not
    padding).

    Plan: two tiny aggs over the source-count table (bounded by the
    source cardinality, broadcast back), then ONE source-keyed window
    shuffle over the corpus — the same shape as quota_sample.

    Returns (id, source, mix_rank, quota) with mix_rank <= quota.
    """
    counts = df.groupBy(source_col).agg(F.count("*").alias("_n"))
    w = counts.select(
        source_col,
        F.floor(F.sqrt(F.col("_n")) * weight_scale).cast("long").alias("_w"),
    )
    tot = w.agg(F.sum("_w").alias("_tw"))
    q0 = w.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.expr(f"_w * {total_k} div _tw").alias("_base"),
        F.expr(f"(_w * {total_k}) % _tw").alias("_rem"),
    )
    sb = q0.agg(F.sum("_base").alias("_sb"))
    rr = Window.orderBy(F.col("_rem").desc(), F.col(source_col).asc())
    quota = (
        q0.crossJoin(F.broadcast(sb))
        .withColumn("_rr", F.row_number().over(rr))
        .select(
            source_col,
            (
                F.col("_base")
                + F.when(F.col("_rr") <= total_k - F.col("_sb"), 1).otherwise(0)
            ).alias("quota"),
        )
    )
    h = shard_hash(id_col, salt)
    wnd = Window.partitionBy(source_col).orderBy(h.asc(), F.col(id_col).asc())
    ranked = df.select(id_col, source_col).withColumn(
        "mix_rank", F.row_number().over(wnd).cast("long")
    )
    return ranked.join(F.broadcast(quota), source_col).filter(
        F.col("mix_rank") <= F.col("quota")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "",
    out_col: str = "split",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: every connected component of the duplicate-pair graph moves
    as ONE unit. Plain per-id splitting (sp1) puts a document and its
    near-copy in different splits with probability ~2·p_val — exactly the
    train→test contamination a dedup pass exists to prevent; splitting by
    cluster REPRESENTATIVE closes that hole while leaving every
    un-clustered document's assignment byte-identical to
    :func:`assign_split` (the representative of a singleton is itself).

    The representative is the component's min id (the fixpoint
    ``operators.dedup.connected_components`` computes); rows absent from
    the pair graph — the overwhelming majority of any deduplicated
    corpus — represent themselves via ``coalesce``. Both then flow
    through the same :func:`hash_bucket` recipe as sp1, so split
    fractions still converge to ``weights`` over representatives.

    Scale shape: the label table is bounded by the NODES of the pair
    graph (orders of magnitude smaller than the corpus after banded
    candidate generation), so the left join broadcasts under AQE; the
    assignment itself stays a pure per-row expression. Adds columns
    ``rep``, ``bucket`` and ``out_col``.
    """
    from mrf_etl_spark.operators.dedup import connected_components

    cc = connected_components(pairs, a_col, b_col)
    labels = cc.select(
        F.col("doc_id").alias("_ls_id"), F.col("component_id").alias("_ls_rep")
    )
    out = (
        df.join(labels, F.col(id_col) == F.col("_ls_id"), "left")
        .drop("_ls_id")
        # no cast: component ids come from the same id domain as df's, so
        # coalesce unifies naturally — a forced cast("long") would NULL
        # every string id (URL/hash corpora) and silently dump the whole
        # corpus into the last split via hash_bucket(NULL)
        .withColumn("rep", F.coalesce(F.col("_ls_rep"), F.col(id_col)))
        .drop("_ls_rep")
    )
    out = assign_split(out, "rep", weights, salt, out_col)
    return out.withColumn("bucket", hash_bucket("rep", salt))


def mixture_solver(
    docs: DataFrame,
    targets: dict[str, int],
    budget_tokens: int | None,
    domain_col: str = "source",
    text_col: str = "text",
    default_bp: int = 0,
    token_col: str | None = None,
) -> DataFrame:
    """Mixture-rate solver (sp23) — compute the per-domain epoch rates
    that realize a TARGET token mixture under a token budget: the
    planning step every training-mix spec (The Pile / Dolma / RedPajama
    weights tables) needs before :func:`mix_sources` can apply it.
    ``targets`` maps domain → target share in basis points (1/10000);
    domains not named get ``default_bp``. ``budget_tokens=None`` means
    CORPUS-PROPORTIONAL: the budget is the corpus's total token count
    (one epoch-equivalent), so the plan scales with the data instead of
    flooring every rate to 0 once the corpus outgrows a fixed literal.

    All-integer arithmetic so the plan replays exactly and never
    drifts from what mix_sources executes: per domain,

        planned  = budget_tokens · target_bp div 10000
        rate_bp  = planned · 10000 div tokens_d      (floor)
        realized = tokens_d · rate_bp div 10000

    rate_bp > 10000 means epochs (the domain repeats — mix_sources'
    rate > 1 path); < 10000 downsamples. The floor keeps realized ≤
    planned, so a mix never overshoots its budget.

    A domain NAMED in ``targets`` but absent from the corpus still gets
    a row (tokens=0, rate_bp=0, planned_tokens=0): its planned share is
    unrealizable and the mix under-fills the budget — the solver must
    say so, not silently drop the row (the signal a mix reviewer needs
    to re-weight the remaining domains).

    Scale shape: ONE map-side-combinable token-count agg over the
    corpus (whitespace tokens, t3's recipe), then pure projection on
    the |domains|-row table — the solver itself is O(domains), the
    corpus is read once. Returns (domain, tokens, target_bp, rate_bp,
    planned_tokens) per domain.
    """
    from mrf_etl_spark.operators.textops import token_count_ws

    # token_col: a PRE-COMPUTED per-doc token count (pipe8 persists a
    # slim gated frame and tokenizes once instead of once per pass)
    tk = (
        F.col(token_col).cast("long")
        if token_col is not None
        else token_count_ws(text_col).cast("long")
    )
    per_doc = docs.select(F.col(domain_col).alias("domain"), tk.alias("_tk"))
    if targets:
        # seed one zero-token row per TARGETED domain before the agg, so
        # a domain named in targets but absent from the corpus still
        # groups out (tokens=0 → rate_bp=0) instead of vanishing — a
        # local-relation union, the single combinable agg stays the only
        # exchange
        seed = docs.sparkSession.createDataFrame(
            [(str(k), 0) for k in targets], "domain string, _tk long"
        )
        per_doc = per_doc.unionByName(seed)
    tok = per_doc.groupBy("domain").agg(F.sum("_tk").alias("tokens"))
    tbp = None
    for name, bp in targets.items():
        cond = F.col("domain") == name
        tbp = F.when(cond, int(bp)) if tbp is None else tbp.when(cond, int(bp))
    tbp = (
        F.lit(int(default_bp)) if tbp is None else tbp.otherwise(int(default_bp))
    ).cast("long")
    out = tok.withColumn("target_bp", tbp)
    if budget_tokens is None:
        # corpus-proportional budget: total corpus tokens (ONE
        # epoch-equivalent), so the solver stays meaningful at any
        # scale — a FIXED literal budget shrinks toward rate 0 as the
        # corpus grows (at 100× fixture scale every domain's integer
        # rate floored to 0 and the manifest emptied, SCALE.md r11).
        # The total attaches as a sum() OVER () window on the
        # |domains|-row aggregated table (r12, sp27's §3 linearization:
        # one single-partition exchange of a KiB frame BY DESIGN) — the
        # previous crossJoin(broadcast(tok.agg(...))) referenced the
        # token-agg subtree TWICE, so every caller re-scanned and
        # re-tokenized the corpus a second time per pass (the pipe7
        # watch-list regression, adjudicated REAL this round:
        # 1.07 -> 1.33 s at sf0.1).
        from pyspark.sql.window import Window

        out = out.withColumn(
            "_budget", F.sum("tokens").over(Window.partitionBy())
        )
        budget_sql = "CAST(_budget AS BIGINT)"
    else:
        budget_sql = f"CAST({int(budget_tokens)} AS BIGINT)"
    out = out.withColumn(
        "rate_bp",
        F.expr(
            f"CASE WHEN tokens > 0 THEN "
            f"(({budget_sql} * target_bp) div 10000) * 10000 div tokens "
            f"ELSE CAST(0 AS BIGINT) END"
        ),
    ).drop("_budget")
    return out.withColumn(
        "planned_tokens", F.expr("tokens * rate_bp div 10000")
    ).select("domain", "tokens", "target_bp", "rate_bp", "planned_tokens")


def weighted_mixture_solver(
    docs: DataFrame,
    weights: DataFrame,
    targets: dict[str, int],
    budget_tokens: int | None,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    default_bp: int = 0,
) -> DataFrame:
    """Dedup-aware mixture solver (sp25) — :func:`mixture_solver` with
    each document's token mass discounted by its soft-dedup weight
    (d11's 1/cluster_size: a passage duplicated N times contributes one
    document's training mass), so the solved epoch rates realize the
    target mixture over EFFECTIVE tokens, not raw ones. Without the
    discount, a domain whose volume is mostly near-duplicate boilerplate
    gets under-repeated: the solver sees inflated supply and assigns too
    low a rate for the unique content actually there.

    INTEGER-EXACT despite the fractional weights: per doc,
    ``eff_bp = tokens · 10000 div cluster_size`` (token basis points) —
    an integer, so the per-domain sum is order-invariant and both
    engines replay it bit-for-bit; the solver then runs in the scaled
    basis: ``rate_bp = planned · 10^8 div eff_tokens_bp`` and
    ``planned_tokens = eff_tokens_bp · rate_bp div 10^8``. Valid domain:
    ``planned · 10^8 < 2^63`` (budgets to ~9e10 tokens; pre-scale to
    kilotokens beyond — the w21 discipline).

    ``weights`` carries (id, cluster_size) — docs absent from it are
    singletons (size 1). Targeted-but-absent domains still emit a row
    (mixture_solver's seeded-agg rule). Scale shape: the weight join is
    id-keyed, the count agg is map-side combinable, the solver is
    O(domains). Returns (domain, eff_tokens_bp, target_bp, rate_bp,
    planned_tokens)."""
    from mrf_etl_spark.operators.textops import token_count_ws

    w = weights.select(
        F.col(id_col).alias("_wm_id"),
        F.col("cluster_size").cast("long").alias("_wm_size"),
    )
    per_doc = (
        docs.select(
            F.col(id_col),
            F.col(domain_col).alias("domain"),
            token_count_ws(text_col).cast("long").alias("_tk"),
        )
        .join(w, F.col(id_col) == F.col("_wm_id"), "left")
        .select(
            "domain",
            F.expr(
                "_tk * 10000 div coalesce(_wm_size, CAST(1 AS BIGINT))"
            ).alias("_eff"),
        )
    )
    if targets:
        seed = docs.sparkSession.createDataFrame(
            [(str(k), 0) for k in targets], "domain string, _eff long"
        )
        per_doc = per_doc.unionByName(seed)
    tok = per_doc.groupBy("domain").agg(F.sum("_eff").alias("eff_tokens_bp"))
    tbp = None
    for name, bp in targets.items():
        cond = F.col("domain") == name
        tbp = F.when(cond, int(bp)) if tbp is None else tbp.when(cond, int(bp))
    tbp = (
        F.lit(int(default_bp)) if tbp is None else tbp.otherwise(int(default_bp))
    ).cast("long")
    out = tok.withColumn("target_bp", tbp)
    if budget_tokens is None:
        # corpus-proportional: one EFFECTIVE-epoch equivalent (total
        # effective tokens), same rationale as mixture_solver's None
        # mode — a fixed literal budget floors every rate to 0 once the
        # corpus outgrows it. sum() OVER () on the |domains|-row table
        # (r12, the same §3 linearization as mixture_solver): the
        # crossJoin form re-executed the weight-join + tokenize subtree
        # a second time per reference.
        from pyspark.sql.window import Window

        out = out.withColumn(
            "_budget_bp", F.sum("eff_tokens_bp").over(Window.partitionBy())
        )
        budget_sql = "(CAST(_budget_bp AS BIGINT) div 10000)"
    else:
        budget_sql = f"CAST({int(budget_tokens)} AS BIGINT)"
    out = out.withColumn(
        "rate_bp",
        F.expr(
            f"CASE WHEN eff_tokens_bp > 0 THEN "
            f"(({budget_sql} * target_bp) div 10000) "
            f"* 100000000 div eff_tokens_bp "
            f"ELSE CAST(0 AS BIGINT) END"
        ),
    ).drop("_budget_bp")
    return out.withColumn(
        "planned_tokens", F.expr("eff_tokens_bp * rate_bp div 100000000")
    ).select(
        "domain", "eff_tokens_bp", "target_bp", "rate_bp", "planned_tokens"
    )


def training_order(
    docs: DataFrame,
    targets: dict[str, int],
    budget_tokens: int | None,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "order",
    max_epochs: int = 1 << 20,
    token_col: str | None = None,
) -> DataFrame:
    """End-to-end training-order manifest (pipe7) — the dataloader's
    input, produced in ONE plan from a mixture spec: solve the
    per-domain epoch rates from the target shares and token budget
    (:func:`mixture_solver`), apply them as deterministic
    epoch/downsample copies (:func:`mix_sources`' integer recipe, with
    the rates JOINED from the solved table instead of a literal dict),
    and rank every surviving (doc, copy) into a dense global shuffle
    order (:func:`global_shuffle`'s distributed decomposition — never a
    corpus-wide single-partition window).

    The composite row id is ``doc_id · max_epochs + copy`` (distinct as
    long as rate_bp < max_epochs·10000 — far beyond any real epoch
    count), so the shuffle position is a pure function of (doc, copy,
    salt): re-runs are identical, appending a NEW mixture spec is a new
    salt, and any engine can replay the exact order.

    Scale shape: one token-count agg (the solver), the |domains|-row
    rate table broadcast onto the corpus scan, a stateless per-row
    explode (≤ ceil(rate) copies), then global_shuffle's one data
    shuffle + constant-size offset broadcast. The corpus is read once
    and shuffled once.

    Returns (doc_id, domain, copy, order_pos): one row per training
    example, order_pos dense 0..n-1.
    """
    rates = mixture_solver(
        docs, targets, budget_tokens, domain_col, text_col,
        token_col=token_col,
    )
    return _rates_to_order(docs, rates, domain_col, id_col, salt, max_epochs)


def _rates_to_order(
    docs: DataFrame,
    rates: DataFrame,
    domain_col: str,
    id_col: str,
    salt: str,
    max_epochs: int,
) -> DataFrame:
    """Shared tail of pipe7/pipe10: apply a solved (domain, rate_bp)
    table as deterministic integer epoch/downsample copies and rank
    every surviving (doc, copy) with global_shuffle's decomposition."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(domain_col).alias("domain")
    ).join(F.broadcast(rates.select("domain", "rate_bp")), "domain")
    b = shard_hash("doc_id", salt) % BUCKETS
    expl = (
        d.withColumn("_n", F.expr("rate_bp div 10000"))
        .withColumn("_r", F.expr("rate_bp % 10000"))
        .select(
            "doc_id",
            "domain",
            "_n",
            "_r",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("_n"))
            ).alias("copy"),
        )
    )
    kept = expl.filter(
        (F.col("copy") < F.col("_n"))
        | ((F.col("copy") == F.col("_n")) & (b < F.col("_r")))
    ).drop("_n", "_r")
    mixed = kept.withColumn(
        "_mid", F.col("doc_id") * F.lit(int(max_epochs)) + F.col("copy")
    )
    ranked = global_shuffle(mixed, "_mid", salt=f"{salt}-pos", out_col="order_pos")
    return ranked.select(
        "doc_id", "domain", "copy", F.col("order_pos").cast("long").alias("order_pos")
    )


def capped_training_order(
    docs: DataFrame,
    targets: dict[str, int],
    budget_tokens: int | None = None,
    budget_x_milli: int = 3000,
    max_data_epochs: int = 4,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "capped-order",
    n_rounds: int = 3,
    default_bp: int = 0,
    token_col: str | None = None,
) -> DataFrame:
    """Data-constrained training-order manifest (pipe10) — pipe7's
    dataloader manifest with the epoch rates solved by
    :func:`repetition_schedule` instead of :func:`mixture_solver`: the
    budget may exceed supply, domains repeat at most
    ``max_data_epochs`` epochs, and the excess water-fills across
    domains before a single copy is emitted — the manifest a
    data-constrained run (Muennighoff et al. NeurIPS'23) actually
    trains on. The realized rate per domain is
    ``alloc_tokens · 10000 div tokens`` (ceiling-clamped by
    construction, so no domain's copy explode exceeds
    ``max_data_epochs + 1`` rows per doc), applied through the exact
    pipe7 tail: deterministic integer copies, then the distributed
    global-shuffle rank — corpus read once (the solver's persisted
    token agg) plus once for the copy explode, shuffled once.

    Returns (doc_id, domain, copy, order_pos), order_pos dense 0..n-1.
    """
    sched = repetition_schedule(
        docs, targets, budget_tokens, budget_x_milli, max_data_epochs,
        domain_col, text_col, n_rounds, default_bp, token_col,
    )
    rates = sched.select(
        "domain",
        F.expr(
            "CASE WHEN tokens > 0 THEN alloc_tokens * 10000 div tokens "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("rate_bp"),
    )
    return _rates_to_order(docs, rates, domain_col, id_col, salt, 1 << 20)


def repetition_schedule(
    docs: DataFrame,
    targets: dict[str, int],
    budget_tokens: int | None = None,
    budget_x_milli: int = 3000,
    max_epochs: int = 4,
    domain_col: str = "source",
    text_col: str = "text",
    n_rounds: int = 3,
    default_bp: int = 0,
    token_col: str | None = None,
) -> DataFrame:
    """Data-constrained repetition schedule (sp27) — allocate a training
    token budget across domains when the budget EXCEEDS some domains'
    supply: the Muennighoff et al. NeurIPS'23 regime ("Scaling
    Data-Constrained Language Models": repeating data holds value for
    ~4 epochs, then returns collapse), which every over-trained model's
    data plan now hits. :func:`mixture_solver` (sp23) plans a mixture
    UNDER supply; this plans one BEYOND it:

      1. per-domain supply (one combinable token-count agg, sp23's
         seeded recipe — targeted-but-absent domains keep their row);
      2. initial ask per domain = budget · target_bp div share_base,
         where share_base = greatest(10000, Σ effective target_bp) — the
         plain 10000-bp division for any valid share spec, scaled down
         proportionally when the effective shares over-specify the base
         (so Σ asks ≤ budget holds for ANY input, not just Σbp ≤ 10000);
      3. asks above the repetition ceiling ``cap = supply · max_epochs``
         are clamped and the excess WATER-FILLS back onto domains with
         headroom, proportional to their target shares — ``n_rounds``
         clamp-redistribute rounds unrolled (each round resolves one
         cascade of newly-capped domains; budget left after the last
         round is REPORTED, never silently dropped);
      4. final allocations clamp to the ceiling once more, so no row
         ever claims more than ``max_epochs`` epochs.

    All-integer (floor divisions, positive operands — Spark ``div`` and
    DuckDB ``//`` agree), so the schedule replays exactly. The budget is
    a literal ``budget_tokens``, or corpus-proportional when None:
    ``total_supply · budget_x_milli div 1000`` (default 3x — one
    over-trained pass), computed as a ``sum OVER ()`` window scalar.

    Scale shape: the corpus is read ONCE (the token agg); every round is
    pure projection + two ``OVER ()`` window scalars over the KiB
    |domains|-row table, all riding ONE single-partition exchange — the
    plan is linear in ``n_rounds`` (the r11 fix: the previous
    crossJoin-per-scalar shape doubled the plan every round and driver
    planning dominated the query). Returns one row per domain:
    (domain, tokens, target_bp, alloc_tokens, epochs_milli, capped,
    unalloc_tokens) — ``epochs_milli`` = allocated epochs x1000 (<=
    max_epochs·1000 by construction), ``unalloc_tokens`` the budget the
    cap structure made unspendable (same value on every row: the
    re-weighting signal a mix reviewer acts on).
    """
    from mrf_etl_spark.operators.textops import token_count_ws

    tk = (
        F.col(token_col).cast("long")
        if token_col is not None
        else token_count_ws(text_col).cast("long")
    )
    per_doc = docs.select(F.col(domain_col).alias("domain"), tk.alias("_tk"))
    if targets:
        seed = docs.sparkSession.createDataFrame(
            [(str(k), 0) for k in targets], "domain string, _tk long"
        )
        per_doc = per_doc.unionByName(seed)
    tok = per_doc.groupBy("domain").agg(F.sum("_tk").alias("tokens"))
    tbp = None
    for name, bp in targets.items():
        cond = F.col("domain") == name
        tbp = F.when(cond, int(bp)) if tbp is None else tbp.when(cond, int(bp))
    tbp = (
        F.lit(int(default_bp)) if tbp is None else tbp.otherwise(int(default_bp))
    ).cast("long")
    base = tok.withColumn("target_bp", tbp).withColumn(
        "cap", F.col("tokens") * F.lit(int(max_epochs)).cast("long")
    )
    # Initial asks divide the budget by target SHARES. The share base is
    # 10000 bp; when the caller's effective shares sum beyond it (possible
    # with many defaulted domains, or over-specified targets), dividing by
    # the literal 10000 would hand out more than the budget in aggregate —
    # the sum of floor(budget·bp/10000) is only bounded by budget when
    # Σbp ≤ 10000. Use greatest(10000, Σbp) so valid share specs are
    # untouched (the division is bit-identical) and over-specified ones
    # scale down proportionally, keeping Σalloc ≤ budget for ANY input
    # (each water-fill round then conserves: Σ floor(excess·bp/hb) ≤
    # excess, and the final clamp only reduces).
    #
    # Every solver scalar (_sbp, the corpus-proportional budget, each
    # round's excess/headroom, the final spent) is a ``sum(...) OVER ()``
    # window over the |domains|-row table — single-partition BY DESIGN on
    # a KiB frame (the sp21 precedent). The previous shape attached each
    # scalar via crossJoin(broadcast(st.agg(...))), referencing the
    # whole solver subtree TWICE per round: plan size grew 2^rounds
    # (sp27's pre-AQE string printed 95 Exchanges, pipe10's 195) and
    # driver planning time dominated the query (guide §7.3). The window
    # chain is linear in rounds and establishes the single-partition
    # exchange ONCE; values are identical (same long sums over the same
    # rows), so the unchanged oracle replays exactly.
    st = base.withColumn(
        "_sbp",
        F.expr("greatest(CAST(10000 AS BIGINT), sum(target_bp) OVER ())"),
    )
    if budget_tokens is None:
        st = st.withColumn(
            "_budget",
            F.expr(
                f"CAST(sum(tokens) OVER () * {int(budget_x_milli)} "
                "div 1000 AS BIGINT)"
            ),
        )
    else:
        st = st.withColumn("_budget", F.lit(int(budget_tokens)).cast("long"))
    st = st.withColumn("alloc", F.expr("_budget * target_bp div _sbp"))
    for _ in range(n_rounds):
        st = (
            st.withColumn("fixed", F.least("alloc", "cap"))
            .withColumn("over", F.col("alloc") - F.least("alloc", "cap"))
            .withColumn("_excess", F.expr("sum(over) OVER ()"))
            .withColumn(
                "_hb",
                F.expr(
                    "sum(CASE WHEN fixed < cap THEN target_bp "
                    "ELSE CAST(0 AS BIGINT) END) OVER ()"
                ),
            )
            .withColumn(
                "alloc",
                F.expr(
                    "fixed + CASE WHEN _hb > 0 AND fixed < cap "
                    "THEN _excess * target_bp div _hb "
                    "ELSE CAST(0 AS BIGINT) END"
                ),
            )
            .drop("fixed", "over", "_excess", "_hb")
        )
    st = st.withColumn("alloc_tokens", F.least("alloc", "cap"))
    return (
        st.withColumn("_spent", F.expr("sum(alloc_tokens) OVER ()"))
        .select(
            "domain",
            "tokens",
            "target_bp",
            "alloc_tokens",
            F.expr(
                "CASE WHEN tokens > 0 THEN alloc_tokens * 1000 div tokens "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("epochs_milli"),
            (
                (F.col("tokens") > 0) & (F.col("alloc_tokens") == F.col("cap"))
            ).alias("capped"),
            F.expr("_budget - _spent").alias("unalloc_tokens"),
        )
    )

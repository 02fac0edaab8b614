"""Similarity search over an embedding column (array<float>).

Two paths:
  cosine_topk        — brute-force exact top-k: query×corpus join with a
                       JVM-native unrolled dot product, ranked by window.
                       The correctness baseline; at scale use for small
                       query batches (cost |Q|×|N|×dim, all codegen, no
                       Python).
  ivf_topk           — IVF-style two-stage ANN: coarse centroids → assign
                       corpus vectors to nearest centroid (one pass) →
                       probe only the nprobe nearest centroid buckets per
                       query. At 100 TB the corpus is bucketed/partitioned
                       by centroid id, so a query touches nprobe partitions
                       instead of the full corpus.

Float discipline: embeddings cast to double FIRST, then an explicitly
left-associative sum (fold or unrolled — both the same op order as the
generated SQL mirror), so cosine values are bit-identical across engines
(no parallel-reduction nondeterminism). Norms are staged as per-row
columns on each join side; only the dot is evaluated per pair.
"""

from __future__ import annotations

import itertools
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mrf_etl_spark import state


def dot_fold(a: str | Column, b: str | Column) -> Column:
    """Left-associative fold dot product via zip_with+aggregate, over
    column names or column expressions (struct fields, slices).

    Bit-identical to the unrolled ``a[0]*b[0] + a[1]*b[1] + …`` SQL sum
    (the 0.0 seed is exact under IEEE addition), but the expression tree
    is O(1) in dim instead of O(dim): at dim=64 the unrolled form's
    generated method exceeds the JIT's method-size limit and runs
    interpreted, measured 3x slower (n6 at sf1: 24 s fold vs 74 s)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_fold(a: str) -> Column:
    return F.sqrt(dot_fold(a, a))


def cosine_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    query_filter: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding self).

    Returns (query_id, neighbor_id, cosine, rank). Ties broken by
    neighbor_id ASC for determinism."""
    q = emb.filter(query_filter) if query_filter is not None else emb
    # norms staged ONCE per row on each side — the per-pair expression is
    # just the dot; the naive form recomputed both norms per pair
    q = q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).withColumn(
        "qn", norm_fold("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")).withColumn(
        "cn", norm_fold("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _with_centroid(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach each vector's nearest-centroid id (cosine, ties → lowest
    cid) as a ``cid`` column — a pure MAP-SIDE per-row array-fold argmin
    against a 1-row broadcast of the codebook (r11, guide §2.4): zero
    corpus shuffles, and consumers that previously joined
    :func:`assign_centroids`' (id, cid) output back onto the corpus by
    id read the column directly instead (join eliminated).

    The argmin replicates the old agg's `ORDER BY cos DESC, cid ASC`
    ordering exactly, including the NULL/NaN priority rank (NaN(0) <
    real(1) < NULL(2)) — `array_min` and `min(struct)` share the same
    total struct order, and every cosine is the same dot_fold tree over
    the same operands, so assignments are bit-identical. Empty codebook
    degenerates to no output rows (the old agg-over-empty-crossJoin
    result). Keeps every column of ``emb`` and adds ``cid``."""
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    c = centroids.select(F.col("cid"), F.col("cvec")).withColumn(
        "_cnorm", norm_fold("cvec")
    )
    arr = c.agg(F.collect_list(F.struct("cid", "cvec", "_cnorm")).alias("_cents"))
    # the corpus×centroid fold fan-out is map-side CPU: widen a narrow
    # scan so it doesn't run on 1-2 cores (r11 sf10 straggler class;
    # no-op at real scale or on already-derived inputs)
    rows = widen_narrow_input(emb).withColumn(
        "_vnorm", norm_fold(vec_col)
    ).crossJoin(F.broadcast(arr))
    scored = F.transform(
        F.col("_cents"),
        lambda cc: F.struct(
            (
                dot_fold(F.col(vec_col), cc["cvec"])
                / (F.col("_vnorm") * cc["_cnorm"])
            ).alias("cos"),
            cc["cid"].alias("cid"),
        ),
    )

    def _key(s: Column) -> Column:
        rk = (
            F.when(s["cos"].isNull(), F.lit(2))
            .when(F.isnan(s["cos"]), F.lit(0))
            .otherwise(F.lit(1))
        )
        neg = F.when(rk == F.lit(1), -s["cos"]).otherwise(F.lit(0.0))
        return F.struct(rk.alias("rk"), neg.alias("neg"), s["cid"].alias("cid"))

    return _pushdown_barrier(
        rows.filter(F.size(F.col("_cents")) > 0)
        .withColumn("cid", F.array_min(F.transform(scored, _key))["cid"])
        .drop("_vnorm", "_cents")
    )


def assign_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (ties → lowest
    centroid id). Output (vec_id, centroid_id) — at scale, write the corpus
    bucketed by centroid_id so probes prune partitions.

    Since r11 this is :func:`_with_centroid`'s map-side per-row argmin
    projected to (id, cid) — ZERO shuffles (the previous
    aggregation-based argmax paid one corpus exchange of N structs; the
    per-row fold pays none, and a downstream groupBy("cid") now
    map-side-combines to |codebook| rows per task). The dot stays
    dot_fold — the 64-term unrolled form was MEASURED 3x slower (JIT
    method-size limits, see dot_fold's docstring)."""
    return _with_centroid(
        emb.select(F.col(id_col), F.col(vec_col)), centroids, id_col, vec_col
    ).select(F.col(id_col), "cid")


def ivf_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroid_mod: int = 97,
    nprobe: int = 2,
    query_filter: Column | None = None,
    k: int = 5,
    candidate_filter: Column | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed ANN: deterministic seed centroids (vec_id % mod == 0 —
    a stand-in for k-means; the bucketing mechanics are identical), corpus
    assigned once, queries probe their nprobe nearest buckets only.

    ``centroids`` (optional): a TRAINED codebook as (cid, cvec) — e.g.
    ``kmeans_codebook``'s output re-assembled to arrays — replaces the
    modulo seeds; cosine is scale-invariant, so int8 codebook vectors
    work unchanged (every dot casts through double).

    ``candidate_filter`` (n9): METADATA-FILTERED vector search — the
    production ask every vector store fields ("nearest neighbors among
    docs with license X"). Semantics are PRE-filter: the predicate
    restricts the candidate set inside the probed buckets BEFORE
    ranking, so the top-k is over matching vectors only (post-filtering
    a top-k underfills whenever matches are sparse). The index is never
    rebuilt per predicate — assignment stays corpus-wide; on the
    persisted layout the predicate pushes down into the partition-pruned
    scan. Recall caveat: a highly selective filter can underfill the
    probed buckets below k — raise ``nprobe``, exactly as production
    systems over-probe under filters.

    Returns (query_id, neighbor_id, cosine, rank) — approximate: recall
    measured against cosine_topk in tests."""
    cent = (
        centroids
        if centroids is not None
        else emb.filter((F.col(id_col) % centroid_mod) == 0).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
    )
    cand = emb.filter(candidate_filter) if candidate_filter is not None else emb
    # cid attaches map-side (r11): the former assign_centroids output was
    # joined back onto the corpus by id — same values, one exchange and
    # one join fewer
    corpus = (
        _with_centroid(cand.select(F.col(id_col), F.col(vec_col)), cent,
                       id_col, vec_col)
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cid")
        .withColumn("cn", norm_fold("cv"))
    )

    q = emb.filter(query_filter) if query_filter is not None else emb
    q = q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).withColumn(
        "qn", norm_fold("qv")
    )
    qprobe = q.crossJoin(F.broadcast(cent.withColumn("_cnorm", norm_fold("cvec")))).withColumn(
        "cos_c", dot_fold("qv", "cvec") / (F.col("qn") * F.col("_cnorm"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cos_c").desc(), F.col("cid").asc())
    probes = (
        qprobe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", "cid")
    )

    scored = (
        corpus.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def assign_topn_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 2,
) -> DataFrame:
    """Assign each vector to its ``n`` nearest centroids by cosine
    (ordered by cosine DESC, cid ASC). Output (vec_id, cid), ≤ n rows per
    vector.

    Per-row array top-n (r11, guide §2.4): the codebook collapses to a
    1-row broadcast of arrays and each vector sorts/slices its own
    score array MAP-SIDE — ZERO shuffles (the previous agg shape paid
    one corpus exchange of N×n structs). Sort key is (-cosine, cid):
    IEEE negation is exact, so the order matches `ORDER BY cosine DESC,
    cid ASC` replayed in SQL, and `array_sort` orders structs exactly
    as the former array_sort(collect_list(...)) did."""
    return _with_topn_centroids(
        emb.select(F.col(id_col), F.col(vec_col)), centroids,
        id_col, vec_col, n,
    ).select(F.col(id_col), "cid")


def _with_topn_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
) -> DataFrame:
    """:func:`assign_topn_centroids`'s map-side kernel, keeping every
    ``emb`` column: each input row explodes to ≤ n rows carrying its
    top-n centroid ids as ``cid`` — consumers that joined the (id, cid)
    output back onto the corpus read the column directly instead."""
    c = centroids.select("cid", "cvec").withColumn("_cnorm", norm_fold("cvec"))
    arr = c.agg(F.collect_list(F.struct("cid", "cvec", "_cnorm")).alias("_cents"))
    rows = emb.withColumn("_vnorm", norm_fold(vec_col)).crossJoin(
        F.broadcast(arr)
    )
    scored = F.transform(
        F.col("_cents"),
        lambda cc: F.struct(
            (
                -(
                    dot_fold(F.col(vec_col), cc["cvec"])
                    / (F.col("_vnorm") * cc["_cnorm"])
                )
            ).alias("neg"),
            cc["cid"].alias("cid"),
        ),
    )
    top = F.slice(F.array_sort(scored), 1, n)
    return _pushdown_barrier(
        rows.filter(F.size(F.col("_cents")) > 0)
        .withColumn("cid", F.explode(top.getField("cid")))
        .drop("_vnorm", "_cents")
    )


def embedding_near_dup_bucketed(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroid_mod: int = 97,
    nassign: int = 2,
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding near-dup pairs via IVF bucket pruning — the scale path.

    Each vector lands in its ``nassign`` nearest centroid buckets; pairs
    are generated ONLY inside a shared bucket (a near-identical pair
    almost surely shares its nearest centroid; nassign=2 also catches
    boundary-straddling pairs — recall vs the exact all-pairs form is
    measured in tests). The join shuffles on cid, so at 100 TB the cost
    is Σ_bucket |bucket|² instead of N²; pair work parallelizes across
    buckets. Skewed/hot buckets (degenerate centroids) re-split by
    raising centroid_mod — bucket sizes should target ~√(pairs budget).

    Deterministic end-to-end (seed centroids = id % centroid_mod == 0,
    ties by cid), so a SQL oracle replays the exact cascade. A pair
    sharing both buckets is scored twice with bit-identical cosine —
    the final distinct() collapses it. Returns (doc_a, doc_b, cosine)."""
    from pyspark.storagelevel import StorageLevel

    from mrf_etl_spark.operators.dedup import widen_narrow_input

    emb = widen_narrow_input(emb)  # small parquet = 1-2 splits; fan out
    cent = emb.filter((F.col(id_col) % centroid_mod) == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    # cid attaches map-side via the top-n kernel (r11 — the former
    # assign_topn output joined back by id). persisted: the a/b
    # self-join below consumes this twice, and without the persist each
    # side re-runs the whole assign cascade (measured 5.5 s → 1.9 s at
    # sf0.1). State is docs × (vec + cid + norm).
    bucketed = state.persist(
        _with_topn_centroids(
            emb.select(F.col(id_col), F.col(vec_col)), cent,
            id_col, vec_col, nassign,
        )
        .select(F.col(id_col), F.col(vec_col), "cid")
        .withColumn("_n", norm_fold(vec_col)),
        StorageLevel.MEMORY_AND_DISK,
    )
    a = bucketed.select(
        F.col("cid"),
        F.col(id_col).alias("doc_a"),
        F.col(vec_col).alias("va"),
        F.col("_n").alias("na"),
    )
    b = bucketed.select(
        F.col("cid"),
        F.col(id_col).alias("doc_b"),
        F.col(vec_col).alias("vb"),
        F.col("_n").alias("nb"),
    )
    return (
        a.join(b, ["cid"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", dot_fold("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
        .distinct()
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a<b, cosine ≥ threshold).

    Brute-force all-pairs — the EXACT baseline, used as the recall oracle
    in tests. Dead at 100 TB (N² pairs); the production path is
    :func:`embedding_near_dup_bucketed`, which prunes pairs to shared IVF
    buckets."""
    a = emb.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va")).withColumn(
        "na", norm_fold("va")
    )
    b = emb.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb")).withColumn(
        "nb", norm_fold("vb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", dot_fold("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def quantize_int8(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` ∈ [-127, 127] — 4× smaller embedding
    storage/shuffle for ANN and near-dup at a bounded (~0.4%/dim) error,
    the standard compression step before billion-vector indexing.

    Pure per-row projection (codegen on the scan, no shuffle). All
    arithmetic is staged through double BEFORE abs/divide so the float32
    inputs promote identically on any engine, and round() is
    half-away-from-zero on both Spark and DuckDB — the oracle replays
    bit-for-bit. Zero vectors quantize to zeros with scale 0.

    Returns (id, scale, qvec, *keep). ``keep`` names extra input columns
    to carry through unchanged (r11: per-row passthrough beats joining
    them back by id downstream). ``dequantize_expr`` reconstructs
    ``q_i * scale`` for downstream cosine at reduced precision.
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(amax == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v, lambda x: F.round(x.cast("double") / (amax / F.lit(127.0))).cast("int")
        )
    )
    return emb.select(
        F.col(id_col), scale, q.alias("qvec"), *[F.col(c) for c in keep]
    )


def dequantize_expr(qvec_col: str, scale_col: str) -> Column:
    """array<double> reconstruction: q_i * scale."""
    return F.transform(
        F.col(qvec_col), lambda x: x.cast("double") * F.col(scale_col)
    )


def quantize_int8_global(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Corpus-GLOBAL symmetric int8 quantization: ONE scale
    ``max|x| over the whole corpus / 127`` for every vector — unlike
    :func:`quantize_int8`'s per-vector scale, a single uniform scaling
    PRESERVES L2 GEOMETRY (relative distances across vectors survive up
    to rounding), which is what distance-based training (e7's per-block
    PQ k-means) requires; per-vector scaling only preserves direction,
    which is all cosine-based consumers (e5/e6) need.

    Deterministic cross-engine: max over doubles is order-invariant and
    exact, the divide and the half-away-from-zero round are single
    correctly-rounded IEEE ops. The global max is computed once, when
    this frame is built, and enters the projection as a literal, so
    every later collect of the frame scans the corpus once.
    An all-zero corpus quantizes to zeros with scale 0.

    Returns (id, gscale, qvec) — ``gscale`` is the same value on every
    row (carry it out to dequantize trained artifacts back to float
    space)."""
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    # every consumer (e7's Lloyd passes, n15, n16) inherits its task
    # width from THIS frame — a 1-2-split embeddings parquet would pin
    # their whole fan-out on 1-2 cores (the r11 sf10 straggler; no-op at
    # real scale)
    emb = widen_narrow_input(emb)
    v = F.col(vec_col)
    gmax = emb.agg(
        F.max(F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))))
    ).first()[0]
    # an empty corpus has no max; its (empty) output needs no scale
    gmax = F.lit(0.0 if gmax is None else gmax)
    scale = (gmax / F.lit(127.0)).alias("gscale")
    q = F.when(gmax == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v, lambda x: F.round(x.cast("double") / (gmax / F.lit(127.0))).cast("int")
        )
    )
    return emb.select(F.col(id_col), scale, q.alias("qvec"))


# ------------------------------------------------ sign-random-projection LSH

SRP_SALT = "lshp"


def rademacher_planes(n_planes: int, dim: int, salt: str = SRP_SALT) -> list[list[float]]:
    """Deterministic ±1 hyperplanes for sign-random-projection LSH
    (Charikar'02 SimHash for real vectors; Rademacher entries are a
    standard choice — Achlioptas'01). Entry (p, d) is +1 when the first
    hex nibble of md5(salt||p||'_'||d) < 8 — a pure constant table both
    engines can bake into their plans as literals, like a config."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{salt}{p}_{d}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def srp_bit_sql(vec_expr: str, plane: list[float], one_based: bool) -> str:
    """Unrolled left-associative projection of ``vec_expr`` onto a ±1
    plane — the SAME generated text (modulo array-index base) runs as a
    Spark SQL expression (0-based) and as the DuckDB oracle (1-based), so
    the sign decisions are bit-identical by construction."""
    terms = " + ".join(
        f"CAST({vec_expr}[{d + 1 if one_based else d}] AS DOUBLE) * {s:.1f}"
        for d, s in enumerate(plane)
    )
    return f"({terms})"


def srp_signature_sql(
    vec_expr: str, planes: list[list[float]], one_based: bool = False
) -> str:
    """Bit-string bucket id: one char per plane, '1' when the projection
    is >= 0. Exact-zero projections land on '1' on both engines (>= is
    exact; the inputs are float32 values and ±1 — no rounding divergence
    in the comparison)."""
    bits = ", ".join(
        f"CASE WHEN {srp_bit_sql(vec_expr, p, one_based)} >= 0 "
        "THEN '1' ELSE '0' END"
        for p in planes
    )
    return f"concat({bits})"


def lsh_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 3,
    n_bits: int = 6,
    query_filter: Column | None = None,
    k: int = 5,
    salt: str = SRP_SALT,
) -> DataFrame:
    """LSH-bucketed ANN — the hash-table alternative to :func:`ivf_topk`:
    ``n_tables`` independent sign-random-projection tables of ``n_bits``
    bits each; a corpus vector is a candidate for a query iff they share
    a bucket in ANY table. Candidates are exact-cosine verified and
    ranked, so precision is 1.0 relative to the candidate set and the
    whole cascade is deterministic (the oracle replays it verbatim).

    Scale shape: signatures are per-row map-side expressions on the scan;
    the candidate join is an EQUALITY join on (table, bucket) — at 100 TB
    the corpus shuffles its (id, bucket) pairs only, never the vectors,
    and with the query side broadcast the probe is map-side. Expected
    candidates per query ≈ n_tables · N / 2^n_bits: tune n_bits to the
    corpus size like an IVF centroid count. Hot buckets (near-duplicate
    clusters) are the AQE skew-join case; a df-cap on bucket size (as in
    ngram_jaccard_pairs_capped) is the guard when collisions concentrate.
    Verification re-reads only candidate vectors (join by id)."""
    planes = rademacher_planes(n_tables * n_bits, dim, salt)

    # Fold-form signature on the Spark side: the unrolled 64-term sum per
    # bit (as the oracle text uses) is 1152 expression nodes across 18
    # bits — the same janino-binary-bloat trap dot_fold documents. The
    # zip_with+aggregate fold with the plane as a literal array is O(1)
    # expression size and BIT-IDENTICAL (0.0 + a is exact, then the same
    # left-associative order as the unrolled text).
    def bit(plane: list[float]) -> str:
        arr = ", ".join(f"{s:.1f}D" for s in plane)
        return (
            f"CASE WHEN aggregate(zip_with({vec_col}, array({arr}), "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v) "
            ">= 0 THEN '1' ELSE '0' END"
        )

    sig_cols = [
        F.expr(
            "concat("
            + ", ".join(
                bit(p) for p in planes[ti * n_bits : (ti + 1) * n_bits]
            )
            + ")"
        ).alias(f"_b{ti}")
        for ti in range(n_tables)
    ]
    base = emb.select(F.col(id_col), *sig_cols)
    tb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(ti).alias("t"), F.col(f"_b{ti}").alias("b")
                )
                for ti in range(n_tables)
            ]
        )
    ).alias("tb")
    corpus_b = base.select(F.col(id_col).alias("neighbor_id"), tb).select(
        "neighbor_id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b")
    )
    qbase = base.filter(query_filter) if query_filter is not None else base
    query_b = qbase.select(F.col(id_col).alias("query_id"), tb).select(
        "query_id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b")
    )
    cand = (
        corpus_b.join(F.broadcast(query_b), ["t", "b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = emb.filter(query_filter) if query_filter is not None else emb
    qv = q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).withColumn(
        "qn", norm_fold("qv")
    )
    cv = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm_fold("cv"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def truncation_quality(
    df: DataFrame,
    dim: int,
    ks: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style truncation QA: the cosine similarity each vector
    RETAINS when truncated to its first k dimensions (Kusupati et al.
    2022, public literature) — cos(v, v[:k] zero-padded) reduces to
    sqrt(prefix_norm2 / full_norm2), so the whole audit is one map-side
    projection, no pairs. The per-k retention profile is what decides
    how far stored embeddings can be truncated before ANN recall decays
    (the e1 int8-quantization question, asked of dimensionality).

    Emits one row per (vector, k): (id, k, cos_retained). Prefix sums
    are left-associative over dims 1..k, so k's value is a strict prefix
    of the full-norm accumulation — bit-identical across engines (the
    fold's 0.0 seed is exact). Each prefix is a fold over a slice of the
    squares, so the expression is O(|ks|), not O(|ks|·dim): unrolled
    per-k sums exceed the JVM's 64 KB method limit and the stage then
    runs without whole-stage codegen."""
    sq = F.transform(vec_col, lambda x: x.cast("double") * x.cast("double"))

    def prefix2(k: int) -> Column:
        return F.aggregate(F.slice(sq, 1, k), F.lit(0.0), lambda acc, x: acc + x)

    full2 = prefix2(dim)
    per_k = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("k"),
                F.sqrt(prefix2(k) / full2).alias("cos_retained"),
            )
            for k in ks
        ]
    )
    return df.select(
        F.col(id_col), F.explode(per_k).alias("_t")
    ).select(id_col, F.col("_t.k").alias("k"), F.col("_t.cos_retained").alias("cos_retained"))


# ------------------------------------------------- persisted IVF index

def ivf_index_create(
    emb: DataFrame,
    path: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Materialize an IVF index ON THE LAKE: centroids (the frozen
    codebook — in production the output of a k-means run on a sample)
    persist next to the corpus, and every vector lands in the parquet
    partition of its nearest centroid with its norm precomputed. Queries
    then read nprobe PARTITIONS, not the corpus — the physical layout
    n2 computes on the fly, made durable and incrementally appendable.

    Layout: ``path/centroids`` (cid, cvec) and ``path/index``
    hive-partitioned by cid with (neighbor_id, cv, cn)."""
    centroids.select("cid", "cvec").write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    _write_index_rows(emb, centroids, path, "overwrite", id_col, vec_col, dim)


def _write_index_rows(
    emb: DataFrame,
    centroids: DataFrame,
    path: str,
    mode: str,
    id_col: str,
    vec_col: str,
    dim: int,
) -> None:
    """The ONE definition of an index row — (neighbor_id, cv, cn)
    partitioned by cid. create and append both write through here, so
    the two paths can never produce incompatible partitions under the
    same index root."""
    (
        # cid computes map-side (r11) and the payload moves ONCE, keyed
        # by its final bucket layout (guide §8) — the former shape paid
        # the assignment agg exchange plus an id-keyed join
        _with_centroid(
            emb.select(F.col(id_col), F.col(vec_col)), centroids,
            id_col, vec_col,
        )
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            norm_fold(vec_col).alias("cn"),
            "cid",
        )
        .repartition("cid")
        .write.mode(mode)
        .partitionBy("cid")
        .parquet(f"{path}/index")
    )


def ivf_index_append(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Incremental maintenance: assign ONLY the new vectors against the
    frozen codebook and append their rows to the touched cid partitions.
    Cost is O(batch × centroids) — the index is never rebuilt and
    existing partitions' files are never rewritten (append, not
    overwrite), the d9/st10 incremental-ingest shape for ANN."""
    spark = new_emb.sparkSession
    cent = spark.read.parquet(f"{path}/centroids")
    _write_index_rows(new_emb, cent, path, "append", id_col, vec_col, dim)


def ivf_index_query(
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Query the persisted index: per query, pick the nprobe nearest
    centroids (broadcast codebook), then scan ONLY those cid partitions
    (the distinct probed-cid list is a bounded partition filter, like
    st10's affected-bucket pruning) and rank exact cosine within them.
    Result semantics are identical to :func:`ivf_topk` over the same
    corpus+codebook — batch boundaries and append history are invisible.

    .. note:: The returned plan reads a cached probe cascade
       (``|queries| * nprobe`` rows) twice. A long-lived session (e.g. a
       serving loop) must call :func:`mrf_etl_spark.state.release_state`
       after consuming the result, or one cached plan is pinned per call."""
    spark = queries.sparkSession
    cent = spark.read.parquet(f"{path}/centroids")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", norm_fold("qv"))
    qprobe = q.crossJoin(
        F.broadcast(cent.withColumn("_cnorm", norm_fold("cvec")))
    ).withColumn("cos_c", dot_fold("qv", "cvec") / (F.col("qn") * F.col("_cnorm")))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid").asc()
    )
    # the cascade (centroid read + crossJoin + window) is consumed
    # TWICE — once collected for the partition filter, once joined
    # against the index — so materialize it once; the result is
    # bounded at |queries|*nprobe rows
    probes = state.persist(
        qprobe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", "cid")
    )
    # bounded driver-side partition filter: <= min(|queries|*nprobe, |centroids|)
    probed_cids = [r["cid"] for r in probes.select("cid").distinct().collect()]
    idx = spark.read.parquet(f"{path}/index").filter(F.col("cid").isin(probed_cids))
    scored = (
        idx.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ------------------------------------------------ product quantization

def _pq_block(vec: str, b: int, size: int) -> Column:
    # F.slice is 1-based
    return F.slice(F.col(vec), b * size + 1, size)


def _pq_fold2(a: Column, b: Column, combine) -> Column:
    """Left-associative fold of combine(x, y) over two zipped slices —
    the dot_fold shape, so every per-block scalar is bit-identical to an
    unrolled left-associative SQL chain."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: combine(x.cast("double"), y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_rows(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_blocks: int,
    seeds: DataFrame | None,
    seed_filter: Column | None,
) -> DataFrame:
    """The PQ long form shared by encode (e4) and ADC search (n5):
    one row per (vec_id, centroid, block) with the derived squared
    distance d = (en2b + cn2b) - 2*dotb, the block dot, and the centroid
    block-norm. Norms are folded where they are constant (codebook /
    per-vector); the per-pair stage folds only the dot. Also carries the
    whole-vector norm ``en2``."""
    size = dim // n_blocks
    if seeds is None:
        sf = seed_filter if seed_filter is not None else (F.col(id_col) < 16)
        seeds = emb.filter(sf)
    sd = seeds.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        *[
            _pq_fold2(
                _pq_block(vec_col, b, size),
                _pq_block(vec_col, b, size),
                lambda x, y: x * y,
            ).alias(f"_cn2_{b}")
            for b in range(n_blocks)
        ],
    )
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    # the 16-seed × n_blocks PQ long form is the encode stage's whole
    # CPU — widen a narrow corpus scan (r11; no-op at real scale)
    e = widen_narrow_input(emb).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("ev"),
        _pq_fold2(F.col(vec_col), F.col(vec_col), lambda x, y: x * y).alias("en2"),
        *[
            _pq_fold2(
                _pq_block(vec_col, b, size),
                _pq_block(vec_col, b, size),
                lambda x, y: x * y,
            ).alias(f"_en2_{b}")
            for b in range(n_blocks)
        ],
    )
    pairs = e.crossJoin(F.broadcast(sd))
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                _pq_fold2(
                    _pq_block("ev", b, size),
                    _pq_block("cv", b, size),
                    lambda x, y: x * y,
                ).alias("dot"),
                F.col(f"_en2_{b}").alias("en2b"),
                F.col(f"_cn2_{b}").alias("cn2"),
            )
            for b in range(n_blocks)
        ]
    )
    return pairs.select(
        "vec_id", "en2", "cid", F.explode(blocks).alias("blk")
    ).select(
        "vec_id",
        "en2",
        "cid",
        "blk.b",
        (
            (F.col("blk.en2b") + F.col("blk.cn2"))
            - F.lit(2.0) * F.col("blk.dot")
        ).alias("d"),
        "blk.dot",
        "blk.cn2",
    )


def pq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
    seeds: DataFrame | None = None,
    seed_filter: Column | None = None,
) -> DataFrame:
    """Product quantization (the FAISS IVF-PQ compression stage): split
    each vector into ``n_blocks`` contiguous sub-vectors and replace each
    with the id of its nearest sub-centroid — dim doubles collapse to
    n_blocks small codes (64x compression at 8 blocks vs 64 float64s),
    the memory step that makes billion-vector ANN serving fit in RAM.
    The companion to e1's int8 scalar quantization: PQ is the
    codebook-based tier below it.

    Returns (vec_id, codes, recon_cos): ``codes`` is the ','-joined
    per-block centroid id string, ``recon_cos`` the cosine between the
    original vector and its codebook reconstruction — the quantization-
    quality number a release gate thresholds (e3's truncation-QA shape).

    The codebook is ``seeds`` (or rows passing ``seed_filter``; default
    ``id < 16``): sub-centroid c of block b is the b-th slice of seed c —
    deterministic, so the oracle replays codebook and assignment exactly.
    A k-means codebook would drop in unchanged (frozen centroids are the
    contract, how they were trained is not); determinism is what makes
    the entry verifiable.

    Plan shape: the codebook broadcasts (constant 16 rows); each vector
    meets each seed once and explodes to n_blocks rows (constant x128
    fan-out), argmin per (vec, block) is ONE vec-keyed window, and the
    rollup is ONE vec-keyed groupBy — two exchanges on vec_id, corpus
    linear, nothing driver-side. Per-block norms are hoisted to where
    they are constant — centroid norms onto the 16-row codebook, vector
    block-norms onto the per-vector pass — so the per-pair stage folds
    ONLY the dot, and the squared distance derives as
    ``(en2b + cn2b) - 2*dotb`` (the same expansion on both engines, so
    the argmin ordering stays bit-identical; ties break on centroid id).
    Every fold is left-associative, mirroring the oracle's unrolled
    chains.
    """
    from pyspark.sql.window import Window

    rows = _pq_rows(emb, id_col, vec_col, dim, n_blocks, seeds, seed_filter)
    w = Window.partitionBy("vec_id", "b").orderBy(
        F.col("d").asc(), F.col("cid").asc()
    )
    chosen = rows.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    agg = chosen.groupBy("vec_id", "en2").agg(
        *[
            F.max(F.when(F.col("b") == b, F.col("cid"))).alias(f"c{b}")
            for b in range(n_blocks)
        ],
        *[
            F.max(F.when(F.col("b") == b, F.col("dot"))).alias(f"dot{b}")
            for b in range(n_blocks)
        ],
        *[
            F.max(F.when(F.col("b") == b, F.col("cn2"))).alias(f"cn2{b}")
            for b in range(n_blocks)
        ],
    )
    dot = F.col("dot0")
    cn2 = F.col("cn20")
    for b in range(1, n_blocks):
        dot = dot + F.col(f"dot{b}")
        cn2 = cn2 + F.col(f"cn2{b}")
    return agg.select(
        "vec_id",
        F.concat_ws(
            ",", *[F.col(f"c{b}").cast("string") for b in range(n_blocks)]
        ).alias("codes"),
        (dot / (F.sqrt(F.col("en2")) * F.sqrt(cn2))).alias("recon_cos"),
    )


def pq_adc_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
    seeds: DataFrame | None = None,
    seed_filter: Column | None = None,
    query_filter: Column | None = None,
    n_candidates: int = 50,
    k: int = 5,
) -> DataFrame:
    """ANN over PQ codes with asymmetric distance computation (ADC) +
    exact rerank — e4's serving side, the FAISS search shape: the corpus
    lives as n_blocks small codes; a query precomputes its distance to
    every sub-centroid (a 16 x n_blocks lookup table), approximates each
    corpus distance as the sum of per-block table entries (touching only
    CODES, never corpus floats), keeps the best ``n_candidates``, and
    reranks just those exactly. At 100 TB the ADC scan reads ~1% of the
    bytes a float scan would; recall depends on codebook quality (the
    synthetic corpus with a 16-seed codebook lands ~70% recall@5 at a
    10% candidate budget, measured in tests — a trained k-means codebook
    drops in unchanged).

    Returns (query_id, neighbor_id, cosine, rank): the exact cosines of
    the reranked top-k from the candidate set — n1's output shape, and
    every stage is deterministic (per-block argmin ties break on cid,
    ADC sums assemble via per-block pivots in one fixed association
    order, candidate and final ranks tie-break on neighbor id), so an
    oracle replays the whole cascade exactly rather than settling for a
    recall envelope.

    Plan shape (r11): corpus codes compute as ONE map-side projection
    against the broadcast codebook (:func:`_ivfpq_row_projection`'s
    codes-only form — the former per-(vec, block) argmin window paid a
    corpus×16×B exchange); the query LUT derives from the FILTERED
    queries only and broadcasts as one map per query
    (:func:`_adc_lut_map`), so the ADC distance attaches map-side — the
    former codes ⋈ LUT join fan-out and (query, neighbor) pivot
    exchange are gone; rerank joins the ≤ |Q| x n_candidates winners
    back to the corpus floats.
    """
    # query_filter is written against emb's own columns; _pq_rows renames
    # the id to vec_id, so the query side routes through an explicit id
    # set rather than re-applying the filter to the renamed frame (which
    # would break for any id_col != "vec_id")
    if seeds is None:
        sf_ = seed_filter if seed_filter is not None else (F.col(id_col) < 16)
        seeds = emb.filter(sf_)
    qf = query_filter if query_filter is not None else (F.col(id_col) < 10)
    proj = _ivfpq_row_projection(
        emb, None, seeds, id_col, vec_col, dim, n_blocks
    )
    lut = _pq_rows(
        emb.filter(qf), id_col, vec_col, dim, n_blocks, seeds, None
    ).select(F.col("vec_id").alias("query_id"), "b", "cid", F.col("d").alias("qd"))
    lutm = _adc_lut_map(lut)
    w_cand = Window.partitionBy("query_id").orderBy(
        # asc_nulls_last (ADVICE r11): a NULL adc can only arise from an
        # incomplete caller-supplied LUT; rank it LAST so that failure
        # mode degrades like the old inner-join shape (candidate
        # dropped) instead of promoting phantom pairs to rank 1. With
        # the complete LUT grids every caller builds, no NULL exists and
        # the ordering — hence the output — is bit-identical.
        F.col("adc").asc_nulls_last(), F.col("neighbor_id").asc()
    )
    cand = (
        proj.select("neighbor_id", *[f"c{b}" for b in range(n_blocks)])
        .crossJoin(F.broadcast(lutm))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _adc_dist(n_blocks).alias("adc"))
        .withColumn("crank", F.row_number().over(w_cand))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    q = (
        emb.filter(qf)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qn", norm_fold("qv"))
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm_fold("cv"))
    rer = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_pq_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroid_mod: int = 97,
    nprobe: int = 2,
    n_blocks: int = 8,
    seeds: DataFrame | None = None,
    seed_filter: Column | None = None,
    query_filter: Column | None = None,
    n_candidates: int = 50,
    k: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN — the composed production shape (FAISS ``IVFx,PQy``):
    a coarse quantizer prunes the corpus to the query's ``nprobe``
    buckets, the ADC scan runs over PQ CODES of just those buckets, and
    only the surviving ``n_candidates`` touch corpus floats for the
    exact rerank. Composes n2's pruning (ivf_topk) with n5's compressed
    scan (pq_adc_topk): at 100 TB the codes table lives partitioned by
    coarse bucket, so a query reads nprobe partitions of ~1%-sized code
    bytes — neither the full corpus (n5's ADC still scans every code)
    nor any float column before the rerank.

    Returns (query_id, neighbor_id, cosine, rank) — n1's output shape.
    Every stage is deterministic (seed coarse centroids = id % mod == 0,
    seed PQ codebook = first 16 ids, all ties break on ids), so the
    oracle replays the whole cascade exactly; recall vs exact is audited
    with ann_recall_report in tests, as for n2/n5.

    Plan shape: coarse assignment is assign_centroids' map-side-
    combinable min(struct) agg; the PQ long form is computed once for
    codes + query LUT (pq_adc_topk's sharing); the bucket prune joins
    the N×n_blocks codes against a broadcast (query, bucket) probe list
    BEFORE the ADC pivot, so the per-query ADC work is Σ|probed bucket|
    instead of N; rerank joins ≤ |Q|×n_candidates winners to floats.

    ``centroids``/``seeds``: trained codebooks replace the modulo /
    first-16 stand-ins — e6's kmeans_codebook (as a (cid, cvec) frame)
    for the coarse quantizer and e7's assemble_pq_seeds for the PQ
    codebook; the fully-trained composition is recall-tested."""
    cent = (
        centroids
        if centroids is not None
        else emb.filter((F.col(id_col) % centroid_mod) == 0).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
    )
    qf = query_filter if query_filter is not None else (F.col(id_col) < 10)
    q = emb.filter(qf).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", norm_fold("qv"))
    qprobe = q.crossJoin(
        F.broadcast(cent.withColumn("_cnorm", norm_fold("cvec")))
    ).withColumn(
        "cos_c", dot_fold("qv", "cvec") / (F.col("qn") * F.col("_cnorm"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid").asc()
    )
    probes = (
        qprobe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", F.col("cid").alias("ccid"))
    )

    if seeds is None:
        sf_ = seed_filter if seed_filter is not None else (F.col(id_col) < 16)
        seeds = emb.filter(sf_)
    # the ADC lookup table derives from the FILTERED queries (r11): the
    # former shape ran the corpus-wide PQ long form and dropped all but
    # the query rows through a broadcast join — same (query, b, cid, d)
    # tuples, |queries|×16×B rows computed instead of corpus×16×B
    lut = _pq_rows(
        emb.filter(qf), id_col, vec_col, dim, n_blocks, seeds, seed_filter
    ).select(
        F.col("vec_id").alias("query_id"), "b", "cid", F.col("d").alias("qd")
    )

    # The IVF prune (r11 shape): codes AND the coarse bucket compute
    # per-row in the shared map-side projection (guide §2.4 — the former
    # code-argmin window exchange and the assigned join are gone), then
    # meet the broadcast probe list — rows for unprobed buckets never
    # reach the ADC stage. At scale this join is a partition prune on a
    # ccid-partitioned codes table. The ADC distance attaches map-side
    # from the broadcast per-query LUT map (the former posexplode long
    # form + (query, neighbor) pivot exchange are gone).
    proj = _ivfpq_row_projection(
        emb, cent, seeds, id_col, vec_col, dim, n_blocks
    )
    lutm = _adc_lut_map(lut)
    w_cand = Window.partitionBy("query_id").orderBy(
        # asc_nulls_last (ADVICE r11): a NULL adc can only arise from an
        # incomplete caller-supplied LUT; rank it LAST so that failure
        # mode degrades like the old inner-join shape (candidate
        # dropped) instead of promoting phantom pairs to rank 1. With
        # the complete LUT grids every caller builds, no NULL exists and
        # the ordering — hence the output — is bit-identical.
        F.col("adc").asc_nulls_last(), F.col("neighbor_id").asc()
    )
    cand = (
        proj.select("neighbor_id", "ccid", *[f"c{b}" for b in range(n_blocks)])
        .join(F.broadcast(probes), "ccid")
        .join(F.broadcast(lutm), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _adc_dist(n_blocks).alias("adc"))
        .withColumn("crank", F.row_number().over(w_cand))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm_fold("cv"))
    rer = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn"))
        )
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_pq_residual_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroid_mod: int = 97,
    nprobe: int = 2,
    n_blocks: int = 8,
    query_filter: Column | None = None,
    n_candidates: int = 50,
    k: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Residual-refined IVF-PQ (n14) — the standard recall lever at
    FIXED code bytes (Jégou et al. TPAMI'11, the FAISS
    ``IVFx,PQy`` *with* residual encoding that n7 omits): PQ codes
    quantize the RESIDUAL ``x − c(x)`` (the vector minus its coarse
    centroid) instead of the raw vector. Residuals concentrate near the
    origin with far less variance than raw vectors, so the same 16
    sub-centroids × n_blocks code budget spends its resolution on the
    part of the vector the coarse quantizer hasn't already explained —
    recall improves with zero change to code size, probe count, or
    rerank cost (pytest pins recall(n14) ≥ recall(n7) on the fixture).

    The query side pays the textbook price: the ADC lookup table is per
    (query, PROBED bucket) — the query's residual differs per probed
    centroid — i.e. nprobe× more LUT rows than n7, still
    queries×nprobe×16×n_blocks = broadcast-sized at any corpus scale.

    Same determinism doctrine as n7: mod-seeded coarse centroids,
    seeds = residuals of the first 16 ids, every argmin ties to the
    lowest id, block distances are left-associative double folds
    (bit-identical to the oracle's unrolled sums — the dot_fold
    doctrine), so DuckDB replays the full cascade exactly.

    Plan shape: coarse assignment (map-combinable agg) → corpus
    residuals via ONE broadcast join on ccid → codes argmin as a
    map-combinable min(struct) over the residual×seeds long form →
    IVF prune BEFORE the ADC pivot (broadcast probe list) → exact
    cosine rerank on the survivors. At 100 TB the residual codes table
    partitions by ccid exactly like n8's persisted layout."""
    size = dim // n_blocks
    cent = (
        centroids
        if centroids is not None
        else emb.filter((F.col(id_col) % centroid_mod) == 0).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
    )
    # corpus residuals: the coarse bucket attaches map-side (r11 — the
    # former assign_centroids output joined back by id), then one
    # broadcast join fetches the assigned centroid's vector
    rcorp = (
        _with_centroid(
            emb.select(F.col(id_col), F.col(vec_col)), cent, id_col, vec_col
        )
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("ev"),
            F.col("cid").alias("ccid"),
        )
        .join(
            F.broadcast(cent.select(F.col("cid").alias("ccid"), "cvec")),
            "ccid",
        )
        .select(
            "neighbor_id",
            "ccid",
            F.zip_with(
                "ev", "cvec", lambda a, c: a.cast("double") - c.cast("double")
            ).alias("rv"),
        )
    )
    rseeds = rcorp.filter(F.col("neighbor_id") < 16).select(
        F.col("neighbor_id").alias("cid"), F.col("rv").alias("sv")
    )

    def _block_d(a: str, b: str, blk) -> Column:
        # left-assoc fold over the block slice — bit-identical to the
        # oracle's unrolled 8-term sum (squares are non-negative, the
        # 0.0 seed is exact)
        return F.aggregate(
            F.zip_with(
                F.slice(F.col(a), blk * size + 1, size),
                F.slice(F.col(b), blk * size + 1, size),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # residual codes per block as a MAP-SIDE array argmin against the
    # 1-row broadcast of residual seeds (r11, guide §2.4): the former
    # long form paid a corpus×16×B explode + a (neighbor, ccid, b)
    # groupBy exchange; the argmin key replicates min(struct(d, cid))'s
    # total order exactly — NULL(0) < real(1) < NaN(2), then d, then cid
    # — and every d is the same squared-difference fold over the same
    # operands, so codes are bit-identical
    raux = rseeds.agg(F.collect_list(F.struct("cid", "sv")).alias("_seeds"))

    def _key(s: Column) -> Column:
        rk = (
            F.when(s["d"].isNull(), F.lit(0))
            .when(F.isnan(s["d"]), F.lit(2))
            .otherwise(F.lit(1))
        )
        dv = F.when(rk == F.lit(1), s["d"]).otherwise(F.lit(0.0))
        return F.struct(rk.alias("rk"), dv.alias("d"), s["cid"].alias("cid"))

    # all blocks in ONE nested lambda over the block index (the
    # unrolled-per-block form costs ~B× the Catalyst tree and ~1 s of
    # driver analysis per call — the _ivfpq_row_projection lesson);
    # d materializes once per seed in the inner transform's struct
    rcodes = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda b: F.array_min(
            F.transform(
                F.transform(
                    F.col("_seeds"),
                    lambda s: F.struct(
                        F.aggregate(
                            F.zip_with(
                                F.slice(F.col("rv"), b * size + 1, size),
                                F.slice(s["sv"], b * size + 1, size),
                                lambda x, y: (x - y) * (x - y),
                            ),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        ).alias("d"),
                        s["cid"].alias("cid"),
                    ),
                ),
                _key,
            )
        )["cid"],
    )
    codes = _pushdown_barrier(
        rcorp.crossJoin(F.broadcast(raux))
        .filter(F.size(F.col("_seeds")) > 0)
        .select("neighbor_id", "ccid", rcodes.alias("_codes"))
    ).select(
        "neighbor_id",
        "ccid",
        *[
            F.element_at(F.col("_codes"), b + 1).alias(f"c{b}")
            for b in range(n_blocks)
        ],
    )

    qf = query_filter if query_filter is not None else (F.col(id_col) < 10)
    q = (
        emb.filter(qf)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qn", norm_fold("qv"))
    )
    qprobe = q.crossJoin(
        F.broadcast(cent.withColumn("_cnorm", norm_fold("cvec")))
    ).withColumn(
        "cos_c", dot_fold("qv", "cvec") / (F.col("qn") * F.col("_cnorm"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid").asc()
    )
    probes = (
        qprobe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", F.col("cid").alias("ccid"), "cvec")
    )
    # per-(query, probed bucket) residual → the nprobe× LUT (qv joined
    # back onto the probe row, broadcast-small)
    qres = (
        probes.join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            "ccid",
            F.zip_with(
                "qv", "cvec", lambda a, c: a.cast("double") - c.cast("double")
            ).alias("qrv"),
        )
    )
    qblocks = F.array(
        *[
            F.struct(F.lit(b).alias("b"), _block_d("qrv", "sv", b).alias("qd"))
            for b in range(n_blocks)
        ]
    )
    lut = (
        qres.crossJoin(F.broadcast(rseeds))
        .select("query_id", "ccid", "cid", F.explode(qblocks).alias("_k"))
        .select(
            "query_id",
            "ccid",
            "cid",
            F.col("_k.b").alias("b"),
            F.col("_k.qd").alias("qd"),
        )
    )
    # ADC map-side from the (ccid, b, cid)-keyed broadcast LUT map —
    # the residual LUT is per (query, PROBED bucket), so the map key
    # carries the bucket; pair rows only exist for probed (query, ccid),
    # where the LUT grid is complete
    lutm = _adc_lut_map(lut, key_cols=("ccid", "b", "cid"))
    w_cand = Window.partitionBy("query_id").orderBy(
        # asc_nulls_last (ADVICE r11): a NULL adc can only arise from an
        # incomplete caller-supplied LUT; rank it LAST so that failure
        # mode degrades like the old inner-join shape (candidate
        # dropped) instead of promoting phantom pairs to rank 1. With
        # the complete LUT grids every caller builds, no NULL exists and
        # the ordering — hence the output — is bit-identical.
        F.col("adc").asc_nulls_last(), F.col("neighbor_id").asc()
    )
    cand = (
        codes.join(F.broadcast(probes.select("query_id", "ccid")), "ccid")
        .join(F.broadcast(lutm), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_dist(n_blocks, prefix=F.col("ccid")).alias("adc"),
        )
        .withColumn("crank", F.row_number().over(w_cand))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm_fold("cv"))
    rer = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn"))
        )
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_outliers(
    emb: DataFrame,
    group_expr: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding-QA outlier flags (e5) — per group (source/domain), flag
    vectors whose cosine to the group centroid falls below 1/2: the
    corpus-QA step that catches mis-embedded, corrupted, or mis-routed
    documents before they poison dedup/ANN stages (completes the
    e1-e4 embedding tier with a quality gate).

    INTEGER-EXACT by construction (the sketch-bound doctrine — no libm
    on the compare surface): vectors first quantize to int8 (e1's
    bit-replayable recipe), the group centroid is the per-dimension
    int64 SUM (not mean — cosine is scale-invariant, so the un-divided
    sum avoids float division entirely), and the τ=1/2 threshold tests
    as a squared rational inequality:

        outlier ⟺ dot < 0 OR 4·dot² < |x|²·|s|²

    Magnitudes bound comfortably inside int64 for dim≤64, |group|≤~500k
    int8 vectors (dot ≤ 127²·N·64; 4·dot² needs N ≲ 6e5 — shard larger
    groups or rescale before flagging at higher cardinality). Zero
    vectors are never flagged (both sides 0). Output
    (id, grp, dot_c, nx2, ns2, is_outlier) is all-integer/boolean —
    the oracle replays it exactly.

    Plan shape: quantization is a scan-local projection; the centroid
    is ONE map-side-combinable agg (64 sums per group); the join back
    broadcasts the |groups|-row centroid table; flags derive per row.
    One corpus shuffle total (the centroid agg), nothing driver-side."""
    zero = F.lit(0).cast("long")
    q = quantize_int8(emb, vec_col, id_col).select(
        F.col(id_col), F.col("qvec")
    )
    g = q.withColumn("grp", group_expr)
    cent = g.groupBy("grp").agg(
        *[
            F.sum(F.element_at(F.col("qvec"), d + 1).cast("long")).alias(
                f"_s{d}"
            )
            for d in range(dim)
        ]
    )
    cent = cent.select(
        "grp", F.array(*[F.col(f"_s{d}") for d in range(dim)]).alias("svec")
    )
    j = g.join(F.broadcast(cent), "grp")
    dot = F.aggregate(
        F.zip_with("qvec", "svec", lambda x, y: x.cast("long") * y),
        zero,
        lambda acc, x: acc + x,
    )
    nx2 = F.aggregate(
        F.transform("qvec", lambda x: x.cast("long") * x.cast("long")),
        zero,
        lambda acc, x: acc + x,
    )
    ns2 = F.aggregate(
        F.transform("svec", lambda s: s * s), zero, lambda acc, x: acc + x
    )
    out = j.select(
        F.col(id_col),
        "grp",
        dot.alias("dot_c"),
        nx2.alias("nx2"),
        ns2.alias("ns2"),
    )
    return out.withColumn(
        "is_outlier",
        (F.col("dot_c") < 0)
        | (
            F.lit(4).cast("long") * F.col("dot_c") * F.col("dot_c")
            < F.col("nx2") * F.col("ns2")
        ),
    )


# ------------------------------------------ k-means codebook training


def _round_half_up(x: float) -> int:
    """``F.round(x).cast("int")`` on the driver for a finite double:
    Spark rounds HALF_UP (ties away from zero) on the double's exact
    value. NumPy and the built-in ``round`` round half to even, which
    moves every ±k.5 tie and breaks the oracle replay."""
    return int(Decimal(x).to_integral_value(rounding=ROUND_HALF_UP))


def _requantize_int8(s: list[int]) -> list[int]:
    """:func:`quantize_int8`'s e1 recipe for one integer vector on the
    driver: ``round(s_i / (amax / 127.0))`` rounded like Spark, zeros
    when ``amax == 0``."""
    amax = max((abs(float(v)) for v in s), default=0.0)
    if amax == 0:
        return [0] * len(s)
    return [_round_half_up(float(v) / (amax / 127.0)) for v in s]


def _kmeans_train(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    seed_mod: int,
    iters: int,
) -> list[tuple[int, list[int], int]]:
    """:func:`kmeans_codebook`'s Lloyd loop; returns the trained codebook
    as driver rows ``(cid, cvec, n_members)`` in ascending cid order."""
    q = quantize_int8(emb, vec_col, id_col).select(
        F.col(id_col).alias("vid"), "qvec"
    )
    book = sorted(
        (r.vid, list(r.qvec), 0)
        for r in q.filter((F.col("vid") % seed_mod) == 0).collect()
    )
    sums = [
        F.sum(F.element_at("qvec", d + 1).cast("long")) for d in range(dim)
    ]
    for _ in range(iters):
        upd = {
            r[0]: r[1:]
            for r in _with_centroid_int8(q, book)
            .groupBy("cid")
            .agg(F.count("*"), *sums)
            .collect()
        }
        # empty clusters keep their previous centroid with 0 members
        book = [
            (cid, _requantize_int8(upd[cid][1:]), upd[cid][0])
            if cid in upd
            else (cid, cvec, 0)
            for cid, cvec, _ in book
        ]
    return book


def kmeans_codebook(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed_mod: int = 97,
    iters: int = 2,
) -> DataFrame:
    """Distributed spherical k-means codebook trainer (e6) — Lloyd's
    iterations over the corpus, producing the coarse-quantizer codebook
    that n2/n7/n8's IVF cascades consume (their deterministic
    ``vec_id % mod`` seeds are explicitly "a stand-in for k-means";
    this is the training step that replaces the stand-in).

    INTEGER-EXACT end-to-end so the oracle replays every assignment and
    every trained centroid byte-for-byte:

    - vectors quantize to int8 first (e1's bit-replayable recipe); the
      seeds are the vectors with ``vid % seed_mod == 0``;
    - assignment is :func:`_with_centroid_int8` (argmax of
      dot/sqrt(|c|²) from exact int64s, ties to the lowest cid, zero
      centroids rank last);
    - update = per-dimension int64 SUM of the members (cosine is
      scale-invariant, so the un-divided sum IS the spherical mean
      direction), requantized to int8 by e1's recipe
      ``round(s / (amax / 127.0))`` with Spark's HALF_UP rounding
      (:func:`_requantize_int8`). The requantization keeps every dot/norm
      ≤ dim·127² at any corpus size, and the trained codebook is
      already in the persisted index's int8 format;
    - empty clusters keep their previous centroid (n_members = 0).

    The codebook lives on the driver (k·dim ints, KiB). Each iteration
    is one distributed pass: the NumPy assignment and one
    map-side-combinable (cid)-keyed agg of dim int64 sums and a count,
    whose k result rows are collected and requantized on the driver.
    Training therefore runs when this frame is built.

    Returns the trained codebook EXPLODED as
    (cid, n_members, i, cs): k·dim all-integer rows.
    """
    book = _kmeans_train(emb, id_col, vec_col, dim, seed_mod, iters)
    return emb.sparkSession.createDataFrame(
        [(cid, n, i, cs) for cid, cvec, n in book for i, cs in enumerate(cvec)],
        "cid bigint, n_members bigint, i int, cs int",
    )


def pq_codebook_train(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
    n_codes: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Distributed PQ sub-codebook trainer (e7) — per-block L2 k-means,
    the ingest-time twin of :func:`kmeans_codebook` for the PRODUCT
    quantizer: n5/n7/n8 encode against 16 seed vectors sliced per block
    ("a trained k-means codebook drops in unchanged" per pq_adc_topk's
    docstring — this trains it). All B blocks train in ONE pass: the
    block id simply joins the Lloyd keys.

    INTEGER-EXACT end-to-end, one notch SIMPLER than e6's cosine case:
    vectors quantize to int8 on a corpus-GLOBAL scale
    (:func:`quantize_int8_global` — one uniform scaling preserves the
    L2 geometry distance-based training needs; e1's per-vector scale
    would distort it, and DID: a per-vector-trained codebook
    reconstructed at recon_cos ≈ 0). The seeds are the blocks of the
    vectors with ``vid < n_codes``. The per-block argmin runs in NumPy
    over exact int64 ``|c|² − 2·x·c`` (``Σ (x_i − c_i)²`` minus the
    per-row constant |x|²): no division, no sqrt, codes in ascending
    cid order and the first minimum wins, so ties break to the lowest
    code id; rows whose block has no codes are dropped. The update is
    the per-dim rounded mean ``round(Σx_i / n)`` (exact int64 sum, one
    correctly-rounded IEEE divide, Spark's HALF_UP round via
    :func:`_round_half_up`), which keeps every centroid inside int8
    range at any corpus size. Empty codes keep their previous centroid
    (n_members = 0).

    As in :func:`kmeans_codebook` the B·k-row codebook lives on the
    driver: each iteration is one distributed assign + (b, cid)-keyed
    sum agg whose result rows are collected, so training runs when this
    frame is built. Assembling ``groupBy(cid)`` over the output in
    (b, i) order yields the (cid, cv) seeds frame the PQ paths take.

    Returns the trained sub-codebooks EXPLODED as
    (b, cid, n_members, i, cs): B·k·(dim/B) all-integer rows.
    """
    from pyspark.sql import types as T

    size = dim // n_blocks
    q = quantize_int8_global(emb, vec_col, id_col).select(
        F.col(id_col).alias("vid"), "qvec"
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.slice("qvec", b * size + 1, size).alias("bq"),
            )
            for b in range(n_blocks)
        ]
    )
    x = q.select("vid", F.explode(blocks).alias("_k")).select(
        "vid", F.col("_k.b").alias("b"), F.col("_k.bq").alias("bq")
    )
    book = sorted(
        (r.b, r.vid, list(r.bq), 0)
        for r in x.filter(F.col("vid") < n_codes).collect()
    )
    out_schema = T.StructType(
        list(x.schema.fields) + [T.StructField("cid", T.LongType(), True)]
    )
    sums = [
        F.sum(F.element_at("bq", i + 1).cast("long")) for i in range(size)
    ]

    def _assign(book):
        import numpy as np

        per_block = []  # (b, cids, codes^T, |c|²), codes in ascending cid
        for b, codes in itertools.groupby(book, key=lambda r: r[0]):
            codes = list(codes)
            cmat = np.array([r[2] for r in codes], dtype=np.int64)
            cids = np.array([r[1] for r in codes], dtype=np.int64)
            per_block.append((b, cids, cmat.T, (cmat * cmat).sum(axis=1)))

        def _batches(it):
            for pdf in it:
                n = len(pdf.index)
                bs = pdf["b"].to_numpy()
                xm = np.array(pdf["bq"].tolist(), dtype=np.int64)
                cid = np.zeros(n, dtype=np.int64)
                hit = np.zeros(n, dtype=bool)
                for b, cids, cmat_t, c2 in per_block:
                    m = bs == b
                    if m.any():
                        # |x - c|² - |x|², exact int64; argmin keeps the
                        # first minimum, i.e. the lowest cid
                        d = c2 - 2 * (xm[m] @ cmat_t)
                        cid[m] = cids[np.argmin(d, axis=1)]
                        hit |= m
                yield pdf[hit].assign(cid=cid[hit])

        return x.mapInPandas(_batches, out_schema)

    for _ in range(iters):
        upd = {
            (r[0], r[1]): r[2:]
            for r in _assign(book)
            .groupBy("b", "cid")
            .agg(F.count("*"), *sums)
            .collect()
        }
        new = []
        for b, cid, cq, _ in book:
            n, *s = upd.get((b, cid), (0,))
            if n:
                cq = [_round_half_up(float(v) / float(n)) for v in s]
            new.append((b, cid, cq, n))
        book = new
    return emb.sparkSession.createDataFrame(
        [
            (b, cid, n, i, cs)
            for b, cid, cq, n in book
            for i, cs in enumerate(cq)
        ],
        "b int, cid bigint, n_members bigint, i int, cs int",
    )


def _with_centroid_int8(q: DataFrame, book) -> DataFrame:
    """THE int8 cosine assignment kernel: assign int8-quantized vectors
    (``qvec``) to a driver-side codebook ``book`` — rows whose first two
    fields are ``(cid, cvec)`` (k centroids × dim int8, KiB) — with one
    exact int64 matmul per Arrow batch. Keeps every input column of
    ``q`` and adds ``cid``, so consumers read their per-row columns
    (labels, snapshot flags, the k-means update's qvec) without
    joining the assignment back by id.

    Exact replay of the oracle's argmax (``parity_llm._e6_iter_ctes``):
    dot and |c|² are exact int64 (magnitudes ≤ dim·127² — far inside
    both int64 and the 2^53 double mantissa), score =
    double(dot)/sqrt(double(|c|²)) is two correctly-rounded IEEE ops,
    ties break to the lowest cid (centroids scanned in ascending-cid
    order, argmax keeps the first max), zero-norm centroids rank last
    (rows fall to the lowest cid only when EVERY centroid has zero
    norm). An empty codebook yields the empty frame."""
    from pyspark.sql import types as T

    rows = sorted((r[0], list(r[1])) for r in book)
    out_schema = T.StructType(list(q.schema.fields) + [
        T.StructField("cid", T.LongType(), True)
    ])
    if not rows:
        return q.sparkSession.createDataFrame([], out_schema)

    def _batches(it):
        import numpy as np
        import pandas as pd

        cids = np.array([r[0] for r in rows], dtype=np.int64)
        cmat = np.array([r[1] for r in rows], dtype=np.int64)
        ns2 = (cmat * cmat).sum(axis=1)
        valid = ns2 > 0
        vcids = cids[valid]
        vmat_t = cmat[valid].T
        norms = 1.0 if not valid.any() else np.sqrt(
            ns2[valid].astype(np.float64)
        )
        for pdf in it:
            n = len(pdf.index)
            if n == 0:
                yield pdf.assign(cid=pd.Series(dtype="int64"))
                continue
            if valid.any():
                qm = np.array(pdf["qvec"].tolist(), dtype=np.int64)
                dots = qm @ vmat_t  # exact int64
                scores = dots.astype(np.float64) / norms
                chosen = vcids[np.argmax(scores, axis=1)]
            else:
                chosen = np.full(n, cids[0], dtype=np.int64)
            yield pdf.assign(cid=chosen)

    return q.mapInPandas(_batches, out_schema)


def assign_centroids_int8(q: DataFrame, book) -> DataFrame:
    """(vid, cid) assignment of int8-quantized vectors (vid, qvec)
    against a driver-side (cid, cvec) codebook: :func:`_with_centroid_int8`
    projected to the ids, the form st20 calls. Zero shuffles, so
    calling it per micro-batch costs O(batch × codebook) map-side work,
    and the groupBy("cid") the st20 sink runs next map-side-combines to
    |codebook| rows."""
    return _with_centroid_int8(q, book).select("vid", "cid")


def codebook_drift(
    emb: DataFrame,
    snapshot_expr: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed_mod: int = 97,
    ratio_num: int = 2,
    ratio_den: int = 1,
) -> DataFrame:
    """Codebook drift monitor (e8) — the "when to retrain the
    quantizer" gate every production vector index needs: assign TWO
    corpus snapshots (``snapshot_expr`` FALSE = base / TRUE = current)
    against one FROZEN codebook in a single pass, and flag centroids
    whose traffic share moved by more than ``ratio_num/ratio_den``
    (2/1 = doubled-or-halved; 5/4 = a 25% shift) between snapshots. A
    drifting share means the data distribution moved away from the
    codebook's training set — buckets go hot (probe-latency skew) or
    cold (wasted partitions) long before recall visibly degrades.

    INTEGER-EXACT end-to-end: assignment replays e6's exact argmax
    (int8 quantization, int64 dot / sqrt(ns2) — deterministic IEEE),
    counts are int64, and the share comparison cross-multiplies the
    rational threshold instead of dividing anything:

        drifted ⟺ den·n_cur·N_base > num·n_base·N_cur
                 OR num·n_cur·N_base < den·n_base·N_cur

    (a centroid empty in exactly one snapshot always flags;
    cross-multiplication makes 0-counts exact, no epsilon). Magnitudes
    bound at num·n·N ≤ num·N² — safe to N ~ 10^9 per snapshot.

    Plan shape: the KiB codebook is collected to the driver once and
    :func:`_with_centroid_int8` assigns the tagged scan per Arrow batch
    (``is_cur`` rides the same rows — no join of the snapshot flag back
    onto the assignment by vid), one (cid)-keyed count agg (the two
    snapshot counts ride conditional sums in the SAME agg), and the two
    1-row totals attach as a broadcast crossJoin (the t5 global-scalar
    shape). One corpus-proportional exchange total.

    Returns (cid, n_base, n_cur, drifted) for every codebook row.
    """
    zero = F.lit(0).cast("long")
    q = quantize_int8(
        emb.withColumn("_is_cur", snapshot_expr), vec_col, id_col,
        keep=("_is_cur",),
    ).select(F.col(id_col).alias("vid"), "qvec", F.col("_is_cur").alias("is_cur"))
    cent = q.filter((F.col("vid") % seed_mod) == 0).select(
        F.col("vid").alias("cid"), F.col("qvec").alias("cvec")
    )
    counts = (
        _with_centroid_int8(q, cent.collect())
        .groupBy("cid")
        .agg(
            F.sum(F.when(~F.col("is_cur"), 1).otherwise(0)).cast("long").alias("n_base"),
            F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).cast("long").alias("n_cur"),
        )
    )
    # every codebook row reports, even if nothing assigned to it.
    # PERSIST the k-row result: it feeds BOTH the totals aggregate and
    # the final crossJoin — unpersisted, the whole corpus assignment
    # cascade executes twice (measured ~2x at sf1, the e6 lesson again)
    full = state.persist(
        cent.select("cid").join(counts, "cid", "left").select(
            "cid",
            F.coalesce("n_base", zero).alias("n_base"),
            F.coalesce("n_cur", zero).alias("n_cur"),
        )
    )
    totals = full.agg(
        F.sum("n_base").alias("_tb"), F.sum("n_cur").alias("_tc")
    )
    num = F.lit(ratio_num).cast("long")
    den = F.lit(ratio_den).cast("long")
    return (
        full.crossJoin(F.broadcast(totals))
        .withColumn(
            "drifted",
            (
                den * F.col("n_cur") * F.col("_tb")
                > num * F.col("n_base") * F.col("_tc")
            )
            | (
                num * F.col("n_cur") * F.col("_tb")
                < den * F.col("n_base") * F.col("_tc")
            ),
        )
        .select("cid", "n_base", "n_cur", "drifted")
    )


def _probe_rows(
    emb: DataFrame,
    label_expr: Column,
    vec_col: str,
    id_col: str,
    holdout_expr: Column | None = None,
) -> DataFrame:
    """(vid, qvec, y[, _ho]) for the e9/e10/e11 probe family: the ±1
    label (and optional holdout flag) rides the quantized rows (r11,
    guide §2.4 — the former (vid, y) frame was joined back onto the
    quantized corpus by id: a corpus exchange pair spent on a per-row
    tag)."""
    src = emb.withColumn(
        "_y", F.when(label_expr, F.lit(1)).otherwise(F.lit(-1)).cast("long")
    )
    keep = ("_y",)
    if holdout_expr is not None:
        src = src.withColumn("_ho", holdout_expr)
        keep = ("_y", "_ho")
    cols = [F.col(id_col).alias("vid"), F.col("qvec"), F.col("_y").alias("y")]
    if holdout_expr is not None:
        cols.append(F.col("_ho"))
    return quantize_int8(src, vec_col, id_col, keep=keep).select(*cols)


def _int_dot(w: list[int]) -> Column:
    """Exact int64 ``qvec · w`` against a driver-held integer vector,
    which enters the plan as a literal ``array<bigint>``: a per-row fold,
    no join."""
    return F.aggregate(
        F.zip_with(
            "qvec",
            F.lit(w).cast("array<bigint>"),
            lambda x, wv: x.cast("long") * wv,
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _perceptron_train(
    data: DataFrame, dim: int, iters: int
) -> list[tuple[list[int], int]]:
    """The e9/e10/e11 batch perceptron over (qvec, y) rows; returns
    ``(w, n_mis)`` after each iteration: the weights after its update
    and the number of rows it misclassified. From w₀ = 0, each
    iteration is one corpus agg — the misclassified count and
    ``Σ y·x_i`` over ``y·(w·x) ≤ 0`` — whose single row the driver adds
    to w (NULL sums, when nothing is misclassified, add 0)."""
    sums = [
        F.sum(F.col("y") * F.element_at("qvec", i + 1).cast("long"))
        for i in range(dim)
    ]
    w, out = [0] * dim, []
    for _ in range(iters):
        n_mis, *upd = (
            data.filter(F.col("y") * _int_dot(w) <= 0)
            .agg(F.count("*"), *sums)
            .first()
        )
        w = [wi + (u or 0) for wi, u in zip(w, upd)]
        out.append((w, n_mis))
    return out


def linear_probe(
    emb: DataFrame,
    label_expr: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 2,
) -> DataFrame:
    """Distributed linear-probe training (e9) — a batch perceptron over
    int8-quantized embeddings: the training loop behind every
    CCNet/fastText-style quality classifier, run ON the engine instead
    of exporting features to a single box. ``label_expr`` is the
    boolean target (TRUE → +1, FALSE → −1).

    INTEGER-EXACT iterative training (the e6/e7 doctrine, third
    instance): features are e1's per-vector int8 quantization
    (direction-normalized — the standard feature scaling for a linear
    probe), the margin test is the integer comparison
    ``y·(w·x) ≤ 0``, and the BATCH update ``w += Σ_misclassified y·x``
    is one map-side-combinable int64 64-sum — order-invariant, so the
    oracle unrolls the iterations and replays every weight byte. From
    w₀ = 0, iteration 1's update is the class-mean-difference
    direction (every point is misclassified at zero margin) — the
    classic perceptron warm start. |w_i| ≤ iters·N·127 keeps int64
    safe beyond 10¹² rows per iteration.

    As in :func:`kmeans_codebook` the dim-sized weight vector lives on
    the driver (:func:`_perceptron_train`): each iteration is one scan
    with the exact dot against the literal weights, a scan-local
    misclassified filter and ONE combinable agg whose single row is
    collected. Training therefore runs when this frame is built.

    Returns (iter, i, w, n_mis): the weight vector AFTER each
    iteration's update, with the update's misclassified count — k·dim
    all-integer rows.
    """
    data = _probe_rows(emb, label_expr, vec_col, id_col)
    return emb.sparkSession.createDataFrame(
        [
            (k, i, wi, n_mis)
            for k, (w, n_mis) in enumerate(_perceptron_train(data, dim, iters), 1)
            for i, wi in enumerate(w)
        ],
        "iter int, i int, w bigint, n_mis bigint",
    )


def linear_probe_eval(
    emb: DataFrame,
    label_expr: Column,
    holdout_expr: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 2,
) -> DataFrame:
    """Train/eval loop for the linear probe (e10) — :func:`linear_probe`
    trained on the NON-holdout rows, with each iteration's weights
    scored on the HELD-OUT split: the generalization report
    (tp/fp/tn/fn) every classifier sign-off needs. Ties at zero margin
    predict NEGATIVE (the perceptron's own misclassification rule for
    y=+1 at margin 0 — consistent on both engines as an integer
    comparison).

    Everything stays integer-exact: training is e9's batch perceptron
    verbatim; evaluation is ONE conditional-sum agg over the holdout
    that scores every iteration's literal weights at once (all of them
    are on the driver when training ends), its single row collected
    like the training rows. An empty holdout leaves the confusion
    counts NULL and still reports the training count.

    Returns (iter, tp, fp, tn, fn, n_mis_train): iters all-int rows.
    """
    data = _probe_rows(emb, label_expr, vec_col, id_col, holdout_expr)
    trained = _perceptron_train(data.filter(~F.col("_ho")), dim, iters)
    # zero margin predicts negative
    preds = [_int_dot(w) > 0 for w, _ in trained]
    conf = (
        data.filter(F.col("_ho"))
        .agg(  # tp, fp, tn, fn per iteration
            *[
                F.sum(F.when((F.col("y") == y) & (pred_pos == p), 1).otherwise(0))
                for pred_pos in preds
                for y, p in ((1, True), (-1, True), (-1, False), (1, False))
            ]
        )
        .first()
    )
    rows = [
        (k, *conf[4 * k - 4 : 4 * k], n_mis)
        for k, (_, n_mis) in enumerate(trained, 1)
    ]
    return emb.sparkSession.createDataFrame(
        rows,
        "iter int, tp bigint, fp bigint, tn bigint, fn bigint, n_mis_train bigint",
    )


def linear_probe_apply(
    emb: DataFrame,
    label_expr: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 2,
) -> DataFrame:
    """Trained-probe corpus inference (e11) — the DEPLOY step of the
    e9/e10 classifier lifecycle and the FineWeb-Edu production shape:
    train the quality probe on the labeled slice, then score EVERY
    document in the corpus with the final weights and emit the keep
    decision the downstream pipeline filters on. e9 trains, e10 signs
    off on the holdout, e11 is the full-corpus pass that actually
    curates the dataset.

    Training is :func:`linear_probe`'s batch perceptron verbatim
    (INTEGER-EXACT: int8 features, integer margins, one combinable
    int64 update agg per iteration, weights on the driver); inference
    is a single projection — the score is the exact int64 dot against
    the final literal weights, and ``keep = score > 0`` (zero margin
    predicts negative, the perceptron's own rule, an integer compare on
    both engines). At 100 TB the scoring pass is embarrassingly
    parallel: no shuffle and no join — the corpus is read once and
    scored in place.

    Returns (id, score, keep) for every input row — all-int + boolean,
    so the oracle replays every decision exactly.
    """
    data = _probe_rows(emb, label_expr, vec_col, id_col)
    score = _int_dot(_perceptron_train(data, dim, iters)[-1][0])
    return data.select(
        F.col("vid").alias(id_col), score.alias("score"), (score > 0).alias("keep")
    )


def semantic_decontam(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    tau: float = 0.9,
) -> DataFrame:
    """Semantic eval-set decontamination (d14) — the embedding-level
    complement to d12's n-gram Bloom gate: flag corpus items whose
    nearest eval-set embedding exceeds ``tau`` cosine. Catches the
    contamination n-gram gates miss by construction — paraphrases,
    translations, reformatted answers — which is why production
    pipelines run BOTH gates before a release cut.

    Scale shape: eval sets are small by nature (thousands of items at
    any corpus size), so the production plan IS a bounded broadcast —
    eval crosses the corpus scan once, the per-item argmax is one
    map-side-combinable min(struct) keyed on the corpus id, and the
    flag is a scalar compare. No shuffle ever carries the corpus with
    vectors attached; nothing driver-side.

    Determinism: cosines are left-associative fold doubles (the n1
    doctrine — bit-identical to the oracle's unrolled chains); the
    argmax tie-breaks (cosine DESC, eval_id ASC). Zero-norm vectors
    (either side) score an EXPLICIT NULL — not engine-dependent 0/0
    (Spark yields NULL there, DuckDB NaN) — rank last, and never flag;
    e5's outlier gate is the QA stage that quarantines them.

    Returns (id, eval_id, cosine, contaminated) for every corpus row.
    """
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    ev = eval_set.select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("ev")
    ).withColumn("_en", norm_fold("ev"))
    # the corpus×eval fold fan-out is map-side CPU: a narrow embeddings
    # scan pinned it on 1-2 cores at sf10 (the q11 straggler) — no-op at
    # real scale where the scan is wide
    c = widen_narrow_input(
        corpus.select(F.col(id_col), F.col(vec_col))
    ).withColumn("_cn", norm_fold(vec_col))
    scored = c.crossJoin(F.broadcast(ev)).withColumn(
        "cos_e",
        F.when(
            F.col("_cn") * F.col("_en") > 0,
            dot_fold(vec_col, "ev") / (F.col("_cn") * F.col("_en")),
        ),
    )
    rank = F.when(F.col("cos_e").isNull(), F.lit(1)).otherwise(F.lit(0))
    neg = F.when(rank == 0, -F.col("cos_e")).otherwise(F.lit(0.0))
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct(
                rank.alias("rk"),
                neg.alias("neg"),
                F.col("eval_id").alias("eval_id"),
                F.col("cos_e").alias("cos_e"),
            )
        ).alias("_b")
    )
    return best.select(
        F.col(id_col),
        F.col("_b.eval_id").alias("eval_id"),
        F.col("_b.cos_e").alias("cosine"),
        F.coalesce(
            F.col("_b.cos_e") >= F.lit(tau), F.lit(False)
        ).alias("contaminated"),
    )


def assemble_pq_seeds(
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float | None = None,
) -> DataFrame:
    """Re-assemble :func:`pq_codebook_train`'s exploded output into the
    seeds frame the PQ paths consume — ``_pq_rows`` reads seeds through
    the CORPUS column names (id_col, vec_col), so the assembled frame
    drops straight into ``pq_encode(seeds=...)`` / ``pq_adc_topk`` /
    ``ivf_pq_index_create``. For each code id, the full-dim vector is
    the concatenation of its per-block centroids in (b, i) order —
    exactly how the default seed vectors are sliced back apart.

    ``scale``: the corpus-global quantization scale (``gscale`` from
    :func:`quantize_int8_global`) — multiplying the int8 centroid bytes
    by it maps the codebook back into FLOAT corpus space, so the PQ
    paths can encode raw floats against a trained codebook."""
    elem = (
        (lambda s: (s["cs"].cast("double") * F.lit(float(scale))).cast("float"))
        if scale is not None
        else (lambda s: s["cs"].cast("float"))
    )
    return (
        codebook.groupBy("cid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("b", "i", "cs"))
            ).alias("_p")
        )
        .select(
            F.col("cid").alias(id_col),
            F.transform("_p", elem).alias(vec_col),
        )
    )


# -------------------------------------------- persisted IVF-PQ index


def _adc_lut_map(lut: DataFrame, key_cols: tuple[str, ...] = ("b", "cid")) -> DataFrame:
    """Pivot a per-query ADC lookup table (query_id, *key_cols, qd) into
    ONE map column per query (r11, guide §2.3/§2.4): the ADC stage used
    to posexplode every candidate's code array to (b, cid) rows, meet
    the broadcast LUT in a join, and re-assemble pairs with a
    (query, neighbor)-keyed pivot aggregate — an n_blocks× row fan-out
    plus a full pair exchange spent re-attaching values that are a
    per-row function of the code columns. With the LUT as a broadcast
    map, the per-block distances attach map-side via ``element_at`` and
    the pair exchange disappears.

    Keys are '_'-joined strings (``concat_ws`` of the integer key
    columns) — engine-neutral, collision-free for any id domain, and a
    128-entry map probe is noise next to the removed shuffle. Entry
    order is irrelevant: keys are unique per query, and map lookup
    doesn't depend on insertion order, so ``collect_list`` feeding
    ``map_from_entries`` is deterministic in effect.

    PRECONDITION (ADVICE r11): the ``lut`` frame must hold at most one
    row per (query_id, *key_cols) — every internal caller derives it
    from a distinct-seed grid, which guarantees that. A caller-supplied
    frame with duplicate key rows fails FAST at runtime
    (``map_from_entries`` raises under the default
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION``) rather than silently
    aggregating duplicates as the old pivot's ``max()`` did."""
    return lut.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.concat_ws("_", *[F.col(c) for c in key_cols]).alias("key"),
                    F.col("qd").alias("value"),
                )
            )
        ).alias("_lut")
    )


def _adc_dist(n_blocks: int, prefix: Column | None = None) -> Column:
    """The ADC distance over wide code columns c0..c{B-1} against the
    broadcast ``_lut`` map: Σ_b lut['b_c{b}'] in FIXED ascending block
    order — the same left-to-right double sum the pivot form assembled
    (qd0 + qd1 + ...), so the result is bit-identical. A missing map key
    yields NULL and poisons the sum to NULL, exactly as the old pivot's
    unmatched-block NULL did; callers keep the LUT complete (the full
    codebook grid per query) so neither form ever takes that branch.
    ``prefix`` prepends extra key columns (the residual path keys its
    LUT by probed bucket too)."""
    dist: Column | None = None
    for b in range(n_blocks):
        parts = ([prefix] if prefix is not None else []) + [
            F.lit(b),
            F.col(f"c{b}"),
        ]
        term = F.element_at(F.col("_lut"), F.concat_ws("_", *parts))
        dist = term if dist is None else dist + term
    return dist


def _pushdown_barrier(df: DataFrame) -> DataFrame:
    """Stop the optimizer from pushing predicates BELOW this point —
    guide §4.4's duplication problem, higher-order-function edition.

    Joining a map-side argmin column (cid/ccid) against a codebook that
    was DERIVED BY A FILTER (e.g. ``vec_id % 97 == 0``) lets
    InferFiltersFromConstraints synthesize the codebook's predicate on
    the computed column and push it under the projection, re-deriving
    the whole argmin expression per reference — n7's plan carried the
    coarse argmin THREE times per corpus row (twice in a
    BroadcastNestedLoopJoin condition, once in the projection; measured
    +26%). An always-TRUE nondeterministic filter is a wall predicates
    cannot cross, while column pruning still passes through (the filter
    references no columns). Task retries are safe: the predicate holds
    for every value, so the row set is deterministic. The expression
    must be one whose value range Spark can NOT fold — rand()/randn()
    comparisons are simplified away by the 4.x optimizer;
    monotonically_increasing_id is opaque and costs only a per-row
    counter read."""
    return df.filter(F.monotonically_increasing_id() >= F.lit(-1))


def _ivfpq_row_projection(
    emb: DataFrame,
    centroids: DataFrame | None,
    seeds: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_blocks: int,
) -> DataFrame:
    """Coarse assignment + PQ codes as ONE map-side projection against
    the frozen codebooks (r11, guide §2.4): both codebooks collapse to a
    single 1-row broadcast of arrays, and each vector's ccid / c0..c{B-1}
    are per-row array-fold argmins — zero corpus shuffles, zero joins,
    one corpus scan. The previous shape paid 2 corpus exchanges
    (assign_centroids' agg + the codes window/groupBy pair) plus 2
    id-keyed joins PER CALL — per MICRO-BATCH on the st19 ingest path.

    Value-equivalence with the old cascade is exact, not approximate:
    every cosine / block distance is the same dot_fold expression over
    the same operands (IEEE-deterministic), and the argmins replicate the
    window/agg orderings including NULL/NaN priority — coarse uses
    assign_centroids' rank trick (NaN(0) < real(1) < NULL(2), then -cos,
    then cid), codes use the `ORDER BY d ASC NULLS FIRST, cid ASC` rank
    (NULL(0) < real(1) < NaN(2)); `array_min` and `min(struct)` share
    the same total struct order. Degenerate empty codebooks produce NULL
    argmins, filtered to match the old inner joins' empty result.

    ``centroids=None`` yields the CODES-ONLY form (no ccid column, no
    coarse codebook in the broadcast) — pq_adc_topk's flat-ADC corpus
    side, sharing every argmin expression with the IVF-PQ tier.

    Plan-size note (r11): all per-block work is expressed as ONE nested
    lambda over the block index (``transform(sequence(0, B-1), ...)``),
    not B unrolled copies — the unrolled form made the Catalyst tree
    ~B× larger and driver analysis cost ~1 s PER CALL at B=8 (measured
    on n5: build 2.0 s vs 1.0 s), which the st19 ingest path pays per
    micro-batch. Same element expressions, same values; ``F.slice``
    with a lambda-bound start is the same 1-based block slice."""
    size = dim // n_blocks
    mul = lambda x, y: x * y  # noqa: E731

    def _blocks_self_fold(vcol: Column) -> Column:
        # per-block self-dot array: [fold(block_b · block_b)] for b in
        # 0..B-1 — the unrolled _pq_fold2(_pq_block(b)) columns as one
        # transform; identical element trees, identical doubles
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_blocks - 1)),
            lambda b: _pq_fold2(
                F.slice(vcol, b * size + 1, size),
                F.slice(vcol, b * size + 1, size),
                mul,
            ),
        )

    sd = seeds.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        _blocks_self_fold(F.col(vec_col)).alias("cn2"),
    )
    aux = sd.agg(F.collect_list(F.struct("cid", "cv", "cn2")).alias("_seeds"))
    if centroids is not None:
        ca = centroids.select(
            F.col("cid"), F.col("cvec"), norm_fold("cvec").alias("cn")
        )
        aux = ca.agg(
            F.collect_list(F.struct("cid", "cvec", "cn")).alias("_cents")
        ).crossJoin(aux)
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    # the per-row |centroids| + 16×n_blocks fold fan-out is map-side CPU:
    # widen a narrow scan so it doesn't run on 1-2 cores (no-op at real
    # scale or on non-file inputs like foreachBatch micro-batches)
    e = widen_narrow_input(emb.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_fold(vec_col).alias("cn"),
        _blocks_self_fold(F.col(vec_col)).alias("_en2"),
    )
    rows = e.crossJoin(F.broadcast(aux))

    # coarse bucket: assign_centroids' `ORDER BY cos DESC, cid ASC` with
    # its exact NULL/NaN priority, as an array argmin
    if centroids is not None:
        scored = F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                (
                    dot_fold(F.col("cv"), c["cvec"]) / (F.col("cn") * c["cn"])
                ).alias("cos"),
                c["cid"].alias("cid"),
            ),
        )

        def _coarse_key(s: Column) -> Column:
            rk = (
                F.when(s["cos"].isNull(), F.lit(2))
                .when(F.isnan(s["cos"]), F.lit(0))
                .otherwise(F.lit(1))
            )
            neg = F.when(rk == F.lit(1), -s["cos"]).otherwise(F.lit(0.0))
            return F.struct(
                rk.alias("rk"), neg.alias("neg"), s["cid"].alias("cid")
            )

        ccid = F.array_min(F.transform(scored, _coarse_key))["cid"]

    # PQ codes for ALL blocks as one nested lambda: the codes window's
    # `ORDER BY d ASC NULLS FIRST, cid ASC` (NaN sorts last ascending)
    # as an array argmin per block index; d is the same
    # (en2b + cn2b) - 2*dotb expansion over the same folds, materialized
    # ONCE per seed in the inner transform's struct (the key transform
    # reads the struct field, never re-derives d)
    def _key(s: Column) -> Column:
        rk = (
            F.when(s["d"].isNull(), F.lit(0))
            .when(F.isnan(s["d"]), F.lit(2))
            .otherwise(F.lit(1))
        )
        dv = F.when(rk == F.lit(1), s["d"]).otherwise(F.lit(0.0))
        return F.struct(rk.alias("rk"), dv.alias("d"), s["cid"].alias("cid"))

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda b: F.array_min(
            F.transform(
                F.transform(
                    F.col("_seeds"),
                    lambda s: F.struct(
                        (
                            (
                                F.element_at(F.col("_en2"), b + 1)
                                + F.element_at(s["cn2"], b + 1)
                            )
                            - F.lit(2.0)
                            * dot_fold(
                                F.slice(F.col("cv"), b * size + 1, size),
                                F.slice(s["cv"], b * size + 1, size),
                            )
                        ).alias("d"),
                        s["cid"].alias("cid"),
                    ),
                ),
                _key,
            )
        )["cid"],
    )

    # empty-codebook degenerate: the old inner joins produced no
    # rows; gate on the ARRAY sizes (argmin(empty) is NULL) — a
    # filter on the computed ccid/c0 columns would push below the
    # projection and evaluate the argmin expressions twice
    gate = F.size(F.col("_seeds")) > 0
    extra: list[Column] = []
    if centroids is not None:
        gate = (F.size(F.col("_cents")) > 0) & gate
        extra = [ccid.alias("ccid")]
    wide = _pushdown_barrier(
        rows.filter(gate).select(
            "neighbor_id", "cv", "cn", codes.alias("_codes"), *extra
        )
    )
    # c0..c{B-1} extract ABOVE the barrier: the nondeterministic filter
    # keeps CollapseProject from inlining the codes array 8× — the
    # array computes once per row, the extracts are O(1) reads
    return wide.select(
        "neighbor_id",
        "cv",
        "cn",
        *[
            F.element_at(F.col("_codes"), b + 1).alias(f"c{b}")
            for b in range(n_blocks)
        ],
        *(["ccid"] if centroids is not None else []),
    )


def _write_ivfpq_rows(
    emb: DataFrame,
    centroids: DataFrame,
    seeds: DataFrame,
    path: str,
    mode: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_blocks: int,
) -> None:
    """The ONE definition of a persisted IVF-PQ row — (neighbor_id,
    c0..c{B-1}, cv, cn) partitioned by coarse bucket ccid. Codes and
    coarse assignment are per-row functions of the FROZEN codebooks, so
    create and append produce bit-identical rows for the same vector
    regardless of batch boundaries. Floats (cv, cn) ride in the SAME
    files as the codes: parquet column pruning makes the ADC scan read
    code bytes only, while the rerank reads floats of the same probed
    partitions — one table, two access shapes. The rows come from
    :func:`_ivfpq_row_projection` — one corpus scan, no shuffles."""
    from mrf_etl_spark.io.writers import table_lock

    # held for the write so an ivf_pq_index_compact cannot read-and-swap
    # a partition while this write is landing files in it (ADVICE r10:
    # the compact's atomic_overwrite would silently erase them);
    # compact holds the same codes-table lock for its whole sweep
    with table_lock(f"{path}/codes"):
        (
            _ivfpq_row_projection(
                emb, centroids, seeds, id_col, vec_col, dim, n_blocks
            )
            # one payload shuffle, keyed by the FINAL layout (guide §8):
            # the projection computes wide (map-side CPU), the exchange
            # moves each row once into its ccid bucket, and the write
            # lands ≤|ccids| files per call instead of tasks×|ccids|
            # (the probe-time file count is what every query pays)
            .repartition("ccid")
            .write.mode(mode)
            .partitionBy("ccid")
            .parquet(f"{path}/codes")
        )


def ivf_pq_index_create(
    emb: DataFrame,
    path: str,
    centroids: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
) -> None:
    """Materialize the composed IVF-PQ index ON THE LAKE (VERDICT r8 #2:
    n7 re-encodes the corpus inside every query run — the entire
    remaining sf1 slope; this moves the PQ encode to ingest where a
    persisted index amortizes it). Layout under ``path``:

    * ``centroids/`` — the frozen coarse codebook (cid, cvec);
    * ``pq_codebook/`` — the frozen PQ sub-centroid seeds (cid, cv);
    * ``codes/`` — hive-partitioned by coarse bucket ``ccid``, one row
      per vector: (neighbor_id, c0..c{B-1}, cv, cn).

    A query then reads nprobe PARTITIONS of code columns (column-pruned
    parquet: ~1% of float bytes) and touches floats only for the rerank
    rows — the 100 TB story n7's docstring promises, made durable.
    Both codebooks are frozen at create time (in production, k-means
    outputs); appends assign against them, never retrain."""
    centroids.select("cid", "cvec").write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    seeds.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    ).write.mode("overwrite").parquet(f"{path}/pq_codebook")
    _write_ivfpq_rows(
        emb, centroids, seeds, path, "overwrite", id_col, vec_col, dim, n_blocks
    )


def ivf_pq_index_append(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
) -> None:
    """Incremental maintenance: PQ-encode and coarse-assign ONLY the new
    vectors against the frozen codebooks, appending to the touched ccid
    partitions — O(batch × codebooks), no rebuild, no rewrite of
    existing files (ivf_index_append's contract, now carrying codes)."""
    spark = new_emb.sparkSession
    cent = spark.read.parquet(f"{path}/centroids")
    seeds = spark.read.parquet(f"{path}/pq_codebook").select(
        F.col("cid").alias(id_col), F.col("cv").alias(vec_col)
    )
    _write_ivfpq_rows(
        new_emb, cent, seeds, path, "append", id_col, vec_col, dim, n_blocks
    )


def ivf_pq_index_delete(
    ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Tombstone deletes for the persisted IVF-PQ index — the missing
    third of the create/append/query lifecycle (a production 100 TB
    index must unlearn vectors: takedowns, re-embeddings, TTL expiry)
    WITHOUT rewriting code partitions on the delete path.

    Writes ``(neighbor_id, ccid)`` tombstone rows to
    ``{path}/tombstones``: each deleted id's coarse bucket is resolved
    from the codes table once at delete time (a column-pruned 2-column
    scan + broadcast semi-join — the reverse-id index a larger
    deployment would maintain), so compaction later rewrites ONLY the
    affected ccid partitions and queries could prune the anti-join by
    probed bucket. Ids absent from the index resolve to no rows and are
    silently no-ops (delete is idempotent: re-deleting appends duplicate
    tombstones, which the query-side DISTINCT and compaction both
    collapse).

    Deleted vectors stop matching IMMEDIATELY at query time
    (:func:`ivf_pq_index_query` anti-joins the tombstone set BEFORE
    candidate generation, so a tombstoned row cannot consume a
    candidate slot either); physical removal happens at the next
    :func:`ivf_pq_index_compact`."""
    spark = ids.sparkSession
    doomed = ids.select(
        F.col(id_col).cast("long").alias("neighbor_id")
    ).distinct()
    codes = (
        spark.read.parquet(f"{path}/codes")
        .withColumn("ccid", F.col("ccid").cast("long"))
        .select("neighbor_id", "ccid")
    )
    codes.join(F.broadcast(doomed), "neighbor_id").distinct().write.mode(
        "append"
    ).parquet(f"{path}/tombstones")


def _ivfpq_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The index's live tombstone set as (neighbor_id, ccid), or None if
    nothing is tombstoned. Constant-small by construction (delete lists,
    not corpus rows)."""
    import os

    tomb = f"{path}/tombstones"
    if not os.path.isdir(tomb) or not any(
        f.endswith(".parquet")
        for _, _, files in os.walk(tomb)
        for f in files
    ):
        return None
    return spark.read.parquet(tomb).select("neighbor_id", "ccid").distinct()


def ivf_pq_index_compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> int:
    """Maintenance half of the streamed index lifecycle (st19 appends
    one file set per micro-batch, so a long-running ingest accretes
    small files in every ccid partition — at scale the probed
    partitions' file-open/footer overhead comes to dominate query time
    long before data volume does): compact each coarse-bucket partition
    of the codes table PER PARTITION DIRECTORY (compact_parquet's
    documented discipline for hive layouts — a hot bucket's rewrite
    never touches cold ones), skipping buckets already at or under
    ``min_files`` files. Queries before and after are IDENTICAL (the
    rewrite is row-preserving and every query stage re-sorts) — pinned
    by test. Returns the number of partitions compacted.

    TOMBSTONE-AWARE: partitions holding tombstoned rows (recorded with
    their ccid at delete time by :func:`ivf_pq_index_delete`) are
    rewritten regardless of file count, dropping those rows physically;
    the tombstone files are cleared only AFTER every affected partition
    is rewritten. Crash between the two steps leaves tombstones whose
    rows are already gone — harmless (the query-side anti-join of
    absent ids is a no-op, and the next compaction clears them)."""
    import os
    import shutil

    from mrf_etl_spark.io.writers import (
        atomic_overwrite,
        compact_parquet,
        table_lock,
    )

    codes = f"{path}/codes"
    tomb = _ivfpq_tombstones(spark, path)
    doomed_ccids: set[int] = set()
    if tomb is not None:
        doomed_ccids = {
            r["ccid"] for r in tomb.select("ccid").distinct().collect()
        }
    done = 0
    # the WHOLE scan-rewrite-clear sequence holds the codes-table
    # lock (ADVICE r10): an ivf_pq_index_append landing a file in a
    # partition between our read and the atomic swap would otherwise
    # be silently erased when the pre-append bytes swap back in.
    # _write_ivfpq_rows takes the SAME lock, so append and compact
    # are mutually excluded; compact_parquet's own per-partition
    # lock nests under this one (different lock dirs, no deadlock).
    with table_lock(codes):
        for entry in sorted(os.listdir(codes)):
            part = os.path.join(codes, entry)
            # skip non-partition dirs, incl. a stale `ccid=N.lock` left
            # by a crashed compact_parquet (its int() parse would throw)
            if not (
                entry.startswith("ccid=")
                and os.path.isdir(part)
                and not entry.endswith(".lock")
            ):
                continue
            ccid = int(entry.split("=", 1)[1])
            if ccid in doomed_ccids:
                # physical delete: rewrite the bucket minus its tombstoned
                # rows (atomic swap, same discipline as compact_parquet)
                total = sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for dirpath, _, files in os.walk(part)
                    for f in files
                    if f.endswith(".parquet")
                )
                n_files = max(1, -(-total // target_bytes))
                kept = (
                    spark.read.parquet(part)
                    .join(
                        F.broadcast(
                            tomb.filter(F.col("ccid") == ccid).select(
                                "neighbor_id"
                            )
                        ),
                        "neighbor_id",
                        "left_anti",
                    )
                    .repartition(n_files)
                )
                atomic_overwrite(kept, part)
                done += 1
                continue
            n_files = sum(
                1 for f in os.listdir(part) if f.endswith(".parquet")
            )
            if n_files <= min_files:
                continue
            compact_parquet(spark, part, target_bytes=target_bytes)
            done += 1
        if doomed_ccids:
            # every affected partition rewritten: the tombstones are
            # physically realized, clear them
            shutil.rmtree(f"{path}/tombstones")
    return done


def ivf_pq_index_query(
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
    nprobe: int = 2,
    n_candidates: int = 50,
    k: int = 5,
) -> DataFrame:
    """Query the persisted IVF-PQ index with semantics IDENTICAL to
    :func:`ivf_pq_topk` over the same corpus + codebooks — batch
    boundaries and append history invisible (n4's contract for the
    composed index). Per query: pick nprobe coarse buckets against the
    broadcast codebook, read ONLY those ccid partitions' CODE columns,
    ADC-score against the query's 16×n_blocks lookup table, keep
    n_candidates, rerank exactly on the same partitions' float columns.
    The per-run corpus PQ encode that dominated n7's scale slope is
    gone — query cost tracks Σ|probed partitions|, not corpus size.

    .. note:: reads a cached probe cascade like ivf_index_query;
       long-lived callers must ``state.release_state`` after consuming."""
    spark = queries.sparkSession
    cent = spark.read.parquet(f"{path}/centroids")
    seeds = spark.read.parquet(f"{path}/pq_codebook").select(
        F.col("cid").alias(id_col), F.col("cv").alias(vec_col)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", norm_fold("qv"))
    qprobe = q.crossJoin(
        F.broadcast(cent.withColumn("_cnorm", norm_fold("cvec")))
    ).withColumn(
        "cos_c", dot_fold("qv", "cvec") / (F.col("qn") * F.col("_cnorm"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid").asc()
    )
    # consumed twice: collected for the partition filter, joined for
    # the per-query bucket match — bounded at |queries|*nprobe rows
    probes = state.persist(
        qprobe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", F.col("cid").alias("ccid"))
    )
    probed_ccids = [r["ccid"] for r in probes.select("ccid").distinct().collect()]
    idx = (
        spark.read.parquet(f"{path}/codes")
        # partition-dir inference types ccid; cast defensively so the
        # broadcast-join key matches the probe list's long
        .withColumn("ccid", F.col("ccid").cast("long"))
        .filter(F.col("ccid").isin(probed_ccids))
    )
    tomb = _ivfpq_tombstones(spark, path)
    if tomb is not None:
        # deletes take effect at query time, BEFORE candidate generation
        # — a tombstoned row can neither match nor consume a candidate
        # slot; the tombstone set is constant-small, broadcast anti-join
        idx = idx.join(
            F.broadcast(tomb.select("neighbor_id")), "neighbor_id", "left_anti"
        )
    # the query's ADC lookup table: its block distance to every PQ
    # sub-centroid, the same (en2b + cn2b) - 2*dotb expansion the codes
    # were argmin'd under
    lut = _pq_rows(queries, id_col, vec_col, dim, n_blocks, seeds, None).select(
        F.col("vec_id").alias("query_id"), "b", "cid", F.col("d").alias("qd")
    )
    # ADC attaches map-side from the broadcast per-query LUT map (r11):
    # the probed partitions' wide code columns never posexplode, and the
    # former (query, neighbor) pivot exchange is gone — the only shuffle
    # left on the serve path is the top-k window's query_id exchange
    lutm = _adc_lut_map(lut)
    w_cand = Window.partitionBy("query_id").orderBy(
        # asc_nulls_last (ADVICE r11): a NULL adc can only arise from an
        # incomplete caller-supplied LUT; rank it LAST so that failure
        # mode degrades like the old inner-join shape (candidate
        # dropped) instead of promoting phantom pairs to rank 1. With
        # the complete LUT grids every caller builds, no NULL exists and
        # the ordering — hence the output — is bit-identical.
        F.col("adc").asc_nulls_last(), F.col("neighbor_id").asc()
    )
    cand = (
        idx.select("neighbor_id", "ccid", *[f"c{b}" for b in range(n_blocks)])
        .join(F.broadcast(probes), "ccid")
        .join(F.broadcast(lutm), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _adc_dist(n_blocks).alias("adc"))
        .withColumn("crank", F.row_number().over(w_cand))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    floats = idx.select("neighbor_id", "cv", "cn")
    rer = (
        cand.join(floats, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn"))
        )
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_recall_report(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k audit of an approximate ANN result against its exact
    baseline — the evaluation harness every production ANN deployment
    needs before trusting an index (tune nprobe/bands until recall
    holds, re-audit after reindexing). Per query:
    (query_id, n_exact, n_hit, recall) where n_hit counts exact top-k
    neighbors the approximate result recovered.

    Plan shape: both inputs are top-k results (k rows per query — tiny
    relative to any corpus), so the join is broadcast-sized and the
    aggregate is one combinable pass; the expensive parts are the ANN
    cascades themselves, which the caller already ran. Works for any
    pair of result sets sharing the (query, neighbor) schema (IVF vs
    brute, PQ-ADC vs brute, LSH vs brute)."""
    a = approx.select(query_col, neighbor_col).withColumn("_hit", F.lit(True))
    j = exact.select(query_col, neighbor_col).join(
        a, [query_col, neighbor_col], "left"
    )
    return (
        j.groupBy(query_col)
        .agg(F.count("*").alias("n_exact"), F.count("_hit").alias("n_hit"))
        .select(
            query_col,
            "n_exact",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_exact").cast("double")).alias(
                "recall"
            ),
        )
    )


def hard_negatives(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    centroid_mod: int = 97,
    nprobe: int = 2,
    query_filter: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training (n10) —
    for each query, the top-k most-similar vectors that carry a
    DIFFERENT label: the negatives that sit closest to the decision
    boundary, which is what makes a contrastive batch informative
    (random negatives are trivially separable and teach nothing).

    This is n9's filtered ANN with a PER-QUERY relational predicate
    instead of a global one: the exclusion depends on the query row
    (``label(q) != label(n)``), so it joins through the probe rows
    rather than pushing into the scan. Semantics stay PRE-filter —
    same-label candidates are excluded inside the probed buckets
    BEFORE ranking, so the top-k is k true negatives, never an
    underfilled list (post-filtering drops ranks whenever a positive
    lands in the top-k).

    Scale shape is ivf_topk's: bounded centroid broadcast, nprobe
    bucket-pruned candidate join, labels ride the same rows the
    cascade already carries — no extra shuffle. Deterministic
    end-to-end (seed centroids, cosine DESC / id ASC ties), so the
    oracle replays the cascade exactly.

    Returns (query_id, neighbor_id, cosine, rank), rank 1..k per query.
    """
    cent = emb.filter((F.col(id_col) % centroid_mod) == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    # cid attaches map-side, labels ride the same rows (r11 — the former
    # assign_centroids output joined back by id)
    corpus = (
        _with_centroid(
            emb.select(F.col(id_col), F.col(vec_col), F.col(label_col)),
            cent, id_col, vec_col,
        )
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            F.col(label_col).alias("n_label"),
            "cid",
        )
        .withColumn("cn", norm_fold("cv"))
    )
    q = emb.filter(query_filter) if query_filter is not None else emb
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("q_label"),
    ).withColumn("qn", norm_fold("qv"))
    # zero-norm gate (the n11/d14 treatment): ungated 0/0 is NaN on
    # Spark but NaN-vs-NULL sort order diverges across engines; the
    # explicit when(norms > 0) makes both sides say NULL, which sorts
    # LAST under DESC on both (Spark desc_nulls_last default, oracle
    # DESC NULLS LAST)
    qprobe = q.crossJoin(
        F.broadcast(cent.withColumn("_cnorm", norm_fold("cvec")))
    ).withColumn(
        "cos_c",
        F.when(
            (F.col("qn") > 0) & (F.col("_cnorm") > 0),
            dot_fold("qv", "cvec") / (F.col("qn") * F.col("_cnorm")),
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid").asc()
    )
    probes = (
        qprobe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", "q_label", "cid")
    )
    scored = (
        corpus.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .filter(F.col("q_label") != F.col("n_label"))
        .withColumn(
            "cosine",
            F.when(
                (F.col("qn") > 0) & (F.col("cn") > 0),
                dot_fold("qv", "cv") / (F.col("qn") * F.col("cn")),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cluster_map(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    seed_mod: int = 97,
    iters: int = 2,
) -> DataFrame:
    """Cluster corpus map (q10) — the curation audit behind
    cluster-inspected dataset releases (Dolma / Nemotron-CC style):
    train the coarse codebook on the corpus (e6's spherical k-means),
    assign EVERY vector to its nearest trained centroid, and report
    each cluster's size and dominant label — the table a curator reads
    to find junk clusters (one label dominating a huge cluster),
    mislabeled pockets, and topic balance before a release cut.

    INTEGER-EXACT end-to-end: training is :func:`kmeans_codebook`
    verbatim; the final assignment reuses its argmax recipe (exact
    int64 dot / sqrt of exact |c|² — two correctly-rounded IEEE ops,
    ties to the lowest cid, zero centroids rank last); the per-cluster
    dominant label is the deterministic mode (count DESC, label ASC —
    the a17 rule). Every row of the report replays exactly.

    Plan shape: e6's training iterations (one assign + sum-agg job each,
    the codebook on the driver), then ONE more assign pass with the
    trained codebook + a (cid, label) count agg that collapses map-side
    — the report table is k rows. At
    100 TB nothing new shuffles the corpus beyond what training
    already does; the assignment output is the same (vid, cid) frame a
    persisted index would store anyway.

    Returns (cid, n_members, top_label, top_label_n): k all-integer
    rows, n_members counted from the FINAL assignment (a third
    assignment pass against the trained codebook — not the iteration-2
    update counts e6 reports).
    """
    book = _kmeans_train(emb, id_col, vec_col, dim, seed_mod, iters)
    # ONE assignment kernel for the whole codebook family: the same
    # argmax the trainer and st20/st23 call, so batch and streaming
    # assignments can never drift apart. The label rides the quantized
    # rows (no (vid, label) join back by id).
    q = quantize_int8(
        emb.withColumn("_lab", F.col(label_col).cast("long")),
        vec_col,
        id_col,
        keep=("_lab",),
    ).select(F.col(id_col).alias("vid"), "qvec", F.col("_lab").alias("label"))
    counts = (
        _with_centroid_int8(q, book)
        .groupBy("cid", "label")
        .agg(F.count("*").alias("n"))
    )
    return (
        counts.groupBy("cid")
        .agg(
            F.sum("n").alias("n_members"),
            F.min(
                F.struct((-F.col("n")).alias("negn"), F.col("label").alias("lb"))
            ).alias("_m"),
        )
        .select(
            "cid",
            "n_members",
            F.col("_m.lb").alias("top_label"),
            (-F.col("_m.negn")).cast("long").alias("top_label_n"),
        )
    )


def matryoshka_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    dim_t: int = 16,
    query_filter: Column | None = None,
    n_candidates: int = 50,
    k: int = 5,
) -> DataFrame:
    """Matryoshka / truncatable-embedding ANN (n11) — the MRL serving
    pattern (Kusupati et al. 2022; the shape behind truncatable API
    embeddings): shortlist candidates by cosine over only the FIRST
    ``dim_t`` dimensions (a dim_t/dim-cost scan — MRL training packs
    the signal into the prefix; e3's truncation-quality audit measures
    exactly how much survives), then rerank the shortlist with the
    exact full-dimension cosine. The index-free counterpart to IVF/PQ:
    no codebook to train or drift (e8's monitor is moot), just a
    cheaper scan — the right tool when embeddings are MRL-trained and
    the corpus partition is already pruned by other predicates.

    Determinism: both stages are fold cosines with (score DESC NULLS
    LAST, id ASC) ties — the truncated stage gates zero-prefix vectors
    to NULL explicitly (Spark 0/0=NULL vs DuckDB NaN), so the oracle
    replays shortlist AND final ranks exactly.

    Scale shape: bounded query broadcast onto the corpus scan (n1's
    allowlisted shape) with a dim_t-term fold; the rerank touches only
    |Q|×n_candidates rows. Returns (query_id, neighbor_id, cosine,
    rank), rank 1..k — approximate vs n1, recall measured in tests.
    """
    corpus = (
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .withColumn("cvt", F.slice("cv", 1, dim_t))
        .withColumn("cnt", norm_fold("cvt"))
        .withColumn("cn", norm_fold("cv"))
    )
    q = emb.filter(query_filter) if query_filter is not None else emb
    q = (
        q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qvt", F.slice("qv", 1, dim_t))
        .withColumn("qnt", norm_fold("qvt"))
        .withColumn("qn", norm_fold("qv"))
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_t",
            F.when(
                (F.col("qnt") > 0) & (F.col("cnt") > 0),
                dot_fold("qvt", "cvt") / (F.col("qnt") * F.col("cnt")),
            ),
        )
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cos_t").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    short = (
        scored.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= n_candidates)
    )
    rer = short.withColumn(
        "cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _power_train(q: DataFrame, dim: int, iters: int) -> list[list[int]]:
    """The e12/e13 power iteration over int8 rows (qvec); returns the
    requantized direction after each iteration. From v₀ = 1⃗, each
    iteration is one corpus agg of ``Σ (x·v)·x_i`` against the literal v,
    whose single row the driver requantizes with e1's recipe
    (:func:`_requantize_int8`, NULL sums of an empty corpus read as 0)."""
    sums = [
        F.sum(F.col("_d") * F.element_at("qvec", i + 1).cast("long"))
        for i in range(dim)
    ]
    v, out = [1] * dim, []
    for _ in range(iters):
        s = q.withColumn("_d", _int_dot(v)).agg(*sums).first()
        v = _requantize_int8([x or 0 for x in s])
        out.append(v)
    return out


def deflated_directions(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 2,
    n_components: int = 2,
) -> DataFrame:
    """Top-k principal directions via DEFLATED power iteration (e13) —
    e12's dominant-direction extraction extended to the next components:
    after converging v₁, every row is orthogonalized against it and the
    iteration reruns on the deflated corpus — the "All-but-the-Top"
    D-component removal (Mu & Viswanath 2018) and the axes an
    embedding-whitening / drift dashboard tracks, computed ON the
    engine (only dim-sized directions ever leave an executor).

    INTEGER-EXACT deflation (the e6/e9/e12 doctrine): with n₁ = Σv₁²
    (int64), each row deflates as ``x' = x·n₁ − (x·v₁)·v₁`` — exact
    int64 products (|x·n₁| ≤ 127·64·127² ≈ 1.3e8, |(x·v₁)·v₁| same
    class), and EXACTLY orthogonal to v₁ in that arithmetic
    (x'·v₁ = (x·v₁)n₁ − (x·v₁)n₁ = 0); the per-row e1 int8 requantize
    (:func:`quantize_int8` itself) then bounds the next component's
    products independent of corpus size (it costs exact orthogonality a
    rounding ulp but keeps every byte deterministic — what the oracle
    replay needs).

    Each component is :func:`_power_train` (dim-sized driver state, one
    combinable 64-sum agg per iteration); between components the
    deflation is ONE map-side projection against the literal v₁ and n₁.
    Training runs when this frame is built. Returns (comp, i, v): the
    FINAL int8 direction per component, n_components·dim all-integer
    rows."""
    q = quantize_int8(emb, vec_col, id_col).select(
        F.col(id_col).alias("vid"), "qvec"
    )
    rows = []
    for comp in range(1, n_components + 1):
        v = _power_train(q, dim, iters)[-1]
        rows += [(comp, i, vi) for i, vi in enumerate(v)]
        if comp < n_components:
            # integer deflation against the component just found
            n1 = F.lit(sum(vi * vi for vi in v)).cast("long")
            defl = F.zip_with(
                "qvec",
                F.lit(v).cast("array<bigint>"),
                lambda x, vv: x.cast("long") * n1 - F.col("_dv") * vv,
            )
            q = quantize_int8(
                q.withColumn("_dv", _int_dot(v)).select("vid", defl.alias("_x")),
                "_x",
                "vid",
            ).select("vid", "qvec")
    return emb.sparkSession.createDataFrame(rows, "comp int, i int, v bigint")


def power_iteration(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 2,
) -> DataFrame:
    """Dominant-direction extraction (e12) — power iteration on the
    corpus's (uncentered) second-moment matrix Σ x·xᵀ: the direction
    embedding collections are anisotropic along, which "All-but-the-Top"
    (Mu & Viswanath 2018) removes to restore cosine contrast, and the
    drift axis an embedding-QA dashboard watches. Run ON the engine —
    the corpus never leaves Spark, only the dim-sized direction does.

    INTEGER-EXACT iterative linear algebra (the e6/e9 doctrine, fourth
    instance): features are e1's int8 quantization; each iteration is
    v ← quantize(Σ_rows (x·v)·x) — the per-row projection x·v is an
    exact int64, the update is ONE map-side-combinable 64-sum, and the
    e1-style int8 requantize keeps every product bounded independent
    of corpus size per iteration (per-row contribution ≤ 64·127²·127 ≈
    1.3e8, int64-safe beyond 10¹⁰ rows — same headroom class as e9's
    update). From v₀ = 1⃗ the sign is pinned, so the oracle unrolls the
    iterations and replays every byte.

    The direction lives on the driver (:func:`_power_train`): each
    iteration is one scan with the exact dot against the literal v and
    one combinable agg whose single row is collected and requantized,
    so training runs when this frame is built. Returns (iter, i, v): the
    int8 direction after each iteration — iters·dim all-integer rows.
    """
    q = quantize_int8(emb, vec_col, id_col).select(
        F.col(id_col).alias("vid"), "qvec"
    )
    return emb.sparkSession.createDataFrame(
        [
            (k, i, vi)
            for k, v in enumerate(_power_train(q, dim, iters), 1)
            for i, vi in enumerate(v)
        ],
        "iter int, i int, v bigint",
    )


def dim_permutation(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
) -> DataFrame:
    """Variance-balanced dimension permutation for product quantization
    (the n15 prep) — the free-form OPQ initialization of Ge et al.
    CVPR'13 reduced to its permutation core: PQ's accuracy suffers when
    one sub-block hoards the corpus variance (its 16 codes must cover a
    wide subspace while other blocks' codes idle), and the parametric
    OPQ solution allocates dimensions so every block carries comparable
    energy. This implements that allocation WITHOUT the rotation:

      1. per-dimension variance of the corpus-globally int8-quantized
         vectors — integer-exact ``n·Σx² − (Σx)²`` per dimension
         (decimal-widened products; DuckDB mirrors with HUGEINT), one
         map-side-combinable agg producing a ``dim``-row table;
      2. rank dimensions by variance (descending, index ties ascending)
         — the only window, over ``dim`` rows;
      3. serpentine (boustrophedon) allocation over the ranked list:
         round r = rank div n_blocks hands one dimension to each block,
         alternating direction per round so no block systematically
         receives the richer end — the classic balanced-sequence
         schedule, closed-form (no sequential greedy, no driver loop,
         exact SQL replay).

    Returns (j, orig): new position j (0-based; block = j div size)
    takes original dimension ``orig``. Deterministic for any corpus;
    a variance-uniform corpus yields a valid (if arbitrary) balanced
    permutation. All work is one pass over the corpus + dim-row math —
    the 100 TB cost is the same single agg e1's global max already
    pays.
    """
    from pyspark.sql.window import Window

    size = dim // n_blocks
    q = quantize_int8_global(emb, vec_col, id_col).select("qvec")
    ux = q.select(F.posexplode("qvec").alias("i", "qx"))
    st = ux.groupBy("i").agg(
        F.count("*").alias("n"),
        F.sum(F.col("qx").cast("long")).alias("s"),
        F.sum(F.col("qx").cast("long") * F.col("qx").cast("long")).alias("s2"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    var = st.select(
        "i", (dec("n") * dec("s2") - dec("s") * dec("s")).alias("v")
    )
    r = var.select(
        "i",
        (
            F.row_number().over(
                Window.orderBy(F.col("v").desc(), F.col("i").asc())
            )
            - 1
        ).alias("r"),
    )
    b = F.when(
        (F.col("r") / n_blocks).cast("long") % 2 == 0,
        F.col("r") % n_blocks,
    ).otherwise(F.lit(n_blocks - 1) - F.col("r") % n_blocks)
    return r.select(
        (b * size + (F.col("r") / n_blocks).cast("long")).alias("j"),
        F.col("i").alias("orig"),
    )


def permute_embedding(
    emb: DataFrame,
    perm: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply a (j, orig) dimension permutation to every vector: output
    position j holds input position ``orig``. The permutation collapses
    to ONE array row (sorted struct list -> origin array, deterministic
    regardless of ``perm``'s partitioning) and attaches as a broadcast
    scalar, so the rewrite is a map-side ``transform`` — no shuffle, no
    collect, schema preserved (id + permuted ``vec_col``)."""
    # the 1-row permutation PERSISTS (r11): a downstream cascade that
    # reads the permuted corpus k times (n15 feeds n5's cascade — ~6
    # references) would otherwise re-run perm's whole derivation per
    # reference (quantize-global max agg + per-dim variance agg: two
    # corpus passes EACH).
    pl = state.persist(
        perm.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("j"), F.col("orig")))
                ),
                lambda x: x["orig"],
            ).alias("_pl")
        )
    )
    return emb.join(F.broadcast(pl)).select(
        F.col(id_col),
        F.transform(
            "_pl", lambda o: F.element_at(F.col(vec_col), o.cast("int") + 1)
        ).alias(vec_col),
    )


def rp_sign_matrix(
    spark,
    dim: int = 64,
    k: int = 16,
    salt: str = "rp",
):
    """Deterministic ±1 random-projection matrix as a k-row DataFrame
    (j, svec: array<int> of length dim) — the Achlioptas'03 sign
    variant of the Johnson-Lindenstrauss transform, with every sign a
    pure function of (salt, j, i) via md5 parity, so ANY engine
    regenerates the identical matrix from three literals (no stored
    artifact, no RNG state). Built in-plan from a range cross — the
    k x dim sign table is KiB at any configuration."""
    from pyspark.sql import functions as F  # noqa: F811

    cells = (
        spark.range(k)
        .select(F.col("id").cast("int").alias("j"))
        .crossJoin(spark.range(dim).select(F.col("id").cast("int").alias("i")))
        .select(
            "j",
            "i",
            F.expr(
                f"CASE WHEN CAST(conv(substring(md5(concat('{salt}|', "
                "CAST(j AS STRING), '|', CAST(i AS STRING))), 1, 1), 16, 10) "
                "AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
            ).alias("s"),
        )
    )
    return cells.groupBy("j").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))),
            lambda x: x["s"],
        ).alias("svec")
    )


def ann_rp_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k_proj: int = 16,
    salt: str = "rp",
    query_filter: Column | None = None,
    n_candidates: int = 50,
    k: int = 5,
) -> DataFrame:
    """ANN via a signed random-projection prefilter + exact rerank
    (n16) — the Johnson-Lindenstrauss route to candidate generation:
    every vector collapses to ``k_proj`` integer components (the ±1
    sign projection of its corpus-globally int8-quantized form), the
    candidate scan ranks by PROJECTED cosine over those few ints
    (reading ~k_proj/dim of the bytes a float scan touches — the same
    economics as PQ codes, with zero training), and only the top
    ``n_candidates`` rerank against the original floats.

    Deterministic end-to-end, so the oracle replays the WHOLE cascade:
    the sign matrix is an md5-parity function of (salt, j, i)
    (:func:`rp_sign_matrix`); projections are EXACT int64 sums of
    ±int8 values (order-free — no float fold anywhere before the
    ranking scalar); the candidate ordering is dotP/sqrt(|vP|²), one
    correctly-rounded IEEE divide+sqrt from exact integers (the
    :func:`assign_centroids_int8` scalar shape), ties to the lower id;
    the rerank is n1's exact-cosine ordering.

    Plan shape: quantize (one global-max agg) → a k_proj-row broadcast
    sign matrix zipped per vector (k_proj-way fan-out, map-side) →
    the candidate join is projected-queries (tiny broadcast) x corpus
    projections → per-query top-C window → rerank joins ≤ |Q|·C rows
    back to the corpus floats. No training, no codebook state — the
    zero-prep baseline the trained tiers (n5/n7/n15) justify their
    artifacts against.

    Returns (query_id, neighbor_id, cosine, rank) — n1's shape.
    """
    from pyspark.sql.window import Window

    spark = emb.sparkSession
    q8 = quantize_int8_global(emb, vec_col, id_col).select(
        F.col(id_col).alias("vid"), "qvec"
    )
    signs = rp_sign_matrix(spark, dim, k_proj, salt)
    zero = F.lit(0).cast("long")
    pj = F.aggregate(
        F.zip_with(
            "qvec", "svec", lambda x, s: x.cast("long") * s.cast("long")
        ),
        zero,
        lambda acc, v: acc + v,
    )
    proj = (
        q8.crossJoin(F.broadcast(signs))
        .select("vid", "j", pj.alias("p"))
        .groupBy("vid")
        .agg(
            F.sum(F.col("p") * F.col("p")).alias("pn2"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "p"))),
                lambda x: x["p"],
            ).alias("pv"),
        )
    )
    qf = query_filter if query_filter is not None else (F.col(id_col) < 10)
    qids = emb.filter(qf).select(F.col(id_col).alias("query_id"))
    qp = proj.join(
        F.broadcast(qids), proj["vid"] == qids["query_id"]
    ).select("query_id", F.col("pv").alias("qpv"))
    dotp = F.aggregate(
        F.zip_with("qpv", "pv", lambda a, b: a * b), zero, lambda acc, v: acc + v
    )
    scored = (
        proj.crossJoin(F.broadcast(qp))
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.when(
                F.col("pn2") > 0,
                dotp.cast("double") / F.sqrt(F.col("pn2").cast("double")),
            ).otherwise(F.lit(float("-inf"))).alias("ps"),
        )
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("ps").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(w_c))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    q = (
        emb.filter(qf)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qn", norm_fold("qv"))
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm_fold("cv"))
    rer = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", dot_fold("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )

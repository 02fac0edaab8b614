"""Text-analysis operators over a document table — language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All native Column expressions (no Python in the hot path): at 100 TB these
run inside whole-stage codegen on the scan, no shuffle at all. Counting
idioms use length-difference / regexp forms that evaluate identically on
Spark and ANSI-SQL engines so the parity oracles can mirror them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mrf_etl_spark import state

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def occurrence_count(col: ColumnOrName, token: str) -> Column:
    """# of occurrences of ``token`` via the length-difference idiom
    (identical semantics in any SQL engine, unlike regex dialects)."""
    c = _c(col).cast("string")
    return (F.length(c) - F.length(F.replace(c, F.lit(token), F.lit("")))) / len(token)

# Stopword marker sets per language for the n-gram language-ID heuristic.
# Tokens carry surrounding spaces so they match whole words mid-text.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "es": [" el ", " la ", " los ", " es "],
    "fr": [" le ", " les ", " des ", " est "],
    "de": [" der ", " die ", " und ", " ist "],
    "zh": [" de ", " shi ", " le ", " he "],
}
LANG_ORDER = ["en", "es", "fr", "de", "zh"]  # tie-break priority


def lang_scores(col: ColumnOrName) -> dict[str, Column]:
    """Per-language marker-occurrence scores over ' '||text||' '."""
    padded = F.concat(F.lit(" "), _c(col), F.lit(" "))
    return {
        lang: sum((occurrence_count(padded, tok) for tok in toks), F.lit(0.0)).alias(
            f"score_{lang}"
        )
        for lang, toks in LANG_MARKERS.items()
    }


def lang_id(col: ColumnOrName) -> Column:
    """argmax language with deterministic LANG_ORDER tie-break; 'und' when
    every score is zero. Shape: CASE WHEN best<=0 THEN 'und' WHEN
    score_l = best THEN l ... — mirrors 1:1 into the SQL oracle."""
    scores = lang_scores(col)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.when(best <= 0, F.lit("und"))
    for lang in LANG_ORDER:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def token_count_ws(col: ColumnOrName) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(_c(col)), r"\s+"))


def token_count_bpe(col: ColumnOrName) -> Column:
    """BPE-ish token estimate: alpha runs + digit runs + standalone
    punctuation, each alpha run costing ceil(len/4) subword units."""
    c = _c(col).cast("string")
    words = F.aggregate(
        F.regexp_extract_all(c, F.lit("[a-z]+|[A-Z]+"), F.lit(0)),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )
    digits = F.size(F.regexp_extract_all(c, F.lit("[0-9]+"), F.lit(0)))
    punct = F.size(F.regexp_extract_all(c, F.lit("[.,;:!?]"), F.lit(0)))
    return words + digits + punct


def punct_ratio(col: ColumnOrName) -> Column:
    c = _c(col).cast("string")
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))
    return n_punct / F.nullif(F.length(c), F.lit(0))


def stopword_ratio(col: ColumnOrName, stopwords: tuple[str, ...] = ("the", "a", "and", "of")) -> Column:
    padded = F.concat(F.lit(" "), _c(col), F.lit(" "))
    hits = sum(
        (occurrence_count(padded, f" {w} ") for w in stopwords), F.lit(0.0)
    )
    return hits / F.nullif(token_count_ws(col).cast("double"), F.lit(0.0))


def quality_score(col: ColumnOrName) -> Column:
    """Composite [~0..1] quality heuristic: length band + low punctuation +
    stopword presence (LLM-corpus filtering shape; cf. C4/Gopher rules)."""
    n = token_count_ws(col).cast("double")
    len_band = F.when((n >= 20) & (n <= 1000), 1.0).when(n >= 5, 0.5).otherwise(0.0)
    p = punct_ratio(col)
    punct_ok = F.when(p <= 0.1, 1.0).otherwise(0.0)
    sw = stopword_ratio(col)
    sw_ok = F.when(sw >= 0.01, 1.0).otherwise(0.0)
    return (len_band * 0.5 + punct_ok * 0.25 + sw_ok * 0.25).alias("quality")


# --------------------------------------------------------------- tf-idf


def tfidf_top_terms(
    df, text_col: str, id_col: str, top_k: int = 5
):
    """Per-document top-k TF-IDF terms → (doc_id, term, tf_n, doc_len, df,
    score, rank).

    Log-free rational weighting — score = (tf_n / doc_len) · (N+1)/(df+1)
    — deliberately: every factor is a small-int quotient, so each IEEE op
    is correctly rounded and the mirrored SQL oracle is bit-identical,
    where ln() differs across math libraries in the last ulp. Ranking is
    (score desc, term asc): fully deterministic.

    Scale: two shuffles that any TF-IDF needs — (doc, term) count, then a
    join on term for document frequencies (hot stopword terms are exactly
    the AQE skew-join case), plus a per-doc window for rank. N arrives as
    a 1-row broadcast, never a driver collect."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf_n"))
    doc_len = words.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))

    from pyspark.sql.window import Window

    score = (F.col("tf_n") / F.col("doc_len")) * (
        (F.col("n_docs") + 1) / (F.col("df") + 1)
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        tf.join(doc_len, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf_n", "doc_len", "df", "score", "rank")
    )


# -------------------------------------------------------------- pii scrub

# RE2-safe patterns (no backrefs/lookaround): identical match semantics in
# Java regex (Spark) and RE2 (DuckDB), so the oracle replays the scrub
# verbatim with regexp_replace(..., 'g'). Order matters only for overlap;
# these three are mutually exclusive.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
]


def pii_scrub(col: ColumnOrName) -> Column:
    """Redact emails / SSNs / US phone numbers with typed placeholders.
    Pure regexp_replace chain — codegen'd on the scan, no shuffle."""
    c = _c(col).cast("string")
    for _, pat, rep in PII_PATTERNS:
        c = F.regexp_replace(c, pat, rep)
    return c


def pii_counts(col: ColumnOrName) -> dict[str, Column]:
    """Per-class PII match counts (audit/reporting companion to the scrub)."""
    c = _c(col).cast("string")
    return {
        name: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    }


def fingerprint(col: ColumnOrName) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct word
    set — robust to word order/duplication, the hash analog of the
    reference's uid recipes."""
    words = F.array_sort(F.array_distinct(F.split(F.lower(F.trim(_c(col))), r"\s+")))
    return F.md5(F.concat_ws(" ", words))


# ------------------------------------------------- repetition / overlap


def repetition_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals, one row per document:

    ``n_words`` / ``n_distinct_words`` / ``distinct_ratio`` — vocabulary
    collapse (boilerplate and spam repeat a tiny vocabulary);
    ``top_word_frac`` — mass of the single most frequent word;
    ``n_bigrams`` / ``top_bigram_frac`` — mass of the most frequent word
    2-gram (the classic "duplicated phrase" Gopher filter; NULL when the
    doc has fewer than 2 words).

    Every signal is PER-document, so nothing needs to cross rows: the
    whole operator is one map-side projection — ZERO shuffles at any
    scale. The max gram multiplicity is the longest equal-run of the
    SORTED gram array, computed with `aggregate` over `array_sort`
    (O(n log n) per doc, inside whole-stage codegen). The previous shape
    exploded ~2 gram rows per word through two doc_id-keyed shuffles —
    correct, but all of its shuffle traffic was avoidable (measured at
    sf0.1: 5.0 s → 0.6 s warm). Ratios are single double divisions of
    exact integers, so every engine reproduces them bit-for-bit.
    Reference anchor: quality filtering extends the reference's
    validation notebook checks (notebook.py summary stats) to corpus
    hygiene for LLM training data.
    """

    def top_freq(arr: str) -> str:
        # longest run in the sorted array == multiplicity of the most
        # frequent element; 1L floor handles the first element
        return (
            f"aggregate(array_sort({arr}), "
            "named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L), "
            "(a, x) -> named_struct("
            " 'prev', x, "
            " 'run', if(x <=> a.prev, a.run + 1, 1L), "
            " 'best', greatest(a.best, if(x <=> a.prev, a.run + 1, 1L))), "
            "a -> a.best)"
        )

    bigrams = (
        "transform(sequence(0, size(_w) - 2), "
        "i -> concat_ws(' ', _w[i], _w[i + 1]))"
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    ).select(
        "doc_id",
        F.expr("cast(size(_w) as bigint)").alias("n_words"),
        F.expr("cast(size(array_distinct(_w)) as bigint)").alias(
            "n_distinct_words"
        ),
        F.expr("cast(size(array_distinct(_w)) as double) / size(_w)").alias(
            "distinct_ratio"
        ),
        F.expr(f"cast({top_freq('_w')} as double) / size(_w)").alias(
            "top_word_frac"
        ),
        F.expr("if(size(_w) >= 2, cast(size(_w) - 1 as bigint), 0L)").alias(
            "n_bigrams"
        ),
        F.expr(
            f"if(size(_w) >= 2, "
            f"cast({top_freq(bigrams)} as double) / (size(_w) - 1), "
            "cast(null as double))"
        ).alias("top_bigram_frac"),
    )


def contamination_overlap(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, the
    fraction of its distinct word ``k``-gram shingles that also occur
    anywhere in ``eval_docs`` (the benchmark/test corpus).

    The decontamination primitive of LLM training pipelines (strip or
    flag training docs that overlap evaluation sets). Plan shape: both
    sides shingle into the engine-neutral 60-bit md5 hash domain
    (dedup.shingle_hash_expr); the eval universe is reduced to DISTINCT
    hashes — benchmarks are tiny relative to a 100 TB corpus, so AQE
    broadcasts that side and the corpus never shuffles on h; per-doc
    totals and hit counts aggregate on doc_id. Returns
    (doc_id, n_shingles, n_hit, overlap_frac).
    """
    from mrf_etl_spark.operators.dedup import doc_shingles, shingle_hash_expr

    c_sh = doc_shingles(corpus, text_col, id_col, k).select(
        "doc_id", shingle_hash_expr(F.col("shingle")).alias("h")
    )
    ev = (
        doc_shingles(eval_docs, text_col, id_col, k)
        .select(shingle_hash_expr(F.col("shingle")).alias("h"))
        .distinct()
    )
    return _overlap_single_agg(c_sh, ev)


def _overlap_single_agg(c_sh: DataFrame, ev: DataFrame) -> DataFrame:
    """Totals and hits in ONE aggregation: left-join the DISTINCT eval
    universe (broadcast-sized; the join preserves row count exactly) and
    count rows / non-null hit marks per doc — one pass over the exploded
    corpus shingles instead of separate tot/hits aggregations that each
    re-evaluated the explode+hash pipeline."""
    joined = c_sh.join(ev.withColumn("_hit", F.lit(True)), "h", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.count("_hit").alias("n_hit"),
    ).select(
        "doc_id",
        "n_shingles",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_shingles").cast("double")).alias(
            "overlap_frac"
        ),
    )


def top_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int = 2, k: int = 100
) -> DataFrame:
    """Corpus-wide top-k word ``n``-grams by occurrence — the corpus
    statistic behind contamination screens, boilerplate detection, and
    LM data audits. Ties break deterministically (count desc, gram asc).

    Plan: explode n-grams → groupBy(gram) count (map-side partial agg) →
    global top-k, which Spark executes as TakeOrdered (per-partition
    heap + driver merge of k rows), NOT a full sort shuffle — the only
    full-width shuffle is the gram count, keyed on the gram."""
    docs = df.select(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w")
    ).filter(F.size("_w") >= n)
    parts = ", ".join(f"_w[i + {j}]" for j in range(n))
    grams = docs.select(
        F.explode(
            F.expr(f"transform(sequence(0, size(_w) - {n}), i -> concat_ws(' ', {parts}))")
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram").asc())
        .limit(k)
    )


def contamination_overlap_tagged(
    df: DataFrame,
    eval_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """:func:`contamination_overlap` for the common case where corpus and
    eval split are rows of the SAME table (``eval_pred`` selects the
    eval/benchmark rows): shingles and hashes compute in ONE pass with an
    eval tag instead of two scans of the source. Output is identical —
    overlap of each non-eval doc's distinct shingles with the eval
    universe."""
    from mrf_etl_spark.operators.dedup import doc_shingles, shingle_hash_expr

    tagged = df.withColumn("_is_eval", eval_pred)
    # doc_shingles projects only (doc_id, shingle), so the eval tag rides
    # IN the id (eval doc i → -i-1, bijective for the non-negative ids
    # this engine mints) and is unmapped right after — zero extra scans,
    # zero joins to restore the tag
    sh = (
        doc_shingles(
            tagged.withColumn(
                id_col,
                F.when(F.col("_is_eval"), -F.col(id_col) - 1).otherwise(F.col(id_col)),
            ),
            text_col,
            id_col,
            k,
        )
        .select(
            F.when(F.col("doc_id") < 0, -F.col("doc_id") - 1)
            .otherwise(F.col("doc_id"))
            .alias("doc_id"),
            (F.col("doc_id") < 0).alias("_is_eval"),
            shingle_hash_expr(F.col("shingle")).alias("h"),
        )
    )
    ev = sh.filter(F.col("_is_eval")).select("h").distinct()
    c_sh = sh.filter(~F.col("_is_eval")).select("doc_id", "h")
    return _overlap_single_agg(c_sh, ev)


def bloom_positions(h: Column, m_bits: int, n_hashes: int) -> list[Column]:
    """The ``n_hashes`` Bloom bit positions of a 60-bit shingle hash, by
    double hashing (Kirsch–Mitzenmacher: pos_j = h1 + j*h2): h1 = h,
    h2 = (h >> 20) | 1 (odd, so the stride cycles the whole table).
    Pure nonneg int64 arithmetic — h < 2^60, j*h2 < 2^42, no overflow —
    and ``& (m_bits-1)`` instead of ``%`` (m_bits is a power of two), so
    an ANSI-SQL oracle replays every position bit-identically."""
    assert m_bits & (m_bits - 1) == 0, "m_bits must be a power of two"
    h2 = F.shiftright(h, 20).bitwiseOR(F.lit(1))
    return [
        (h + F.lit(j) * h2).bitwiseAND(F.lit(m_bits - 1)) for j in range(n_hashes)
    ]


# int64 single-bit masks, bit 63 as the two's-complement min long —
# shiftleft() takes only a literal shift amount, so "1 << (p & 63)" with a
# column p is an element_at into this 64-entry literal array instead.
_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]

_LONG_MIN = -(1 << 63)


def _lit_long_array(vals: list[int]) -> Column:
    """array<bigint> literal in ONE py4j round trip: ``F.lit(list)``
    desugars to 2048 individual ``lit`` calls for a 2048-word bitset
    (~2-3 s of driver-side chatter per plan build, measured); a parsed
    ``array(...)`` string is one call and constant-folds to the same
    Literal. Long.MIN can't be lexed directly (the parser overflows on
    the unsigned digits before applying the minus), so it is emitted as
    the canonical (-MAX - 1) expression."""
    parts = [
        "(-9223372036854775807L - 1L)" if v == _LONG_MIN else f"{v}L" for v in vals
    ]
    return F.expr(f"array({','.join(parts)})")


def _bit_mask(p: Column) -> Column:
    """2^(p & 63) as int64 (bit 63 → min long), via the literal mask table."""
    return F.element_at(
        _lit_long_array(_BIT_MASKS), p.bitwiseAND(F.lit(63)).cast("int") + F.lit(1)
    )


def bloom_bitset_words(
    ev_hashes: DataFrame, m_bits: int = 1 << 17, n_hashes: int = 3
) -> list[int]:
    """Build the eval-side Bloom bitset as a Python list of ``m_bits/64``
    int64 words (16 KiB at the default m) from a DataFrame with a 60-bit
    hash column ``h``.

    The collect here is CONSTANT-SIZE BY CONSTRUCTION — at most m/64 rows
    regardless of eval size (the same precedent as the code list in
    io/readers.py): positions reduce to (word, bit_or(mask)) pairs
    distributedly, only the finished words come back. In production this
    runs ONCE per frozen eval suite; the corpus never sees this job."""
    if m_bits < 64:
        raise ValueError("m_bits must be >= 64 (one int64 word)")
    pos_cols = bloom_positions(F.col("h"), m_bits, n_hashes)
    pos = ev_hashes.select(
        F.explode(F.array(*pos_cols)).alias("p")
    )
    rows = (
        pos.select(
            F.shiftright(F.col("p"), 6).cast("int").alias("w"),
            _bit_mask(F.col("p")).alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def bloom_member(
    h: Column, words: list[int], m_bits: int, n_hashes: int
) -> Column:
    """Bloom membership test of a 60-bit hash against a literal bitset —
    a pure projection (3 array lookups + int64 arithmetic, no join, no
    shuffle): the decontamination gate that runs at scan speed on a
    100 TB corpus. The bitset parses as ONE array(...) expression (a
    single py4j round trip) and constant-folds to one ArrayType
    Literal."""
    bitset = _lit_long_array(words)
    cond = F.lit(True)
    for p in bloom_positions(h, m_bits, n_hashes):
        word = F.element_at(bitset, F.shiftright(p, 6).cast("int") + F.lit(1))
        cond = cond & (word.bitwiseAND(_bit_mask(p)) != 0)
    return cond


def bloom_contam_gate(
    df: DataFrame,
    words: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    m_bits: int = 1 << 17,
    n_hashes: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The production decontamination gate: given a frozen eval bitset
    (:func:`bloom_bitset_words`, built once per eval suite), flag every
    corpus document whose shingles hit the filter — as ONE narrow
    projection. No explode, no join, no shuffle: shingles, hashes, and
    the k-bit probes all evaluate inside higher-order array functions on
    the scan, so at 100 TB this is a pass over the corpus at I/O speed
    (tests pin the zero-Exchange plan). Bloom guarantees no false
    negatives: ``clean`` docs are PROVABLY free of eval overlap; flagged
    docs (tiny at any sane m) go to the exact recheck if needed.

    Returns (id, n_shingles, n_bloom_hit, clean [, keep_cols...]) —
    ``keep_cols`` ride through the projection so pipelines gate in ONE
    pass instead of joining the verdict back. NULL-text docs are
    dropped, matching the tagged/exploded form (explode of an empty
    shingle set emits no rows there)."""
    from mrf_etl_spark.operators.dedup import shingle_array_expr, shingle_hash_expr

    df = df.filter(F.col(text_col).isNotNull())
    words_arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    shingles = shingle_array_expr(k)
    hits = F.filter(
        F.col("_hs"),
        lambda h: bloom_member(h, words, m_bits, n_hashes),
    )
    keep = [F.col(c) for c in keep_cols]
    return (
        df.select(F.col(id_col), words_arr.alias("_words"), *keep)
        .select(F.col(id_col), shingles.alias("_sh"), *keep)
        .select(
            F.col(id_col),
            F.transform(F.col("_sh"), lambda s: shingle_hash_expr(s)).alias("_hs"),
            *keep,
        )
        .select(
            F.col(id_col),
            F.size("_hs").cast("long").alias("n_shingles"),
            F.size(hits).cast("long").alias("n_bloom_hit"),
            *keep,
        )
        .withColumn("clean", F.col("n_bloom_hit") == 0)
    )


def bloom_decontam_tagged(
    df: DataFrame,
    eval_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    m_bits: int = 1 << 17,
    n_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter decontamination gate — the 100 TB-shape alternative to
    :func:`contamination_overlap`: instead of semi-joining every corpus
    shingle against the eval universe, the eval suite is compiled ONCE
    into an ``m_bits``-bit Bloom bitset (16 KiB at the default m — it
    ships inside the plan as one array literal) and each corpus shingle
    tests k bits with pure int64 arithmetic. The corpus side does ZERO
    joins for the gate — decontamination at scan speed; Bloom guarantees
    no false negatives, so every contaminated doc is flagged.

    This parity form ALSO computes the exact overlap (the t8 broadcast
    semi-join) to verify the gate in-row: per corpus doc,
    (doc_id, n_shingles, n_hit [exact], n_bloom_hit, clean
    [no bloom hits → provably uncontaminated], no_false_neg [every
    exact-hit shingle bloom-hit — must be TRUE by construction]).
    Because the hash recipe is the engine-neutral md5 domain and the
    positions are replayable arithmetic, an ANSI oracle reproduces the
    bitset semantics exactly (position ∈ eval position set ⇔ bit set) —
    n_bloom_hit compares exactly, false positives included."""
    from pyspark import StorageLevel

    from mrf_etl_spark.operators.dedup import doc_shingles, shingle_hash_expr

    # Eval shingles come from a PRE-FILTERED scan (shingling the whole
    # tagged corpus and keeping 1/101 of the rows would pay the corpus
    # md5 pass twice); the distinct hash set is tiny (the eval suite) and
    # feeds two consumers — the bitset build (an action) and the exact
    # verification join — so it persists between them.
    ev = state.persist(
        doc_shingles(df.filter(eval_pred), text_col, id_col, k)
        .select(shingle_hash_expr(F.col("shingle")).alias("h"))
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    words = bloom_bitset_words(ev, m_bits, n_hashes)
    c_sh = doc_shingles(df.filter(~eval_pred), text_col, id_col, k).select(
        "doc_id", shingle_hash_expr(F.col("shingle")).alias("h")
    )
    joined = c_sh.join(ev.withColumn("_hit", F.lit(True)), "h", "left")
    # project the k-probe test ONCE per shingle row; two aggregate
    # expressions then read the boolean instead of re-probing the bitset
    probed = joined.withColumn(
        "_bloom", bloom_member(F.col("h"), words, m_bits, n_hashes)
    )
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_hit"),
            F.sum(F.col("_bloom").cast("long")).alias("n_bloom_hit"),
            F.sum(
                (F.col("_hit").isNotNull() & ~F.col("_bloom")).cast("long")
            ).alias("_miss"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            "n_bloom_hit",
            (F.col("n_bloom_hit") == 0).alias("clean"),
            (F.col("_miss") == 0).alias("no_false_neg"),
        )
    )


def repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    win: int = 10,
    stride: int = 5,
) -> DataFrame:
    """Cross-document repeated-passage detection — exact substring dedup at
    passage granularity (the train-set memorization screen of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    public literature; shingle-level near-dup ops like d2/d3 can't surface
    a verbatim 10-word boilerplate block shared by otherwise-different
    docs).

    A ``win``-word window slides with ``stride`` over each document's
    lowercased word stream (docs shorter than ``win`` contribute their
    whole text as one passage); each passage md5s into a key, passages are
    DISTINCT within a doc, and the output is every passage seen in more
    than one document: (passage_hash, n_docs, min_doc, max_doc).

    Scale shape: explode → one groupBy on the passage hash with map-side
    partial aggregation; no joins, no windows. At 100 TB this is the same
    single-shuffle profile as d1 exact dedup, with output bounded by the
    repeated-passage universe (tiny next to the corpus).
    """
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    words_df = widen_narrow_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    # parsed-expression formulation (one py4j round trip, interpreted HOFs
    # see no CSE — same rationale as dedup.doc_shingles)
    arr = F.expr(
        f"CASE WHEN size(_w) < {win} THEN array(md5(concat_ws(' ', _w))) "
        f"ELSE array_distinct(transform("
        f"  sequence(0, size(_w) - {win}, {stride}),"
        f"  i -> md5(concat_ws(' ', slice(_w, i + 1, {win}))))) END"
    )
    per_doc = words_df.select("doc_id", F.explode(arr).alias("passage_hash"))
    return (
        per_doc.groupBy("passage_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _span_level_exprs(max_log: int) -> list[str]:
    """Prefix-doubling sparse table over a document's word stream, built
    ENTIRELY map-side as array columns (no shuffle): level 0 is
    ``md5(word[i])``; level j is ``md5(h[i] || h[i + 2^(j-1)])`` — the
    hash of the 2^j-word span starting at i. Returns the SQL exprs for
    levels 0..max_log (1-based array indexing, identical in DuckDB, so
    the oracle replays the same bytes)."""
    exprs = ["transform(_w, w -> md5(w))"]
    for j in range(1, max_log + 1):
        half = 1 << (j - 1)
        exprs.append(
            f"CASE WHEN size(_w) >= {1 << j} THEN "
            f"transform(sequence(1, size(_w) - {(1 << j) - 1}), "
            f"i -> md5(concat(element_at(_h{j - 1}, i), "
            f"element_at(_h{j - 1}, i + {half})))) "
            f"ELSE array() END"
        )
    return exprs


def repeat_ladder(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 4,
    max_len: int = 32,
) -> DataFrame:
    """Per-document maximal repeated-substring ladder (d16) — exact
    substring dedup at ANY alignment: for every power-of-2 span length
    in [min_len, max_len], every stride-1 window of each document's
    lowercased word stream is hashed (the prefix-doubling sparse table,
    :func:`_span_level_exprs`), and a span is REPEATED when it appears
    verbatim in more than one document. Output per affected doc:
    (doc_id, max_rep_len, n_rep_spans) — the longest power-of-2 length
    any of the doc's spans shares cross-doc, and how many of its
    distinct spans repeat at that length.

    This closes the detection gap d7's strided fixed window leaves
    open (Lee et al. ACL'22, the full any-alignment capability): d7 at
    (win=10, stride=5) can NEVER see a 6-word verbatim block, nor a
    10-word block straddling its stride grid; the ladder sees every
    repeat of length ≥ min_len at every offset, with length resolved to
    the floor power of 2 (a 2-approximation of the true maximal length
    — :func:`longest_repeat` resolves the exact global maximum).

    Scale shape: the sparse table is map-side array work (log(max_len)
    transforms, no shuffle); per level one explode + the d1-style
    single hash-keyed groupBy (per-doc-DISTINCT spans, so n_docs is a
    plain count); the repeated-span set joins back hash-keyed. Total
    work is log(max_len) × corpus words — the d2/d3 shingle family's
    profile with a log factor, never quadratic."""
    import math

    from mrf_etl_spark.operators.dedup import widen_narrow_input

    max_log = int(math.log2(max_len))
    min_log = max(1, int(math.ceil(math.log2(min_len))))
    words = widen_narrow_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    for j, e in enumerate(_span_level_exprs(max_log)):
        words = words.withColumn(f"_h{j}", F.expr(e))
    # one struct row per (level, distinct span hash) — a doc counts once
    # per span per level (d7's DISTINCT-within-doc rule)
    level_arrays = ", ".join(
        f"transform(array_distinct(_h{j}), h -> struct({1 << j} AS len, h AS hash))"
        for j in range(min_log, max_log + 1)
    )
    spans = words.select(
        "doc_id",
        F.explode(F.expr(f"flatten(array({level_arrays}))")).alias("_s"),
    ).select("doc_id", F.col("_s.len").alias("len"), F.col("_s.hash").alias("hash"))
    from pyspark.sql.window import Window

    # per-(len, hash) doc frequency via a window COUNT (t10's pattern):
    # ONE (len, hash)-keyed shuffle instead of a groupBy + join-back that
    # would execute the explode subplan twice
    dfc = F.count("*").over(Window.partitionBy("len", "hash"))
    per = (
        spans.withColumn("_dfc", dfc)
        .filter(F.col("_dfc") > 1)
        .groupBy("doc_id", "len")
        .agg(F.count("*").alias("n"))
    )
    # lexicographic max(struct(len, n)) == the (unique) n at the max len
    return per.groupBy("doc_id").agg(
        F.max(F.struct(F.col("len"), F.col("n"))).alias("_m")
    ).select(
        "doc_id",
        F.col("_m.len").alias("max_rep_len"),
        F.col("_m.n").alias("n_rep_spans"),
    )


def exact_repeat_lengths(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 4,
    max_len: int = 32,
) -> DataFrame:
    """Per-document EXACT maximal repeated-substring length (d18) —
    closes the substring-dedup triple: d16's ladder is the scale path
    (2-approximation, log(max_len) work), d17 resolves the GLOBAL exact
    maximum, d18 resolves it PER DOCUMENT by hashing every length in
    [min_len, max_len] at every position through the overlapping
    two-block composition (d17's trick: h(i, L) = md5(h_k[i] ||
    h_k[i + L - 2^k]) over the map-side doubling table), one
    (len, hash)-keyed window COUNT, and a per-doc rollup.

    This is the per-doc statistic Lee et al. ACL'22 gate on (drop or
    trim documents whose longest cross-corpus repeat exceeds a
    threshold) at exact granularity. Honest cost: the explode carries
    (max_len − min_len + 1) × corpus-words rows through ONE shuffle —
    linear in the corpus with the length-range constant; pick the range
    deliberately (the ladder screens cheaply first, this runs exact on
    what matters). Returns (doc_id, max_rep_len, n_rep_spans) for docs
    with any cross-doc repeat ≥ min_len.

    .. note:: "exact" holds up to 60-bit span-hash collisions (w21's
       pre-scale caveat applies): a birthday collision between two
       DIFFERENT spans of the same length manufactures a false repeat,
       expected once the corpus carries ~2^30 spans per length and
       near-certain at the ~2^40 spans of a 100 TB corpus. The oracle
       truncates identically so parity is unaffected; past the
       collision-safe span count, trade shuffle bytes back for the full
       128-bit md5 string (d16/d17 already keep it) or verify flagged
       spans exactly with a second pass."""
    import math

    from mrf_etl_spark.operators.dedup import widen_narrow_input
    from pyspark.sql.window import Window

    max_log = int(math.log2(max_len))
    words = widen_narrow_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    for j, e in enumerate(_span_level_exprs(max_log)):
        words = words.withColumn(f"_h{j}", F.expr(e))
    # spans travel as 60-bit ints (first 15 hex chars of the composed
    # md5, the engine-neutral shard_hash recipe): the (len, hash)
    # shuffle carries 8-byte longs instead of 32-char strings — at the
    # 29x fan-out this is the difference between the shuffle fitting
    # and spilling
    per_len = []
    for ln in range(min_len, max_len + 1):
        k = int(math.log2(ln))
        off = ln - (1 << k)
        per_len.append(
            f"CASE WHEN size(_w) >= {ln} THEN "
            f"transform(array_distinct(transform("
            f"sequence(1, size(_w) - {ln - 1}), "
            f"i -> cast(conv(substring(md5(concat(element_at(_h{k}, i), "
            f"element_at(_h{k}, i + {off}))), 1, 15), 16, 10) as bigint))), "
            f"h -> struct({ln} AS len, h AS hash)) "
            f"ELSE array() END"
        )
    spans = words.select(
        "doc_id",
        F.explode(
            F.expr(f"flatten(array({', '.join(per_len)}))")
        ).alias("_s"),
    ).select("doc_id", F.col("_s.len").alias("len"), F.col("_s.hash").alias("hash"))
    dfc = F.count("*").over(Window.partitionBy("len", "hash"))
    per = (
        spans.withColumn("_dfc", dfc)
        .filter(F.col("_dfc") > 1)
        .groupBy("doc_id", "len")
        .agg(F.count("*").alias("n"))
    )
    return per.groupBy("doc_id").agg(
        F.max(F.struct(F.col("len"), F.col("n"))).alias("_m")
    ).select(
        "doc_id",
        F.col("_m.len").alias("max_rep_len"),
        F.col("_m.n").alias("n_rep_spans"),
    )


def screened_repeat_lengths(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 4,
    max_len: int = 32,
) -> DataFrame:
    """Screened per-doc exact maximal repeat (d19) — the substring-dedup
    DISCIPLINE that previously lived only in d18's docstring ("the
    ladder screens cheaply first, this runs exact on what matters"),
    composed into ONE lazy plan: d16's ladder screens the FULL corpus
    at log(max_len)-shuffle cost, then d18's exact
    (max_len − min_len + 1)× span fan-out runs ONLY on the flagged docs.

    Screen completeness (why the result is EXACT, not approximate): any
    cross-doc repeat of length L ≥ min_len contains, as its prefix, a
    repeat of length ``2^floor(log2(min_len)) ≤ min_len ≤ L`` shared by
    the same carrier docs — so the ladder run with levels from that
    floor power of 2 flags EVERY carrier of every qualifying repeat (a
    superset: ladder-only repeats shorter than min_len cost work, never
    correctness). Within the flagged subset each qualifying span keeps
    its full-corpus doc-frequency (all its carriers are flagged), so
    the output equals :func:`exact_repeat_lengths` on the full corpus
    row for row. The screen is result-invisible — the oracle is d18's
    VERBATIM (the j13-salting / j19-Bloom precedent).

    Scale shape: screen = log(max_len) × corpus words through d16's
    shuffles; exact pass = 29× fan-out over the FLAGGED docs only. At
    real corpus scale the flagged fraction is small (Lee et al. ACL'22
    report single-digit percent of docs carrying long verbatim
    repeats), so the fan-out shuffle — d18's entire superlinear ladder
    cell — shrinks by that fraction. The 60-bit span-hash collision
    caveat on d18 applies to the exact pass here identically."""
    import math

    from mrf_etl_spark.operators.dedup import widen_narrow_input

    screen_len = 1 << int(math.log2(min_len))
    flagged = (
        repeat_ladder(
            df, text_col, id_col, min_len=screen_len, max_len=max_len
        )
        .select(F.col("doc_id").alias(id_col))
    )
    sub = widen_narrow_input(df).join(flagged, id_col, "left_semi")
    return exact_repeat_lengths(
        sub, text_col, id_col, min_len=min_len, max_len=max_len
    )


def trim_repeats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 4,
    max_len: int = 32,
) -> DataFrame:
    """Repeated-span REMOVAL (d20) — the Lee et al. ACL'22 production
    step d16–d18 only diagnose: REWRITE documents by dropping
    cross-corpus repeated spans, keeping ONE canonical occurrence per
    span group, with per-doc token-loss accounting.

    Deterministic, set-based semantics (chosen so a SQL oracle replays
    the rewrite bit-for-bit — no greedy left-to-right scan, whose
    sequential state doesn't decompose):

    * a *span group* is a (len, hash) pair with len ∈ [min_len,
      max_len] carried verbatim by ≥ 2 docs (d18's exact span family,
      same 60-bit hash recipe and collision caveat);
    * each group's *canonical carrier* is its min doc_id — that doc
      keeps ALL its occurrences of the span;
    * word position p of doc d is REMOVED iff some group's span covers
      p in d and d is not that group's canonical carrier. A position
      in one group's canonical doc can still be removed via a
      DIFFERENT overlapping group whose canonical lies elsewhere —
      position-coverage semantics, documented rather than hidden.

    Nested spans are consistent by construction: any repeat of length
    L > min_len contains length-(L−1) repeats with the same carrier
    set, hence the same canonical — coverage grows monotonically with
    the repeat, never flickers.

    Output: one row per input doc — (doc_id, clean_text, n_tokens,
    n_removed). clean_text is the KEPT original-case words joined by
    single spaces (whitespace normalized — the tokenization d16/d18
    already commit to); untouched docs round-trip with n_removed = 0,
    fully-repeated docs keep clean_text = ''.

    Scale shape: the corpus first passes d16's ladder screen (log
    shuffles), and the position-keeping 29× fan-out — this operator's
    whole cost — runs ONLY on flagged docs (result-invisible by d19's
    completeness argument: every removed position lies under a
    cross-doc repeat ≥ min_len whose carriers are all flagged; group
    doc-frequencies and min-carriers are computed over the SAME
    carrier sets either way). Group detection is one combinable
    (len, hash) agg; coverage explodes only MATCHED span occurrences
    (bounded by repeated material, not the corpus); the rewrite is a
    per-doc sort-merge of kept positions."""
    import math

    from mrf_etl_spark.operators.dedup import widen_narrow_input
    from pyspark.sql.window import Window  # noqa: F401 (doc parity w/ d18)

    screen_len = 1 << int(math.log2(min_len))
    flagged = (
        repeat_ladder(df, text_col, id_col, min_len=screen_len, max_len=max_len)
        .select(F.col("doc_id").alias(id_col))
    )
    wide = widen_narrow_input(df)
    base = wide.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_ow"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    sub = (
        wide.join(flagged, id_col, "left_semi")
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
        )
    )
    max_log = int(math.log2(max_len))
    for j, e in enumerate(_span_level_exprs(max_log)):
        sub = sub.withColumn(f"_h{j}", F.expr(e))
    # spans WITH positions (no per-doc distinct — the rewrite needs every
    # occurrence); same 60-bit composed-hash recipe as d18
    per_len = []
    for ln in range(min_len, max_len + 1):
        k = int(math.log2(ln))
        off = ln - (1 << k)
        per_len.append(
            f"CASE WHEN size(_w) >= {ln} THEN "
            f"transform(sequence(1, size(_w) - {ln - 1}), "
            f"i -> struct({ln} AS len, i AS pos, "
            f"cast(conv(substring(md5(concat(element_at(_h{k}, i), "
            f"element_at(_h{k}, i + {off}))), 1, 15), 16, 10) as bigint)"
            f" AS hash)) ELSE array() END"
        )
    spans = sub.select(
        "doc_id",
        F.explode(F.expr(f"flatten(array({', '.join(per_len)}))")).alias("_s"),
    ).select(
        "doc_id",
        F.col("_s.len").alias("len"),
        F.col("_s.pos").alias("pos"),
        F.col("_s.hash").alias("hash"),
    )
    # group stats via window functions over ONE (len, hash) shuffle
    # (r11, guide §2.4): ``countDistinct(doc_id) > 1  ⟺  min(doc_id) ≠
    # max(doc_id)`` and keep_doc IS the min — the previous groupBy +
    # join-back consumed the span-fan-out subtree (ladder screen
    # included) TWICE; the window form consumes it once and ships no
    # doc-id sets
    from pyspark.sql.window import Window as _W

    wgrp = _W.partitionBy("len", "hash")
    removed = (
        spans.withColumn("_mn", F.min("doc_id").over(wgrp))
        .withColumn("_mx", F.max("doc_id").over(wgrp))
        .filter(
            (F.col("_mn") != F.col("_mx")) & (F.col("doc_id") != F.col("_mn"))
        )
        .select(
            "doc_id",
            F.explode(F.expr("sequence(pos, pos + len - 1)")).alias("p"),
        )
    )
    # per-doc removed-position ARRAYS (bounded by repeated material, not
    # the corpus), then a map-side index-filter rebuild: the previous
    # shape exploded EVERY doc of the corpus to (doc_id, p, w) rows and
    # shuffled them through a position-keyed anti-join; untouched docs
    # now pass through scan-side with zero explode
    rm = removed.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("p")).alias("_rm")
    )
    kept = F.when(
        F.col("_rm").isNull(), F.col("_ow")
    ).otherwise(
        F.filter("_ow", lambda w, i: ~F.array_contains("_rm", i + F.lit(1)))
    )
    return (
        base.join(rm, "doc_id", "left")
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.array_join("_kept", " ").alias("clean_text"),
            F.size("_ow").cast("long").alias("n_tokens"),
            (F.size("_ow") - F.size("_kept")).cast("long").alias("n_removed"),
        )
    )


def longest_repeat(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 4,
    max_len: int = 32,
) -> DataFrame:
    """Exact longest cross-document repeated substring (d17) — the
    headline Lee et al. ACL'22 statistic, suffix-array-free: any length
    L in [min_len, max_len] hashes per position as the OVERLAPPING
    two-block composition ``md5(h_k[i] || h_k[i + L - 2^k])`` with
    k = floor(log2 L) over the map-side sparse table — equal substrings
    compose equal hashes at every length, so "some L-span occurs in ≥ 2
    docs" is one hash-keyed aggregate per probed length, and the
    predicate is monotone in L (a substring of a repeat is a repeat).

    The Spark side BINARY-SEARCHES L (log2(max_len) driver-coordinated
    probes, e6's iterative-trainer discipline — each probe one explode +
    one combinable agg over corpus positions); the oracle computes the
    same answer non-iteratively (all lengths in one statement — fine at
    fixture scale, log-probe is the 100 TB path). Returns the maximal
    length's repeated spans: (rep_len, hash, n_docs, min_doc, max_doc);
    empty when no cross-doc repeat of ≥ min_len exists.
    """
    import math

    from mrf_etl_spark.operators.dedup import widen_narrow_input

    max_log = int(math.log2(max_len))
    words = widen_narrow_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    for j, e in enumerate(_span_level_exprs(max_log)):
        words = words.withColumn(f"_h{j}", F.expr(e))
    words = state.persist(words)

    def span_hashes(ln: int):
        k = int(math.log2(ln))
        off = ln - (1 << k)
        # valid starts: i in [1, n - L + 1]; both blocks live in _hk
        return words.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(_w) >= {ln} THEN array_distinct("
                    f"transform(sequence(1, size(_w) - {ln - 1}), "
                    f"i -> md5(concat(element_at(_h{k}, i), "
                    f"element_at(_h{k}, i + {off}))))) "
                    f"ELSE array() END"
                )
            ).alias("hash"),
        )

    def has_repeat(ln: int) -> bool:
        return (
            span_hashes(ln)
            .groupBy("hash")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .count()
            > 0
        )

    # ONE-JOB power-of-two screen (r12, the d16-ladder pre-screen —
    # guide §1.2 "remove passes", §7.3 driver coordination): exists(2^k)
    # for EVERY level in range comes straight from the _hk columns
    # (array_distinct per doc ⟺ span_hashes' per-doc distinctness; the
    # md5(h||h) re-hash the probes apply is a bijection of the equality
    # structure, so the booleans match), all levels in one explode + one
    # (len, hash) aggregate. The binary search then runs only inside
    # [M+1, min(2M-1, max_len)] where M is the largest level with a
    # repeat — exists() is monotone in L, so the restricted search finds
    # the same max{L : exists(L)} the full search did. On repeat-heavy
    # corpora (best = max_len, this fixture) the probe count drops from
    # ceil(log2(range)) = 5 sequential jobs to ZERO; worst case it is
    # log2 of a 2x-smaller range. At 100 TB each probe is a corpus scan
    # when the doubling table outgrows cache — the screen is one scan.
    min_log = max(1, int(math.ceil(math.log2(min_len))))
    levels = [
        1 << k
        for k in range(min_log, max_log + 1)
        if min_len <= (1 << k) <= max_len
    ]
    best = 0
    if levels:
        lv_arrays = ", ".join(
            f"transform(array_distinct(_h{int(math.log2(ln))}), "
            f"h -> struct({ln} AS len, h AS hash))"
            for ln in levels
        )
        got = {
            r.len
            for r in words.select(
                F.explode(F.expr(f"flatten(array({lv_arrays}))")).alias("_s")
            )
            .select(F.col("_s.len").alias("len"), F.col("_s.hash").alias("hash"))
            .groupBy("len", "hash")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
            .select("len")
            .distinct()
            .collect()
        }
        m_lvl = max((ln for ln in levels if ln in got), default=0)
        if m_lvl:
            best = m_lvl
            lo, hi = m_lvl + 1, min(2 * m_lvl - 1, max_len)
        elif levels[0] == min_len:
            lo, hi = 1, 0  # exists(min_len) is false -> best = 0, no probes
        else:
            lo, hi = min_len, levels[0] - 1
    else:
        lo, hi = min_len, max_len
    while lo <= hi:
        mid = (lo + hi) // 2
        if has_repeat(mid):
            best, lo = mid, mid + 1
        else:
            hi = mid - 1
    # best == 0 → no repeat at min_len, so the min_len emission below is
    # provably empty (the shape-stable empty result)
    ln_out = best or min_len
    return (
        span_hashes(ln_out)
        .groupBy("hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            F.lit(ln_out).cast("long").alias("rep_len"),
            "hash", "n_docs", "min_doc", "max_doc",
        )
    )


def boilerplate_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    k: int = 2,
    min_docs: int = 5,
    min_frac: float | None = None,
) -> DataFrame:
    """Per-source boilerplate detection: a word ``k``-gram span occurring
    in ≥ ``min_docs`` distinct documents OF THE SAME SOURCE is boilerplate
    (nav bars, cookie banners, license headers — crawl pipelines strip or
    down-weight documents dominated by such spans; cf. the CCNet/RefinedWeb
    shared-line filters, applied here at span granularity because the
    corpus has no line structure). Returns one row per document:
    (doc_id, n_spans, n_boiler, boiler_frac).

    Plan shape: spans are DISTINCT per doc (same split + k-gram recipe as
    operators/dedup.doc_shingles, so the oracle replays it verbatim); the
    per-(source, span) document frequency comes from a window COUNT over
    the exploded span table — ONE shuffle keyed (source, span), no
    span-table self-join — and the per-doc rollup is the second, smaller
    shuffle. No driver-side state; hot sources spread because the window
    key includes the span.

    ``min_frac`` switches to a RELATIVE threshold — hot when the span
    reaches ``min_frac`` of the source's document count (a tiny broadcast
    join adds per-source totals). An absolute ``min_docs`` saturates as
    sources grow (every span of a small shared vocabulary eventually
    clears a fixed count); share-of-source is the size-stable definition
    release pipelines gate on."""
    from pyspark.sql.window import Window

    words_df = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_words"),
    )
    from mrf_etl_spark.operators.dedup import shingle_array_expr

    spans = words_df.select(
        "doc_id", "source", F.explode(shingle_array_expr(k)).alias("span")
    )
    dfc = F.count("*").over(Window.partitionBy("source", "span"))
    flagged = spans.withColumn("_dfc", dfc)
    if min_frac is not None:
        src_n = df.groupBy(F.col(source_col).alias("source")).agg(
            F.count("*").alias("_srcn")
        )
        flagged = flagged.join(F.broadcast(src_n), "source")
        hot = F.col("_dfc") >= F.col("_srcn") * F.lit(min_frac)
    else:
        hot = F.col("_dfc") >= min_docs
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count_if(hot).alias("n_boiler"),
        )
        .withColumn(
            "boiler_frac",
            F.col("n_boiler").cast("double") / F.col("n_spans"),
        )
    )


def rare_token_ratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_count: int = 2,
) -> DataFrame:
    """Corpus-relative rarity filter: per document, the share of tokens
    whose CORPUS-WIDE occurrence count is ≤ ``max_count`` — the
    OOV/rare-token ratio quality signal (gibberish, mojibake, and
    concatenated identifiers score high; the counting stand-in for LM
    perplexity filters, chosen because it is exactly replayable — no
    log() whose last ulp differs across math libraries). Returns
    (doc_id, n_tokens, n_rare, rare_ratio).

    Plan: tokens explode once; the corpus count comes from a window COUNT
    over the token table (one shuffle keyed on the token — hot stopwords
    spread across their partition, the AQE skew case), then the per-doc
    rollup. Same two-shuffle shape as boilerplate_flags; nothing driver-
    side, vocabulary never collected."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("tok"),
    )
    cnt = F.count("*").over(Window.partitionBy("tok"))
    return (
        toks.withColumn("_cnt", cnt)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_if(F.col("_cnt") <= max_count).alias("n_rare"),
        )
        .withColumn(
            "rare_ratio",
            F.col("n_rare").cast("double") / F.col("n_tokens"),
        )
    )


def sentence_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document sentence-shape statistics: sentence count, mean and
    max words per sentence — the 'wall of unbroken text / staccato
    fragments' quality signal next to t7's repetition and t2's ratios
    (RefinedWeb-style line/sentence heuristics at document grain).

    Sentences split on runs of terminal punctuation ``[.!?]+``; empty
    fragments (leading/trailing/double punctuation) are dropped. All
    counts are integers and the mean is one double division, so every
    engine reproduces the row bit-for-bit. Pure map-side projection —
    zero shuffles at any scale."""
    sents = F.expr(
        f"filter(transform(split({text_col}, '[.!?]+'), s -> trim(s)), s -> s != '')"
    )
    words_per = "transform(_sents, s -> size(split(s, '\\\\s+')))"
    return df.select(
        F.col(id_col).alias("doc_id"), sents.alias("_sents")
    ).select(
        "doc_id",
        F.expr("cast(size(_sents) as bigint)").alias("n_sentences"),
        F.expr(
            f"cast(aggregate({words_per}, 0L, (a, x) -> a + x) as bigint)"
        ).alias("n_sentence_words"),
        F.expr(
            f"if(size(_sents) > 0, cast(aggregate({words_per}, 0L, (a, x) -> a + x) as double) / size(_sents), cast(null as double))"
        ).alias("mean_sentence_words"),
        F.expr(
            f"if(size(_sents) > 0, cast(array_max({words_per}) as bigint), cast(null as bigint))"
        ).alias("max_sentence_words"),
    )


def encoding_sanity(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document encoding-sanity profile: replacement characters
    (U+FFFD — the mojibake fingerprint of a mis-decoded byte), C0
    control characters (excluding tab/newline/CR), non-ASCII count and
    ratio. Decode errors and binary contamination score high; the
    integer counts make the filter exactly replayable (the counting
    stand-in for chardet-style confidence scores). Map-side only."""
    n = F.length(F.col(text_col))
    repl = n - F.length(F.regexp_replace(F.col(text_col), "�", ""))
    ctrl = n - F.length(
        F.regexp_replace(F.col(text_col), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    )
    ascii_only = F.length(
        F.regexp_replace(F.col(text_col), "[^\\x00-\\x7F]", "")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_chars"),
        repl.cast("long").alias("n_replacement"),
        ctrl.cast("long").alias("n_control"),
        (n - ascii_only).cast("long").alias("n_non_ascii"),
        F.when(n > 0, (n - ascii_only).cast("double") / n).alias("non_ascii_ratio"),
    )


def chunk_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    win: int = 100,
    stride: int = 50,
) -> DataFrame:
    """Overlapping passage chunking with provenance — the corpus→chunk
    step of RAG indexing and context-window packing: each document emits
    ``win``-word chunks every ``stride`` words, PLUS one final
    full-width chunk anchored at ``size - win`` so the tail is always
    covered exactly once (dedup'd when the strides already land there);
    docs shorter than ``win`` emit one whole-doc chunk.

    Output: (doc_id, chunk_idx, start_word, n_words, chunk_md5) —
    chunk_idx dense 0.. per doc in start order, chunk_md5 over the
    single-space re-joined window (whitespace-normalized, the d7 passage
    convention, so chunk hashes are directly joinable against
    repeated_passages output for leakage screens).

    Scale shape: one map-side explode — no shuffle, no window; chunk
    count is size/stride per doc. The text itself is NOT emitted (only
    offsets + hash): the consumer re-slices from the source column,
    keeping the chunk table narrow for 100 TB corpora.
    """
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    words_df = widen_narrow_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    starts = F.expr(
        f"CASE WHEN size(_w) <= {win} THEN array(0) "
        f"ELSE array_distinct(concat("
        f"  sequence(0, size(_w) - {win}, {stride}),"
        f"  array(size(_w) - {win}))) END"
    )
    exploded = words_df.select(
        "doc_id",
        "_w",
        F.posexplode(starts).alias("chunk_idx", "start_word"),
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_word").cast("long").alias("start_word"),
        F.least(F.lit(win), F.size("_w") - F.col("start_word"))
        .cast("long")
        .alias("n_words"),
        F.expr(f"md5(concat_ws(' ', slice(_w, start_word + 1, {win})))").alias(
            "chunk_md5"
        ),
    )


def sentence_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int = 5,
    sep: str = ". ",
) -> DataFrame:
    """Corpus-level boilerplate REMOVAL at sentence grain — the transform
    whose detection side is :func:`boilerplate_flags`: a sentence whose
    normalized (lowercased) form appears in >= ``min_docs`` distinct
    documents is stripped from EVERY document and the survivors re-joined
    in original order (the CCNet/RefinedWeb shared-line filter, applied
    to terminal-punctuation sentences because this corpus has no line
    structure; sentences split exactly like :func:`sentence_stats`).

    Returns one row per input document:
    (doc_id, n_sentences, n_dropped, kept_frac, cleaned) — documents
    with no sentences (empty text) keep a row with counts 0, NULL
    kept_frac and '' cleaned, so the output is a full-corpus transform,
    not a filter.

    Plan shape: sentences explode map-side; the per-sentence document
    frequency is a DISTINCT on (doc, norm) — keys spread over both
    columns, no hot partition — then a groupBy(norm) count whose
    map-side partial aggregation caps any hot sentence's reduce-side
    input at one row per task, joined back onto the positions. The df
    side is deliberately an aggregate+join rather than a count-window
    over (norm): a window partition is ONE task per key (a boilerplate
    sentence shared by 1% of a billion docs would serialize 10M rows
    through it, and AQE cannot split a skewed window partition), while
    the skewed JOIN probe side is exactly what AQE's skew-join handles.
    The recompose is one groupBy(doc) collecting (pos, sent) structs
    sorted by position — deterministic because positions are unique per
    document.

    Scrubbing is a FIXPOINT: removing df >= min_docs sentences cannot
    raise any surviving sentence's df, so a second pass drops nothing
    (property-tested).
    """
    sents = F.expr(
        f"filter(transform(split({text_col}, '[.!?]+'), s -> trim(s)), s -> s != '')"
    )
    pos = (
        df.select(F.col(id_col).alias("doc_id"), F.posexplode(sents))
        .withColumnRenamed("col", "sent")
        .withColumn("norm", F.lower(F.col("sent")))
    )
    dfreq = (
        pos.select("doc_id", "norm")
        .distinct()
        .groupBy("norm")
        .agg(F.count("*").alias("dfc"))
    )
    scored = pos.join(dfreq, "norm")
    agg = (
        scored.filter(F.col("dfc") < min_docs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                    lambda x: x["sent"],
                ),
                sep,
            ).alias("cleaned"),
        )
    )
    totals = pos.groupBy("doc_id").agg(F.count("*").alias("n_sentences"))
    n_s = F.coalesce("n_sentences", F.lit(0))
    n_k = F.coalesce("n_kept", F.lit(0))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            n_s.cast("long").alias("n_sentences"),
            (n_s - n_k).cast("long").alias("n_dropped"),
            F.when(n_s > 0, n_k.cast("double") / F.col("n_sentences")).alias(
                "kept_frac"
            ),
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        )
    )


# Frozen linear quality-classifier weights (t19). Every weight is an
# exact binary fraction and the length divisor is a power of two, so the
# whole logit is mul/add of correctly-rounded IEEE doubles — both engines
# reproduce it bit-for-bit (the tfidf log-free precedent).
QUALITY_CLF_WEIGHTS = {
    "bias": -0.75,
    "len_norm": 0.5,
    "punct": -8.0,
    "stopword": 6.0,
}
# length saturation: min(n_ws, 64)/64 — a power of two keeps the division
# exact; 64 sits mid-corpus so the decision boundary actually separates
QUALITY_CLF_LEN_DIVISOR = 64.0


def quality_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: dict[str, float] | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Batch inference for a frozen LINEAR quality classifier — the
    fastText/logistic corpus-filter serving shape reduced to its Spark
    plumbing: featurize with t2's exact recipes (length band, punctuation
    ratio, stopword ratio), dot with constant weights, threshold into a
    keep decision. Returns (doc_id, logit, keep).

    Entirely native expressions, no UDF: a linear scorer is a projection,
    so inference runs at scan speed inside whole-stage codegen — the
    right shape for a first-pass filter over 100 TB (a learned non-linear
    model would take the Arrow-batched mapInPandas tier instead, like the
    multimodal decoders).

    The sigmoid is deliberately omitted: it is monotone, so thresholding
    the logit decides identically, and exp() is the one op whose last
    ulp varies across math libraries — keeping the score to mul/add
    keeps it bit-identical across engines (cf. tfidf_top_terms).
    Documents with NULL features (empty text) get NULL logit and NULL
    keep — undecidable, a quality-gate concern upstream.
    """
    logit = quality_logit(text_col, weights)
    return df.select(
        F.col(id_col).alias("doc_id"),
        logit.alias("logit"),
        (logit > F.lit(float(threshold))).alias("keep"),
    )


def quality_logit(
    text_col: str, weights: dict[str, float] | None = None
) -> Column:
    """The frozen linear quality score as a plain Column expression —
    :func:`quality_classifier` projects it; pipelines that already hold
    the text can filter on it directly (``df.filter(quality_logit("text")
    > 0)``) without a join back to the classifier's output."""
    w = {**QUALITY_CLF_WEIGHTS, **(weights or {})}
    n = token_count_ws(text_col).cast("double")
    d = QUALITY_CLF_LEN_DIVISOR
    len_norm = F.least(n, F.lit(d)) / F.lit(d)
    return (
        F.lit(float(w["bias"]))
        + F.lit(float(w["len_norm"])) * len_norm
        + F.lit(float(w["punct"])) * punct_ratio(text_col)
        + F.lit(float(w["stopword"])) * stopword_ratio(text_col)
    )


def shingle_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    heavy_df: int = 5,
) -> DataFrame:
    """Per-document shingle novelty — the memorization-risk audit a
    training-data release runs: of a doc's distinct word k-gram
    shingles, how many appear in NO other document (df == 1, novel) and
    how many are corpus-common (df >= ``heavy_df``)? Low novelty flags
    near-boilerplate / heavily templated docs BEFORE near-dup thresholds
    trip; the novel share is also the denominator memorization probes
    normalize by. Returns (doc_id, n_shingles, n_novel, n_heavy,
    novelty) — counts exact, novelty ONE division of exact integers.

    Uses the ONE shared shingle recipe (dedup.shingle_array_expr via
    doc_shingles — shingles are per-doc DISTINCT, so df counts
    DOCUMENTS, not occurrences). Plan: shingle-keyed df aggregate
    (map-side combinable) + shingle-keyed join back + doc-keyed rollup —
    three key-partitioned exchanges, all AQE-splittable; no windows, no
    caps (per-doc distinct shingles are bounded by doc length). At
    100 TB this is d3's posting-list shape without the pair emission."""
    from mrf_etl_spark.operators.dedup import doc_shingles

    sh = doc_shingles(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col,
        "doc_id",
        k,
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    per = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("n_novel"),
            F.sum(
                F.when(F.col("_df") >= heavy_df, 1).otherwise(0)
            ).alias("n_heavy"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        "n_heavy",
        (
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


def ngram_lm_bits(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau_eighths: int = 37,
) -> DataFrame:
    """Bigram language-model surprise scoring (t22) — the CCNet-style
    perplexity filter, self-trained on the corpus in the SAME job: count
    corpus-wide unigrams and bigrams (two map-side-combinable aggs),
    then score every document by its total model surprise

        bits(w1 w2) = floor_log2(c(w1)) - floor_log2(c(w1 w2))

    an integer-bits proxy for -log2 p(w2|w1) under the MLE bigram model
    (c(bigram) <= c(prefix unigram) always, so bits >= 0). Documents
    whose average surprise exceeds ``tau_eighths``/8 bits/bigram flag
    as out-of-distribution (the threshold is quantized to eighths of a
    bit so the comparison stays integral at sub-bit resolution —
    corpus-homogeneous fixtures cluster within ~0.6 bits/bigram) — the standard lever for dropping gibberish,
    boilerplate-free rare-domain text, and wrong-language fragments
    that per-doc heuristics (t2/t7) miss because they only see the doc
    itself, never the corpus distribution.

    INTEGER-EXACT by construction: floor_log2(x) = length(bin(x)) - 1
    (bit-length of a positive int64 — Spark's ``bin`` and DuckDB's
    ``bin`` both render minimal binary strings), sums/counts are int64,
    and the flag is the integer comparison
    8·total_bits > tau_eighths·n_bigrams — no libm, no division, the
    oracle replays every value exactly.

    Plan shape: tokenize+pair is scan-local (one HOF projection); the
    two count tables shuffle once each on their n-gram key; scoring
    joins the doc-pair table to both counts on those keys (sort-merge,
    AQE-splittable — a hot token like 'the' is ONE key among millions,
    and the join's build side is count rows, never documents); the
    per-doc rollup is the final keyed agg. Nothing driver-side, no
    vocabulary cap, no Python in the hot path.

    Returns (doc_id, n_bigrams, total_bits, is_surprising) for EVERY
    input document (docs with < 2 tokens score 0 and never flag).
    """
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    # the tokenize + pair explode + count aggs are map-side CPU-bound:
    # a corpus arriving as 1-2 parquet splits would pin them on 1-2
    # cores (measured: the whole t22 chain at 2/32 tasks was the real
    # slope behind t25/sp26's super-linear sf1 ladders, not the hot-key
    # join) — no-op at real scale where the scan is already wide
    w = widen_narrow_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    uni = w.select(F.explode("_w").alias("w1"))
    uc = uni.groupBy("w1").agg(F.count("*").alias("_cu"))
    pairs = w.filter(F.size("_w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(_w, 1, size(_w) - 1),"
                " (x, i) -> struct(x AS w1, element_at(_w, i + 2) AS w2))"
            )
        ).alias("_g"),
    ).select("doc_id", F.col("_g.w1").alias("w1"), F.col("_g.w2").alias("w2"))
    bc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("_cb"))
    flog2 = lambda c: F.length(F.bin(F.col(c))) - F.lit(1)  # noqa: E731
    # skew discipline (VERDICT r10 #6): resolve per-DISTINCT-bigram bits
    # by joining the two COUNT tables on w1 first (hot stopwords fan out
    # over distinct-bigram rows, never over document traffic), then join
    # the doc-pair stream on the FULL (w1, w2) key — 'the' is one key on
    # a w1-keyed join but thousands of (the, X) keys here, so the heavy
    # join's partitions stay balanced by construction instead of leaning
    # on AQE's skew splitter
    bits = bc.join(uc, "w1").select(
        "w1", "w2", (flog2("_cu") - flog2("_cb")).cast("long").alias("_bits")
    )
    scored = pairs.join(bits, ["w1", "w2"]).select("doc_id", "_bits")
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("_bits").alias("total_bits")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.coalesce("total_bits", F.lit(0).cast("long")).alias("total_bits"),
            F.coalesce(
                F.lit(8).cast("long") * F.col("total_bits")
                > F.lit(tau_eighths).cast("long") * F.col("n_bigrams"),
                F.lit(False),
            ).alias("is_surprising"),
        )
    )


def _bpe_merge_step(arr_col, left_col, right_col):
    """Greedy left-to-right merge of one BPE pair inside a symbol array,
    as a left-fold (the canonical 'replace all non-overlapping
    occurrences' pass): the accumulator is the space-joined symbol
    string; when it ends with the pair's LEFT symbol (at a symbol
    boundary) and the next element IS the right symbol, the two fuse.
    A fused symbol can immediately serve as the LEFT of the next merge
    (matching the scan-ahead semantics of replace) but can never
    re-split. Returns the merged space-joined string."""
    def step(acc, x):
        left, right = left_col, right_col
        hit = (x == right) & (
            (acc == left) | F.endswith(acc, F.concat(F.lit(" "), left))
        )
        fused = F.concat(
            F.substring(acc, F.lit(1), F.length(acc) - F.length(left)),
            left,
            right,
        )
        return F.when(hit, fused).otherwise(
            F.concat(acc, F.lit(" "), x)
        )

    return F.aggregate(
        F.slice(arr_col, 2, F.greatest(F.size(arr_col) - 1, F.lit(0))),
        F.element_at(arr_col, 1),
        step,
    )


def bpe_words(
    docs: DataFrame, text_col: str = "text", *keep: ColumnOrName
) -> DataFrame:
    """(*keep, w): one row per whitespace word of ``text_col`` — the
    split(lower(trim)) recipe every BPE entry (t23, t24, sp24, st22)
    and its oracle share."""
    return docs.select(
        *keep,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    )


def bpe_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, n): the corpus word counts BPE trains on (the same pre-count
    HF's tokenizers do before training)."""
    return bpe_words(docs, text_col).groupBy("w").agg(F.count("*").alias("n"))


def _bpe_encode(words: DataFrame, merges: list, *keep: str) -> DataFrame:
    """(*keep, s): each word ``w`` as its space-joined BPE symbols after
    ``merges`` — single characters (regexp '(.)' spacing, identical
    per-codepoint semantics on both engines), then one
    :func:`_bpe_merge_step` projection per learned rule, its pair as
    literals."""
    out = words.select(
        *keep, F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("s")
    )
    for left, right, _ in merges:
        out = out.select(
            *keep,
            _bpe_merge_step(F.split("s", " "), F.lit(left), F.lit(right)).alias("s"),
        )
    return out


def _bpe_train(vocab: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """Greedy BPE training over a (w, n) vocab: up to ``n_merges`` rules
    ``(left, right, pair_n)`` in learning order. Each pass encodes the
    vocab with the rules so far, counts adjacent symbol pairs weighted
    by word count (a map-side-combinable agg) and takes the argmax
    (count DESC, left ASC, right ASC) as a top-1 sort in Spark; only
    that one row is collected. Training stops early when no adjacent
    pair is left. The vocab is persisted for the passes (without it
    every pass re-scans the corpus) and released before this returns."""
    merges: list[tuple[str, str, int]] = []
    with state.scope():
        vocab = state.persist(vocab)
        for _ in range(n_merges):
            best = (
                _bpe_encode(vocab, merges, "n")
                .select(
                    "n",
                    F.explode(
                        F.expr(
                            "transform(slice(split(s, ' '), 1, "
                            "size(split(s, ' ')) - 1), (x, i) -> "
                            "struct(x AS l, element_at(split(s, ' '), i + 2) AS r))"
                        )
                    ).alias("_p"),
                )
                .groupBy("_p.l", "_p.r")
                .agg(F.sum("n").alias("pair_n"))
                .orderBy(F.desc("pair_n"), "l", "r")
                .first()
            )
            if best is None:  # no adjacent pair left anywhere
                break
            merges.append((best.l, best.r, best.pair_n))
    return merges


def bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 3,
) -> DataFrame:
    """Distributed BPE tokenizer training (t23) — the first ``n_merges``
    merge rules learned from the corpus, exactly the loop inside every
    production tokenizer trainer: count adjacent symbol pairs weighted
    by word frequency, fuse the most frequent pair everywhere, repeat.

    Scale shape — the reason this distributes: ONE corpus-proportional
    pass builds the (word, count) table; every merge pass after that is
    VOCAB-sized (:func:`_bpe_train`): the vocab is re-encoded with the
    rules learned so far as literal per-row folds, the weighted pair
    count is a map-side-combinable agg, and the 1-row argmax is the
    only thing the driver collects. The merge table itself (``n_merges``
    rows) lives on the driver, like the e6/e7 codebooks and e9–e13
    weight vectors. A 100 TB corpus trains at the cost of one word count
    + M vocab-sized passes.

    DETERMINISTIC/EXACT end-to-end: counts are int64; the argmax
    tie-breaks (count DESC, left ASC, right ASC) in Spark, in the
    oracle's own ORDER BY; the greedy merge is a left-fold with exact
    string semantics the oracle replays via DuckDB's list_reduce. Words
    come from :func:`bpe_words`.

    Returns the merge table: (step, left, right, pair_n), one row per
    learned rule — the artifact a tokenizer ships. A vocab that runs
    out of adjacent pairs yields fewer than ``n_merges`` rows.
    """
    merges = _bpe_train(bpe_vocab(docs, text_col), n_merges)
    return docs.sparkSession.createDataFrame(
        [(k, *m) for k, m in enumerate(merges, 1)],
        "step int, left string, right string, pair_n bigint",
    )


def bpe_word_tokens(docs: DataFrame, text_col: str, n_merges: int) -> DataFrame:
    """(w, _chars, _toks): train ``n_merges`` rules on the corpus vocab
    (:func:`_bpe_train`), then encode every vocab word with them in one
    projection — the per-word table t24 and st22 join document words
    against. Both counts are int64."""
    vocab = bpe_vocab(docs, text_col)
    merges = _bpe_train(vocab, n_merges)
    return _bpe_encode(vocab, merges, "w").select(
        "w",
        F.length("w").cast("long").alias("_chars"),
        F.size(F.split(F.col("s"), " ")).cast("long").alias("_toks"),
    )


def bpe_encode_fertility(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 3,
) -> DataFrame:
    """BPE encode + fertility report (t24) — the APPLY side of
    :func:`bpe_merges`: learn the merge table from the corpus (same
    driver-side trainer), encode every document with it, and report
    per-document fertility — characters, token count BEFORE merges
    (= chars) and AFTER, all exact int64 (the tokens-per-word
    compression number tokenizer evaluations quote).

    Scale shape: encoding goes through the VOCAB, not the corpus — the
    learned rules enter the plan as literals, the per-word token counts
    are one projection over the distinct-word table
    (:func:`bpe_word_tokens`) and JOIN back to the exploded doc words;
    the join key is the word (AQE-splittable hot stopwords), the rollup
    is one doc-keyed agg. The corpus is never re-folded and nothing
    stays persisted.

    Returns (doc_id, n_words, n_chars, n_tokens) — docs with no words
    report zeros.
    """
    per_word = bpe_word_tokens(docs, text_col, n_merges)
    agg = (
        bpe_words(docs, text_col, F.col(id_col).alias("doc_id"))
        .join(per_word, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_chars").alias("n_chars"),
            F.sum("_toks").alias("n_tokens"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", zero).alias("n_words"),
            F.coalesce("n_chars", zero).alias("n_chars"),
            F.coalesce("n_tokens", zero).alias("n_tokens"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target_expr,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget_n: int = 50,
) -> DataFrame:
    """DSIR-style importance-weighted data selection (d15) — pick the
    ``budget_n`` pool documents whose unigram distribution looks most
    like a TARGET slice (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling": score each candidate by the
    log-likelihood ratio of a target LM vs the raw-corpus LM, keep the
    highest). ``target_expr`` marks the target rows (the
    Wikipedia/books-style exemplar slice); everything else is the
    selection pool.

    Integer-bits scoring (the t22 doctrine): with c_t(w)/c_c(w) the
    target/corpus unigram counts and N_t/N_c their token totals, the
    per-token log-ratio log2(p_t/p_c) = [log2 c_t − log2 c_c] +
    [log2 N_c − log2 N_t] quantizes to floor_log2 on add-one counts —
    floor_log2(x) = length(bin(x)) − 1 renders identically on both
    engines, so every score and therefore the selected set replays
    exactly. score(doc) = Σ_w [flog2(1+c_t(w)) − flog2(1+c_c(w))]
    + n_tokens·[flog2(1+N_c) − flog2(1+N_t)].

    Plan shape at 100 TB: one token explode feeding two map-side-
    combinable count tables (target counts are a filtered second agg of
    the SAME exploded scan), the scoring join is per-token on the word
    key (hot stopwords = the AQE skew case; the count tables never
    leave the executors), totals ride a 1-row broadcast, and the final
    budget cut is a bounded TakeOrdered — never a corpus-wide window.
    The rank column is minted over the ≤ budget_n survivors only.

    Returns the top ``budget_n`` pool docs as (doc_id, n_tokens, score,
    rank), rank 1 = most target-like; ties (score, then doc_id ASC)
    are deterministic on both engines.
    """
    from pyspark.sql.window import Window

    flog2 = lambda c: (F.length(F.bin(c)) - F.lit(1)).cast("long")  # noqa: E731
    w = docs.select(
        F.col(id_col).alias("doc_id"),
        target_expr.alias("_tgt"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_ws"),
    )
    words = w.select("doc_id", "_tgt", F.explode("_ws").alias("wd"))
    cc = words.groupBy("wd").agg(F.count("*").alias("_cc"))
    ct = words.filter(F.col("_tgt")).groupBy("wd").agg(F.count("*").alias("_ct"))
    tot = words.agg(
        F.count("*").alias("_nc"),
        F.sum(F.col("_tgt").cast("long")).alias("_nt"),
    )
    bits = flog2(F.lit(1) + F.coalesce(F.col("_ct"), F.lit(0))) - flog2(
        F.lit(1) + F.col("_cc")
    )
    per_doc = (
        words.filter(~F.col("_tgt"))
        .join(cc, "wd")
        .join(ct, "wd", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum(bits).alias("_sbits"))
    )
    norm = flog2(F.lit(1) + F.col("_nc")) - flog2(F.lit(1) + F.col("_nt"))
    scored = per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        (F.col("_sbits") + F.col("n_tokens") * norm).cast("long").alias("score"),
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        budget_n
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(wr).cast("long"))


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """CCNet-style per-domain perplexity bucketing (t25) — split every
    domain's documents into head/middle/tail thirds by language-model
    surprise (Wenzek et al. 2020: CCNet buckets each language by
    perplexity percentiles and trains on the head). Absolute thresholds
    misfire across domains — legal text is 'surprising' everywhere —
    so the cut is RELATIVE: each domain gets its own tertile
    thresholds.

    Scoring is t22's corpus-trained bigram surprise, kept integral as
    average eighth-bits per bigram (``(8·total_bits) div n_bigrams``;
    docs with no bigram score 0). Thresholds come from the
    HISTOGRAM-cumulative shape, not a per-row rank: per (domain, score)
    counts — a table bounded by |domains| × |distinct scores| (scores
    are small ints), MBs at any corpus size — cumulative-summed per
    domain, then t1 = min score whose cum ≥ ceil(n_d/3) and t2 = min
    score whose cum ≥ ceil(2·n_d/3). bucket = 'head' iff score ≤ t1,
    'middle' iff score ≤ t2, else 'tail' — tie rows land in one
    deterministic bucket with no per-row rank, so the corpus never
    sorts; the only window runs over the tiny histogram. At 100 TB the
    plan is t22's two count shuffles + one bounded-histogram broadcast
    join back.

    Returns (doc_id, domain, score_e, t1, t2, bucket) for every doc.
    """
    from pyspark.sql.window import Window

    bits = ngram_lm_bits(docs, text_col, id_col)
    # persist the slim (doc_id, score_e, domain) frame: the histogram
    # AND the final bucket join both consume it, and unpersisted each
    # reference re-runs the whole t22 bigram cascade (two pair-stream
    # shuffles) — measured 2x at sf0.1; sp26 stacked another 2x on top
    # through curriculum_order's two references (r11, the e6 lesson).
    # State is 3 narrow columns per doc.
    sc = state.persist(
        bits.select(
            "doc_id",
            F.expr(
                "CASE WHEN n_bigrams > 0 THEN (8 * total_bits) div n_bigrams "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("score_e"),
        ).join(
            docs.select(
                F.col(id_col).alias("doc_id"), F.col(domain_col).alias("domain")
            ),
            "doc_id",
        )
    )
    hist = sc.groupBy("domain", "score_e").agg(F.count("*").alias("_c"))
    wcum = (
        Window.partitionBy("domain")
        .orderBy(F.col("score_e").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(wcum))
    nd = hist.groupBy("domain").agg(F.sum("_c").alias("_nd"))
    thr = (
        cum.join(nd, "domain")
        .groupBy("domain")
        .agg(
            F.min(
                F.when(
                    F.col("_cum") >= F.expr("(_nd + 2) div 3"),
                    F.col("score_e"),
                )
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("_cum") >= F.expr("(2 * _nd + 2) div 3"),
                    F.col("score_e"),
                )
            ).alias("t2"),
        )
    )
    return sc.join(F.broadcast(thr), "domain").select(
        "doc_id",
        "domain",
        "score_e",
        "t1",
        "t2",
        F.when(F.col("score_e") <= F.col("t1"), F.lit("head"))
        .when(F.col("score_e") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def zipf_fit(
    docs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    tol_quarters: int = 1,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """Zipf rank-frequency fit per domain (t26) — the corpus-statistics
    sanity check every large-scale text pipeline runs before training:
    natural language's word frequencies follow f(r) ~ r^s with s ≈ -1
    (Zipf 1949); machine-generated spam, template farms, and tokenizer
    accidents bend the rank-frequency line away from -1, so the fitted
    slope is a cheap corpus-level quality gate that per-document
    heuristics (t2/t7) cannot see.

    The textbook recipe — rank all words by frequency, regress
    log(freq) on log(rank) — needs a GLOBAL sort of the vocabulary
    (a single-partition window at corpus scale). This computes the
    identical regression without ranking a single word:

      1. word counts per (domain, word) — one vocab-bounded shuffle;
      2. collapse to the (domain, freq) -> type-count table ``fc`` —
         a few hundred rows per domain at any corpus size (distinct
         frequency VALUES, not words);
      3. words sharing frequency f occupy one contiguous rank block
         [r0, r0+c): r0 = 1 + sum of counts of strictly-higher
         frequencies, an exclusive cumsum over the tiny ``fc`` table
         (the only ordered window in the plan);
      4. the regression runs on floor-log2 coordinates (x = flog2(rank),
         y = flog2(freq), the t22 integer-bits doctrine:
         flog2(v) = length(bin(v)) - 1 renders identically on Spark and
         DuckDB), so the rank block's contribution decomposes by BIT
         CLASS: for k in 0..61, cnt_k = |[r0, r0+c) ∩ [2^k, 2^(k+1))|
         words contribute x = k — closed-form interval overlap on the
         tiny table (62-way explode of ``fc``, still tiny), no
         per-word work at all.

    The five regression sums (n, Σx, Σx², Σy, Σxy) are EXACT int64
    (bounded by 62²·n_types — safe to ~2^50 types/domain; ranks are
    capped at 2^62 by the k range). Only the final slope
    (n·Σxy - Σx·Σy)/(n·Σx² - (Σx)²) leaves integers, via per-operand
    double casts whose products/quotient are correctly-rounded IEEE on
    both engines — bit-identical replay, no libm. Degenerate domains
    (all ranks in one bit class → zero variance) yield NULL slope and
    FALSE flag rather than a divide-by-zero artifact.

    Returns one row per domain: (domain, n_types, n_tokens, zipf_slope,
    is_zipfian) where is_zipfian = |slope + 1| <= tol_quarters/4.

    Beyond-reference depth (no mrf-etl anchor); the scale shape is
    a1-style keyed counts + tiny-table math, nothing corpus-ordered.
    """
    from pyspark.sql.window import Window

    from mrf_etl_spark.operators.dedup import widen_narrow_input

    if word_counts is not None:
        # st24's serving path: a pre-merged (domain, wd, f) table (the
        # streamed count lake) replaces the tokenize — everything below
        # the first agg is identical, so streamed == one-shot exactly
        wc = word_counts.select("domain", "wd", F.col("f").cast("long"))
    else:
        w = widen_narrow_input(docs).select(
            F.col(domain_col).alias("domain"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("wd"),
        )
        wc = w.groupBy("domain", "wd").agg(F.count("*").alias("f"))
    fc = wc.groupBy("domain", "f").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("domain")
        .orderBy(F.col("f").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fr = fc.withColumn(
        "r0", F.lit(1).cast("long") + F.coalesce(F.sum("c").over(wcum), F.lit(0))
    )
    kx = fr.select(
        "domain",
        "f",
        "c",
        "r0",
        F.explode(F.sequence(F.lit(0), F.lit(61))).alias("k"),
    ).select(
        "domain",
        "f",
        "k",
        F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.col("r0") + F.col("c"),
                F.expr("shiftleft(CAST(1 AS BIGINT), k + 1)"),
            )
            - F.greatest(F.col("r0"), F.expr("shiftleft(CAST(1 AS BIGINT), k)")),
        ).alias("cnt"),
    )
    y = F.length(F.bin(F.col("f"))) - F.lit(1)
    sums = kx.groupBy("domain").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("f") * F.col("cnt")).alias("ntok"),
        F.sum(F.col("k") * F.col("cnt")).alias("sx"),
        F.sum(F.col("k") * F.col("k") * F.col("cnt")).alias("sxx"),
        F.sum(y * F.col("cnt")).alias("sy"),
        F.sum(F.col("k") * y * F.col("cnt")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = d("n") * d("sxx") - d("sx") * d("sx")
    slope = F.when(den != F.lit(0.0), num / den)
    return sums.select(
        "domain",
        F.col("n").alias("n_types"),
        F.col("ntok").alias("n_tokens"),
        slope.alias("zipf_slope"),
        F.coalesce(
            F.when(
                den != F.lit(0.0),
                F.abs(num / den + F.lit(1.0)) <= F.lit(tol_quarters / 4.0),
            ),
            F.lit(False),
        ).alias("is_zipfian"),
    )


def vocab_growth(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Heaps-law vocabulary growth curve (t27) — distinct vocabulary
    size after the first 2^j tokens of the corpus in canonical document
    order, for every power-of-two checkpoint up to the corpus size.
    Natural text grows vocabulary as V(T) ~ T^b with b ≈ 0.4-0.6
    (Heaps 1978); a curve that flattens early signals a
    duplicate-saturated crawl, one that stays near-linear signals
    noise/UUID-like token churn — the corpus-level companion to t26's
    Zipf slope and a direct "is more data still adding signal" probe
    for training-set curation.

    The naive form needs a running COUNT(DISTINCT) over a global token
    order — quadratic or single-partition. This computes the identical
    curve with one insight: vocab at checkpoint T is the number of
    words whose FIRST occurrence position is <= T, so only
    (word -> first_pos) is needed, then a 64-row histogram:

      1. global token positions in (doc_id, token-index) order via the
         sp8 two-level prefix-sum decomposition — per-doc token counts,
         monotone range buckets on the id (width from a broadcast
         1-row min/max attach, never a collect), exclusive bucket
         offsets over the ~``n_buckets``-row table, per-bucket
         cumulative window — the only corpus-wide shuffles are that
         bucket window and the min-per-word agg;
      2. first_pos = min(position) per word — vocab-bounded agg;
      3. bucket words by g = flog2(first_pos - 1) (t22's integer-bits
         idiom; first_pos <= 2^j  <=>  g <= j-1), giving a <= 62-row
         class-count table; each checkpoint's vocab is a sum over it.

    All-integer surface, exact at any scale (positions < 2^62).
    Returns one row per checkpoint j = 1..ceil_log2(n_tokens):
    (j, t_tokens = 2^j, vocab_size).

    Beyond-reference depth (no mrf-etl anchor); the scale shape is
    global_shuffle's rank decomposition (operators/sampling.py:580)
    applied to token offsets instead of row ranks.
    """
    from pyspark.sql.window import Window

    from mrf_etl_spark.operators.dedup import widen_narrow_input

    w = widen_narrow_input(docs).select(
        F.col(id_col).alias("did"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("ws"),
    )
    dt = w.select("did", F.size("ws").cast("long").alias("nt"))
    stats = dt.agg(
        F.min("did").alias("lo"),
        F.max("did").alias("hi"),
        F.sum("nt").alias("total"),
    )
    # monotone range buckets: width >= 1, bucket count <= n_buckets + 1;
    # the 1-row stats attach is a broadcast scalar, not a collect
    dtb = dt.join(F.broadcast(stats)).select(
        "did",
        "nt",
        F.expr(f"(did - lo) div (((hi - lo) div {n_buckets}) + 1)").alias("b"),
    )
    bcnt = dtb.groupBy("b").agg(F.sum("nt").alias("bn"))
    boff = bcnt.select(
        "b",
        F.coalesce(
            F.sum("bn").over(
                Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("boff"),
    )
    wdoc = (
        Window.partitionBy("b")
        .orderBy("did")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    doff = (
        dtb.join(F.broadcast(boff), "b")
        .withColumn("off", F.col("boff") + F.coalesce(F.sum("nt").over(wdoc), F.lit(0)))
        .select("did", "off")
    )
    tok = (
        w.join(doff, "did")
        .select("off", F.posexplode("ws").alias("p", "wd"))
        .select(F.col("wd"), (F.col("off") + F.col("p") + 1).alias("gpos"))
    )
    fp = tok.groupBy("wd").agg(F.min("gpos").alias("fp"))
    cc = fp.groupBy(
        (F.length(F.bin(F.col("fp") - 1)) - F.lit(1)).alias("g")
    ).agg(F.count("*").alias("c"))
    js = stats.select(
        F.explode(
            F.sequence(F.lit(1), (F.length(F.bin(F.col("total") - 1))).cast("int"))
        ).alias("j")
    )
    return (
        js.join(F.broadcast(cc), F.col("g") < F.col("j"), "left")
        .groupBy("j")
        .agg(F.sum("c").alias("vocab_size"))
        .select(
            "j",
            F.expr("shiftleft(CAST(1 AS BIGINT), j)").alias("t_tokens"),
            F.coalesce("vocab_size", F.lit(0).cast("long")).alias("vocab_size"),
        )
    )


def eval_span_excision(
    df: DataFrame,
    eval_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Surgical eval-span excision (d21) — the REMOVAL step the
    decontamination family stops short of: d12/d14/q11 GATE whole
    documents out when they overlap the held-out benchmark; this keeps
    the document and cuts only the matching material (the
    canary/benchmark-scrubbing discipline: a 10k-token document with
    one leaked eval sentence loses ~k words, not 10k).

    Set-based semantics (the d20 doctrine — no greedy scan, so the SQL
    oracle replays the rewrite exactly):

    * the eval universe is the DISTINCT 60-bit hash set of the eval
      split's ``k``-gram windows (t8's shingle recipe; sub-k eval docs
      contribute their whole text) — the bounded broadcast side, KBs
      per benchmark at any corpus size;
    * every corpus window whose hash is in the universe is a hit; word
      position p is REMOVED iff some hit window covers it (sub-k
      corpus docs match only as their whole text, covering every
      position);
    * output per CORPUS doc: (doc_id, clean_text, n_tokens, n_removed,
      n_hits) — clean_text is the kept original-case words joined by
      single spaces (d20's normalization); untouched docs round-trip
      with n_removed = 0.

    Scale shape: corpus windows stream through ONE broadcast semi-ish
    join against the eval universe; the position explode and the
    rewrite's posexplode run ONLY on docs with at least one hit (clean
    docs take a projection-only passthrough) — the whole per-position
    cost is bounded by contaminated material, not the corpus.
    """
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    wide = widen_narrow_input(df)
    euniv = eval_ngram_universe(wide.filter(eval_pred), text_col, k)
    return excise_with_universe(
        wide.filter(~eval_pred), euniv, text_col, id_col, k
    )


def _h60(s: str) -> str:
    # the shared 60-bit md5 hash domain (t8/d2/d3's recipe)
    return f"cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"


def eval_ngram_universe(
    ev: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """The distinct 60-bit hash set of an eval split's ``k``-gram
    windows (sub-k docs contribute their whole text) — d21's bounded
    broadcast side, factored out so st25 can freeze it ONCE as the
    at-ingest artifact. Returns a single-column (h) frame."""
    ew = ev.select(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("ws")
    )
    return (
        ew.filter(F.size("ws") >= k)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {k - 1}), "
                    f"i -> {_h60(f'array_join(slice(ws, i, {k}), chr(32))')})"
                )
            ).alias("h")
        )
        .unionByName(
            ew.filter(F.size("ws") < k).select(
                F.expr(_h60("array_join(ws, chr(32))")).alias("h")
            )
        )
        .distinct()
    )


def excise_with_universe(
    docs: DataFrame,
    euniv: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Apply d21's position-coverage excision to ``docs`` against a
    prebuilt eval universe — a pure per-document function of (text,
    universe), which is what makes st25's micro-batch application equal
    the one-shot batch run row for row."""
    corpus = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_ow"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    h60 = lambda s: _h60(s)  # noqa: E731
    win = (
        corpus.filter(F.size("_w") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_w) - {k - 1}), "
                    f"i -> struct(i AS pos, CAST({k} AS BIGINT) AS cover, "
                    f"{h60(f'array_join(slice(_w, i, {k}), chr(32))')} AS h))"
                )
            ).alias("_s"),
        )
        .select("doc_id", "_s.pos", "_s.cover", "_s.h")
        .unionByName(
            corpus.filter(F.size("_w") < k).select(
                "doc_id",
                F.lit(1).alias("pos"),
                F.size("_w").cast("long").alias("cover"),
                F.expr(h60("array_join(_w, chr(32))")).alias("h"),
            )
        )
    )
    mt = win.join(F.broadcast(euniv), "h")
    # per-doc hit count AND removed-position ARRAY in ONE agg (r11, the
    # d20 rebuild doctrine): hit windows' position ranges stay arrays
    # end-to-end (sequence → flatten → distinct → sort — bounded by
    # contaminated material), replacing the former position explode +
    # (doc_id, p)-keyed anti-join + collect_list rebuild, which
    # posexploded every HIT doc in full and paid two extra exchanges
    cov = mt.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.expr("sequence(pos, pos + cast(cover as int) - 1)")
                    )
                )
            )
        ).alias("_rm"),
    )
    # map-side index-filter rebuild: untouched docs never explode
    kept_arr = F.filter(
        "_ow", lambda w, i: ~F.array_contains("_rm", i + F.lit(1))
    )
    return (
        corpus.select("doc_id", "_ow")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("n_hits").isNull(), F.array_join("_ow", " ")
            )
            .otherwise(F.array_join(kept_arr, " "))
            .alias("clean_text"),
            F.size("_ow").cast("long").alias("n_tokens"),
            F.when(F.col("n_hits").isNull(), F.lit(0).cast("long"))
            .otherwise(
                (F.size("_ow") - F.size(kept_arr)).cast("long")
            )
            .alias("n_removed"),
            F.coalesce(F.col("n_hits").cast("long"), F.lit(0).cast("long")).alias(
                "n_hits"
            ),
        )
    )


def vocab_burstiness(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    min_df: int = 2,
    burst_x: int = 2,
) -> DataFrame:
    """Vocabulary burstiness profile per domain (t28) — the Church &
    Gale (1995) observation made operational: content words are BURSTY
    (when a document uses a word at all, it uses it repeatedly), so
    ``cf/df`` — total occurrences over containing documents — separates
    topical vocabulary from function words, and a domain whose token
    mass concentrates in high-burst types is keyword-stuffed/templated
    in a way per-document repetition scores (t7) miss, because each
    document looks normal and the burst only shows across the corpus.

    INTEGER-EXACT throughout: a type is *bursty* iff
    ``cf >= burst_x · df`` AND ``df >= min_df`` (integer
    cross-multiplication, no division), and the domain report is pure
    integer arithmetic over the vocab-bounded (domain, word, cf, df)
    table — bursty_token_milli = Σcf(bursty) · 1000 div Σcf.

    Scale shape: tokenize + ONE (domain, word)-keyed agg computing cf
    (count) and df (distinct docs via a pre-distinct on (domain, word,
    doc)) — two map-side-combinable shuffles bounded by vocab × docs
    containment, then a |domains|-row rollup. Nothing corpus-ordered,
    nothing driver-side.

    Returns one row per domain: (domain, n_types, n_bursty_types,
    n_tokens, bursty_token_milli).
    """
    from mrf_etl_spark.operators.dedup import widen_narrow_input

    w = widen_narrow_input(docs).select(
        F.col(domain_col).alias("domain"),
        F.col(id_col).alias("did"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("wd"),
    )
    cf = w.groupBy("domain", "wd").agg(F.count("*").alias("cf"))
    df_ = (
        w.select("domain", "wd", "did")
        .distinct()
        .groupBy("domain", "wd")
        .agg(F.count("*").alias("df"))
    )
    wc = cf.join(df_, ["domain", "wd"])
    bursty = (F.col("cf") >= F.lit(int(burst_x)) * F.col("df")) & (
        F.col("df") >= F.lit(int(min_df))
    )
    return (
        wc.groupBy("domain")
        .agg(
            F.count("*").alias("n_types"),
            F.sum(F.when(bursty, 1).otherwise(0)).cast("long").alias(
                "n_bursty_types"
            ),
            F.sum("cf").alias("n_tokens"),
            F.sum(F.when(bursty, F.col("cf")).otherwise(F.lit(0))).alias("_bcf"),
        )
        .select(
            "domain",
            F.col("n_types").cast("long"),
            "n_bursty_types",
            F.col("n_tokens").cast("long"),
            F.expr(
                "CASE WHEN n_tokens > 0 THEN _bcf * 1000 div n_tokens "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("bursty_token_milli"),
        )
    )

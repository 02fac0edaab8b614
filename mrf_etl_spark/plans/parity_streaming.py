"""Streaming-operator parity entries (SURVEY §2.10 extension).

The event-time operators are engine-shared between batch and streaming in
Spark (window/session_window work identically), so the DuckDB oracle runs
the batch semantics: tumbling windows as date_trunc buckets, session
windows as the classic lag-gap + cumulative-sum rewrite. Window bounds are
returned as epoch-microsecond BIGINTs — timestamps never cross the compare
boundary raw (UTC session vs naive DuckDB).

The upsert-ingest entry actually runs a Structured Streaming query
(availableNow trigger) through foreachBatch into the anti-join upsert
writer; its effect (row count after redelivery) is SQL-checkable, the
mechanism is not, so it compares counts against a trivial oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrf_etl_spark import state
from mrf_etl_spark.plans.parity import _scratch, register, t
from mrf_etl_spark.streaming import sessionize_events, windowed_event_counts

GAP_MIN = 30


def _drain(q, timeout: float = 300.0) -> None:
    """Await an availableNow drain and FAIL LOUDLY on timeout (r8
    ADVICE: ignoring awaitTermination's boolean let a hung drain proceed
    to serve PARTIAL lake/MV state as the parity result — a confusing
    downstream hash mismatch instead of a clear error)."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {timeout}s; "
            "refusing to serve partial state"
        )


def _stage_halves(df, staging: str, first_expr) -> None:
    """Write the two micro-batch staging halves in ONE source pass
    (r11, guide §6): the previous shape ran two filtered writes, each
    re-scanning the source — every staged streaming query paid a third
    corpus read purely for fixture scaffolding. partitionBy("half")
    lands the identical half=1/half=2 directory layout; the
    repartition by half keeps it at one file per half so
    maxFilesPerTrigger=1 still yields exactly two micro-batches. Rows
    where ``first_expr`` holds land in half=1, the rest in half=2 —
    row-for-row the two filtered writes (the streamed queries are
    batch-boundary- and order-invariant by design, which the unchanged
    oracles re-prove)."""
    (
        df.withColumn(
            "half", F.when(first_expr, F.lit(1)).otherwise(F.lit(2))
        )
        .repartition(F.col("half"))
        .write.mode("overwrite")
        .partitionBy("half")
        .parquet(staging)
    )


_STAGED: dict[str, tuple[str, str]] = {}


def _staged_halves(df, key: str, first_expr) -> str:
    """Memoized :func:`_stage_halves` (r11): the staged arrival files
    are INGEST-TIME fixture state — identical bytes on every call
    (deterministic filters of the deterministic corpus) — so they are
    written once per (process, query, corpus) and reused, exactly
    st19's ``built`` doctrine extended to the whole staged family. The
    per-call measurement subjects are untouched: every invocation still
    gets a fresh checkpoint, a fresh lake/MV, the full micro-batch
    drain, and the serve query; only the fabrication of the arrival
    files (scaffolding a batch testbed needs and production does not —
    arrivals exist there) stops repeating.

    The memo records each key's split expression and REFUSES a reuse
    under a different one (ADVICE r11): a future caller recycling an
    existing key with a new ``first_expr`` would otherwise silently
    receive the wrong staged halves."""
    expr_sig = str(first_expr._jc)
    if key not in _STAGED:
        staging = _scratch(key.split("/")[0] + "_staging")
        _stage_halves(df, staging, first_expr)
        _STAGED[key] = (staging, expr_sig)
    staging, seen_sig = _STAGED[key]
    if seen_sig != expr_sig:
        raise ValueError(
            f"_staged_halves key {key!r} was staged with a different "
            f"split expression ({seen_sig!r}); use a new key for "
            f"{expr_sig!r}"
        )
    return staging


def _events_raw(spark, sf_dir):
    """Raw read schema + ts-normalizer for STREAMING reads of
    events.parquet, robust to both encodings the driver has shipped:
    INT64 TIMESTAMP(NANOS) (reads as long under nanosAsLong) and plain
    timestamp[us] (reads as TIMESTAMP_NTZ). readStream needs an explicit
    schema, so infer it from a batch read of the same file — hardcoding
    LongType here silently misread micros as nanos when the testdata
    regenerated (st6 returned 13,128 rows vs the oracle's 1,688)."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    if isinstance(schema["ts"].dataType, T.LongType):
        conv = F.timestamp_micros(F.expr("ts div 1000"))  # exact nanos → µs
    else:
        conv = F.col("ts").cast("timestamp_ltz")  # NTZ ≡ LTZ under UTC conf
    return schema, conv


@register(
    "st1_windowed_counts",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end_us,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2, 3""",
    doc="watermarked tumbling-window event counts (streaming/ingest.py)",
)
def st1_windowed_counts(spark, sf_dir):
    out = windowed_event_counts(t(spark, sf_dir, "events").drop("ts_ns"))
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "st2_sessionize",
    oracle=f"""
    WITH marks AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL {GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, value) AS sess_id
      FROM marks
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts) + INTERVAL {GAP_MIN} MINUTE) AS session_end_us,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sess_id""",
    doc="gap-based session windows per user == lag+cumsum SQL rewrite",
)
def st2_sessionize(spark, sf_dir):
    out = sessionize_events(t(spark, sf_dir, "events").drop("ts_ns"), gap=f"{GAP_MIN} minutes")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "session_value",
    )


@register(
    "st3_stream_upsert",
    oracle="SELECT count(*) AS n FROM events",
    doc="foreachBatch anti-join upsert ingest: drained stream == table",
)
def st3_stream_upsert(spark, sf_dir):
    """Runs a real availableNow stream over the events file into the
    idempotent upsert writer; the lake ends up with exactly the distinct
    event_ids regardless of batch boundaries."""
    from mrf_etl_spark.streaming import stream_upsert_ingest

    raw_schema, ts_conv = _events_raw(spark, sf_dir)
    lake = _scratch("st3_lake")
    # file stream sources take a DIRECTORY; glob-filter to the events table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    q = stream_upsert_ingest(
        stream,
        lake,
        keys=["event_id"],
        checkpoint_dir=_scratch("st3_ckpt"),
        transform=lambda df: df.withColumn("ts", ts_conv),
    )
    _drain(q)
    return spark.read.parquet(lake).agg(F.count("*").alias("n"))


_ST4_SEQ = [0]


@register(
    "st4_stateful_totals",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 2)
             AS total_value
    FROM events GROUP BY event_type""",
    doc="applyInPandasWithState custom stateful operator: per-key running "
    "count / distinct users / integer-cents total across micro-batches; "
    "drained stream's final update per key == the batch GROUP BY",
)
def st4_stateful_totals(spark, sf_dir):
    """Runs a real availableNow stream through the arbitrary-state
    operator (update mode, memory sink); the latest update per key after
    draining equals the batch aggregate, independent of batch boundaries
    (integer-cents state keeps the money total exact across any split)."""
    from pyspark.sql.window import Window

    from mrf_etl_spark.streaming import stateful_running_totals

    raw_schema, _ = _events_raw(spark, sf_dir)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    _ST4_SEQ[0] += 1
    sink = f"st4_totals_{_ST4_SEQ[0]}"
    q = (
        stateful_running_totals(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", _scratch(f"st4_ckpt_{_ST4_SEQ[0]}"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        spark.table(sink)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_events",
            "n_users",
            F.round(F.col("total_cents").cast("double") / 100, 2).alias("total_value"),
        )
    )


@register(
    "st5_stream_dedup",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    doc="dropDuplicatesWithinWatermark cross-micro-batch dedup: the events "
    "file redelivered as a second micro-batch inserts nothing; state is "
    "bounded by the watermark horizon (streaming form of d1 exact dedup)",
)
def st5_stream_dedup(spark, sf_dir):
    """Copies the events file TWICE into a staging dir (maxFilesPerTrigger=1
    → two micro-batches, the second an exact redelivery), streams through
    dedup_stream keyed on event_id, drains into a parquet sink, and
    aggregates. The watermark horizon is set beyond the table's full time
    span so no key expires mid-run — at production scale the horizon is the
    source's real redelivery bound and state stays bounded by it."""
    import shutil

    from mrf_etl_spark.streaming import dedup_stream

    raw_schema, ts_conv = _events_raw(spark, sf_dir)
    staging = _scratch("st5_staging")
    import os

    os.makedirs(staging, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{staging}/batch1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{staging}/batch2.parquet")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    deduped = dedup_stream(
        stream.withColumn("ts", ts_conv),
        keys=["event_id"],
        watermark="36500 days",
    )
    sink = _scratch("st5_sink")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", _scratch("st5_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


_ST6_SEQ = [0]


@register(
    "st6_stream_interval_join",
    # batch truth: every click joins same-user views in [click-48h, click]
    oracle="""
    SELECT l.user_id, l.event_id AS click_id, r.event_id AS view_id,
           epoch_us(l.ts) - epoch_us(r.ts) AS dt_us
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id
     AND r.ts BETWEEN l.ts - INTERVAL 48 HOUR AND l.ts""",
    doc="watermarked stream-stream interval join (click←views attribution "
    "window); views arrive a micro-batch BEFORE clicks, so every output "
    "pair crosses batch boundaries through bounded join state",
)
def st6_stream_interval_join(spark, sf_dir):
    """Stages views and clicks as SEPARATE files consumed one per
    micro-batch (views first): the join must hold view rows in state
    until the clicks arrive, which is the actual stream-stream machinery
    — a single-batch run would degenerate to a batch join. Drained result
    == the batch interval join (the oracle)."""
    import os
    import shutil

    from mrf_etl_spark.streaming import interval_join_streams

    raw_schema, ts_conv = _events_raw(spark, sf_dir)
    _ST6_SEQ[0] += 1
    seq = _ST6_SEQ[0]
    staging = _scratch(f"st6_staging_{seq}")
    os.makedirs(staging, exist_ok=True)
    ev = spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet")
    ev.filter(F.col("event_type") == "view").write.mode("overwrite").parquet(
        f"{staging}/batch=1"
    )
    ev.filter(F.col("event_type") == "click").write.mode("overwrite").parquet(
        f"{staging}/batch=2"
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{staging}/batch=*")
    )
    stamped = stream.withColumn("ts", ts_conv)
    clicks = stamped.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    views = stamped.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    joined = interval_join_streams(
        clicks, views, on="user_id",
        left_ts="click_ts", right_ts="view_ts",
        lookback="48 hours",
        # horizon beyond the table's span: no state expires mid-drain (the
        # production horizon is the source's real lateness bound)
        watermark="8 days",
    )
    sink = _scratch(f"st6_sink_{seq}")
    q = (
        joined.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", _scratch(f"st6_ckpt_{seq}"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return spark.read.parquet(sink).select(
        "user_id",
        "click_id",
        "view_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("dt_us"),
    )


from mrf_etl_spark.plans.parity_llm import _INC_MATCH_CTES, _INC_SIDE_CTES


@register(
    "st7_stream_dedup_ingest",
    # Final doc-lake membership: micro-batch 1 (the "corpus" = even ids)
    # ingests into an empty lake so everything survives; micro-batch 2
    # (odd ids + mutated near-dup copies) dedups against batch 1's
    # signature index — the survivors are exactly d9's survived set.
    # CTE fragments imported from the d9 entry, verbatim.
    f"""WITH {_INC_SIDE_CTES},
       {_INC_MATCH_CTES}
       SELECT doc_id FROM corpus_docs
       UNION ALL
       SELECT b.doc_id FROM batch_docs b
       LEFT JOIN matches m ON m.bdoc = b.doc_id
       WHERE m.bdoc IS NULL""",
    doc="st7: streaming near-dup-deduped ingest — each micro-batch dedups "
    "against the signature-index lake via foreachBatch, survivors append "
    "to the doc lake and extend the index, so later batches dedup "
    "against everything before them (streaming/ingest.py:"
    "stream_dedup_ingest; streaming form of d9; state lives in a "
    "parquet index, unbounded horizon, never re-reads lake text)",
)
def st7_stream_dedup_ingest(spark, sf_dir):
    """Stages corpus/batch as two parquet files (distinct mtimes → two
    ordered micro-batches under maxFilesPerTrigger=1), drains the
    dedup-ingest stream, and returns the doc lake's membership."""
    import os
    import shutil
    import time

    from mrf_etl_spark.plans.parity_llm import ID_SHIFT, NEAR_DUP_IDS
    from mrf_etl_spark.streaming import stream_dedup_ingest

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(
        d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 2 * NEAR_DUP_IDS))
        .select(
            (F.col("doc_id") + ID_SHIFT).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra token tail")).alias("text"),
        )
    )
    staging = _scratch("st7_staging")
    os.makedirs(staging, exist_ok=True)

    def _stage(df, name: str, mtime: float) -> None:
        tmp = _scratch(f"st7_{name}_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = f"{staging}/{name}.parquet"
        shutil.copy(f"{tmp}/{part}", dst)
        os.utime(dst, (mtime, mtime))  # deterministic micro-batch order
        shutil.rmtree(tmp)

    now = time.time()
    _stage(corpus, "batch1", now - 60)
    _stage(batch, "batch2", now)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    doc_lake = _scratch("st7_doclake")
    q = stream_dedup_ingest(
        stream,
        doc_lake,
        _scratch("st7_index"),
        _scratch("st7_ckpt"),
        k=3,
        num_hashes=16,
        bands=4,
        threshold=0.5,
    )
    _drain(q)
    return spark.read.parquet(doc_lake).select("doc_id")


@register(
    "st8_stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1""",
    doc="stream-static broadcast enrichment join — the dimension-lookup "
    "shape every streaming ingest needs: each micro-batch of the event "
    "stream joins the static customer dim MAP-SIDE (broadcast; no "
    "stream-side state, no watermark — the static side is re-resolvable "
    "per batch by contract), lands enriched in an append lake, and the "
    "drained lake's per-segment rollup equals the batch join+agg oracle "
    "regardless of batch boundaries.",
)
def st8_stream_static_enrich(spark, sf_dir):
    """availableNow stream over the events file, left-joined per batch to
    the broadcast customer dim, appended to a parquet lake via
    foreachBatch, then rolled up batch-side."""
    raw_schema, ts_conv = _events_raw(spark, sf_dir)
    lake = _scratch("st8_lake")
    dim = F.broadcast(
        t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )

    def _sink(batch_df, _batch_id):
        (
            batch_df.withColumn("ts", ts_conv)
            .join(dim, batch_df["user_id"] == dim["c_custkey"], "left")
            .select("event_id", "user_id", "c_mktsegment", "value")
            .write.mode("append")
            .parquet(lake)
        )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", _scratch("st8_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    from mrf_etl_spark.plans.parity import money_sum

    return (
        spark.read.parquet(lake)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum("value").alias("total_value"),
        )
    )


@register(
    "st9_stream_incremental_mv",
    # MV truth: the batch GROUP BY over everything ingested — boundaries
    # (two micro-batches here) must not show in the merged rollup
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 2)
             AS total_value
    FROM events GROUP BY event_type""",
    doc="st9: streaming incremental materialized-view maintenance — each "
    "micro-batch reduces to per-key algebraic deltas (count + integer-"
    "cents sum) merged into a parquet MV by atomic swap "
    "(streaming/ingest.py:stream_incremental_rollup); the lake twin of "
    "st4's in-memory state: serving reads the MV only and a restart "
    "resumes from checkpoint + last published MV. Drained MV == the "
    "batch GROUP BY regardless of batch boundaries.",
)
def st9_stream_incremental_mv(spark, sf_dir):
    """Stages the events table as two disjoint halves consumed one per
    micro-batch, so the MV is genuinely built by two delta merges."""

    from mrf_etl_spark.streaming import stream_incremental_rollup

    raw_schema, ts_conv = _events_raw(spark, sf_dir)
    ev = spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet")
    staging = _staged_halves(ev, f"st9/{sf_dir}", F.col("event_id") % 2 == 0)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{staging}/half=*")
    )
    mv = _scratch("st9_mv")
    q = stream_incremental_rollup(
        stream,
        mv,
        _scratch("st9_ckpt"),
        keys=["event_type"],
        agg_exprs={
            "n_events": "count(*)",
            "cents": "sum(cast(round(value * 100) as bigint))",
        },
    )
    _drain(q)
    return spark.read.parquet(mv).select(
        "event_type",
        "n_events",
        F.round(F.col("cents").cast("double") / 100, 2).alias("total_value"),
    )


@register(
    "st10_stream_scd2",
    # History truth: the batch SCD2 over every update ingested (the s23
    # oracle shape) — micro-batch boundaries must not show in the chains
    oracle="""
    WITH upd AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events)
    SELECT user_id,
           row_number() OVER w AS version,
           ts_us AS valid_from_us,
           lead(ts_us) OVER w AS valid_to_us,
           lead(ts_us) OVER w IS NULL AS is_current,
           value
    FROM upd
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""",
    doc="st10: streaming incremental SCD2 maintenance — each micro-batch "
    "rebuilds only the AFFECTED key-hash buckets of the hive-partitioned "
    "history (partition-pruned read, dynamic-partition-overwrite write; "
    "streaming/ingest.py:stream_scd2_ingest), so per-batch work is "
    "O(affected buckets), not O(history), and replay is idempotent "
    "because the merge is state-based. Drained history == the batch "
    "SCD2 (s23) regardless of batch boundaries.",
)
def st10_stream_scd2(spark, sf_dir):
    """Stages events as two disjoint halves consumed one per micro-batch,
    so the final history is genuinely built by two incremental
    bucket-rebuild merges, then compares against the one-shot SCD2."""

    from mrf_etl_spark.streaming import stream_scd2_ingest

    raw_schema, ts_conv = _events_raw(spark, sf_dir)
    ev = spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet")
    staging = _staged_halves(ev, f"st10/{sf_dir}", F.col("event_id") % 2 == 0)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{staging}/half=*")
        .select(
            "user_id",
            F.unix_micros(ts_conv).alias("ts_us"),
            "event_id",
            "value",
        )
    )
    hist = _scratch("st10_hist")
    q = stream_scd2_ingest(
        stream,
        hist,
        _scratch("st10_ckpt"),
        keys=["user_id"],
        order_col="ts_us",
        tiebreak=["event_id"],
        attrs=["value"],
    )
    _drain(q)
    return spark.read.parquet(hist).select(
        "user_id",
        "version",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        "is_current",
        "value",
    )


@register(
    "st11_stream_corpus_card",
    # Card truth: the q7 bucket rollup computed single-pass over ALL
    # documents — micro-batch boundaries must not show in the state
    # (merge is additive per (source, lang, bucket); the bucket-quantile
    # derivation runs over the drained state only)
    oracle="""
    WITH w AS (
      SELECT source, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
             n_chars
      FROM documents),
    b AS (
      SELECT source, lang, n_words, n_chars,
             CAST(floor(16 * log2(CAST(n_words AS DOUBLE))) AS INT) AS bucket
      FROM w WHERE n_words >= 1),
    g AS (
      SELECT source, lang, bucket, count(*) AS n,
             sum(n_words) AS ws, sum(n_chars) AS cs
      FROM b GROUP BY 1, 2, 3),
    tot AS (
      SELECT source, lang, CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(sum(ws) AS BIGINT) AS words_total,
             CAST(sum(cs) AS DOUBLE) / sum(n) AS chars_avg
      FROM g GROUP BY 1, 2),
    cum AS (
      SELECT source, lang, bucket,
             sum(n) OVER (PARTITION BY source, lang ORDER BY bucket) AS cum
      FROM g),
    pq AS (
      SELECT c.source, c.lang,
             min(CASE WHEN c.cum >= ceil(0.5 * CAST(t.n_docs AS DOUBLE))
                      THEN c.bucket END) AS p50_bucket,
             min(CASE WHEN c.cum >= ceil(0.9 * CAST(t.n_docs AS DOUBLE))
                      THEN c.bucket END) AS p90_bucket
      FROM cum c JOIN tot t USING (source, lang) GROUP BY 1, 2)
    SELECT t.source, t.lang, t.n_docs, t.words_total, t.chars_avg,
           p.p50_bucket, p.p90_bucket
    FROM tot t JOIN pq p USING (source, lang)""",
    doc="st11: streaming incremental corpus card — the q7 sketch state "
    "maintained by the st9 incremental-rollup machinery (keys = (source, "
    "lang, log-bucket); counts/sums are additive, so each micro-batch is "
    "one combinable delta merged into the state MV, replay-guarded by "
    "the batch-id+lineage sidecar). The card derives from the drained "
    "state alone; it must equal the single-pass batch card regardless "
    "of batch boundaries — dataset documentation that stays fresh as "
    "the lake ingests, at O(state) per batch.",
)
def st11_stream_corpus_card(spark, sf_dir):
    """Stages documents as two disjoint halves consumed one per
    micro-batch, so the final state is genuinely built by two additive
    merges, then derives the card from state only."""

    from mrf_etl_spark.operators.cardsketch import (
        card_rows,
        corpus_card_from_state,
    )
    from mrf_etl_spark.streaming import stream_incremental_rollup

    docs = t(spark, sf_dir, "documents")
    staging = _staged_halves(docs, f"st11/{sf_dir}", F.col("doc_id") % 2 == 0)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{staging}/half=*")
    )

    def prep(df):
        # the grid (resolution, zero-word policy) is defined ONCE in
        # cardsketch.card_rows — the streamed state must sit on exactly
        # the grid corpus_card_from_state assumes
        return card_rows(df)

    state_mv = _scratch("st11_state")
    q = stream_incremental_rollup(
        stream,
        state_mv,
        _scratch("st11_ckpt"),
        keys=["source", "lang", "bucket"],
        agg_exprs={"n": "count(*)", "words_sum": "sum(_w)", "chars_sum": "sum(_c)"},
        transform=prep,
    )
    _drain(q)
    return corpus_card_from_state(spark.read.parquet(state_mv)).select(
        "source", "lang", "n_docs", "words_total", "chars_avg",
        "p50_bucket", "p90_bucket",
    )


def _register_st12():
    from mrf_etl_spark.plans.parity_llm import _CLF_LOGIT_EXPR, _t2_base_cte

    @register(
        "st12_stream_classifier_gate",
        # stream == batch for a stateless gate: the oracle is t19's
        # statement with the keep filter applied — micro-batch
        # boundaries must be invisible
        oracle=f"""
        WITH {_t2_base_cte("documents")}
        SELECT doc_id, logit
        FROM (SELECT doc_id, {_CLF_LOGIT_EXPR} AS logit FROM base)
        WHERE logit > CAST(0.0 AS DOUBLE)""",
        doc="streaming classifier gate — t19's frozen linear quality "
        "filter applied per micro-batch in foreachBatch (stateless "
        "projection: no watermark, no state store; the filter commutes "
        "with batching, so the gated lake is EXACTLY the batch filter's "
        "output regardless of batch boundaries). The ingest-time shape "
        "of corpus filtering: score documents as they land, not in a "
        "nightly rescan.",
    )
    def st12_stream_classifier_gate(spark, sf_dir):
        """Stages documents as two disjoint halves consumed one per
        micro-batch; each batch is scored and gated independently and
        the kept (doc_id, logit) rows appended to the lake."""

        from mrf_etl_spark.operators.textops import quality_classifier

        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        staging = _staged_halves(docs, f"st12/{sf_dir}", F.col("doc_id") % 2 == 0)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        lake = _scratch("st12_lake")

        def _sink(batch_df, _batch_id):
            (
                quality_classifier(batch_df, "text", "doc_id")
                .filter(F.col("keep"))
                .select("doc_id", "logit")
                .write.mode("append")
                .parquet(lake)
            )

        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", _scratch("st12_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return spark.read.parquet(lake)

    return st12_stream_classifier_gate


st12_stream_classifier_gate = _register_st12()


def _register_st13():
    from mrf_etl_spark.plans.parity_llm import _D12_ORACLE_SQL

    @register(
        "st13_stream_bloom_gate",
        # stream == batch for the stateless Bloom gate: the drained lake
        # must be exactly d12's clean set (the frozen bitset makes every
        # per-doc decision independent of batch boundaries)
        oracle=f"""
        SELECT doc_id, n_shingles
        FROM ({_D12_ORACLE_SQL}) WHERE clean""",
        doc="streaming Bloom decontamination gate — d12's frozen eval "
        "bitset applied per micro-batch via the pure-projection gate "
        "(bloom_contam_gate: no joins, no state store, no watermark); "
        "docs with zero Bloom hits append to the training lake as they "
        "land. The ingest-time shape of decontamination: the bitset is "
        "built ONCE from the frozen eval suite, then every arriving "
        "batch is screened at scan speed — at 100 TB/day this is the "
        "only decontamination shape that keeps up with ingest.",
    )
    def st13_stream_bloom_gate(spark, sf_dir):
        """Builds the eval bitset batch-side (the frozen-suite step),
        stages the non-eval corpus as two disjoint halves consumed one
        per micro-batch, gates each batch with the literal bitset, and
        appends clean (doc_id, n_shingles) rows to the lake."""

        from mrf_etl_spark.operators.dedup import doc_shingles, shingle_hash_expr
        from mrf_etl_spark.operators.textops import (
            bloom_bitset_words,
            bloom_contam_gate,
        )
        from mrf_etl_spark.plans.parity_llm import BLOOM_K, BLOOM_M, EVAL_MOD

        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        ev = (
            doc_shingles(
                docs.filter(F.col("doc_id") % EVAL_MOD == 0), "text", "doc_id"
            )
            .select(shingle_hash_expr(F.col("shingle")).alias("h"))
            .distinct()
        )
        words = bloom_bitset_words(ev, BLOOM_M, BLOOM_K)

        corpus = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
        staging = _staged_halves(corpus, f"st13/{sf_dir}", F.col("doc_id") % 2 == 0)
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        lake = _scratch("st13_lake")

        def _sink(batch_df, _batch_id):
            (
                bloom_contam_gate(
                    batch_df, words, m_bits=BLOOM_M, n_hashes=BLOOM_K
                )
                .filter(F.col("clean"))
                .select("doc_id", "n_shingles")
                .write.mode("append")
                .parquet(lake)
            )

        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", _scratch("st13_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return spark.read.parquet(lake)

    return st13_stream_bloom_gate


st13_stream_bloom_gate = _register_st13()


def _register_st14():
    from mrf_etl_spark.plans.parity import REGISTRY

    @register(
        "st14_stream_ann_ingest",
        # stream == batch == one-shot for the persisted IVF index: n2's
        # oracle verbatim (n4 proved incremental == one-shot; st14 proves
        # the increments can arrive as micro-batches)
        oracle=REGISTRY["n2_ann_ivf"].oracle,
        doc="streaming ANN index maintenance — n4's persisted IVF index "
        "kept current by a stream: each micro-batch of new vectors "
        "assigns against the frozen codebook and APPENDS to its cid "
        "partitions inside foreachBatch (O(batch), no rebuild, files "
        "never rewritten). After the drain, queries over the index must "
        "answer exactly like n2's one-shot cascade over the full corpus "
        "— batch boundaries invisible. The vector-lake ingest shape: "
        "embeddings become searchable as they land, not after a nightly "
        "reindex.",
    )
    def st14_stream_ann_ingest(spark, sf_dir):

        from mrf_etl_spark.operators import similarity as sim
        from mrf_etl_spark.plans.parity import _scratch
        from mrf_etl_spark.plans.parity_llm import DIM

        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
        cent = emb.filter((F.col("vec_id") % 97) == 0).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        path = _scratch("st14_ivf_index")
        # initial build from the even half (the offline bootstrap)...
        sim.ivf_index_create(
            emb.filter(F.col("vec_id") % 2 == 0), path, cent, dim=DIM
        )
        # ...then the odd half ARRIVES as two micro-batches
        arriving = emb.filter(F.col("vec_id") % 2 == 1)
        staging = _staged_halves(arriving, f"st14/{sf_dir}", F.col("vec_id") % 4 == 1)
        stream = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )

        def _sink(batch_df, _batch_id):
            sim.ivf_index_append(
                batch_df.select("vec_id", "embedding"), path, dim=DIM
            )

        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", _scratch("st14_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return sim.ivf_index_query(
            emb.filter(F.col("vec_id") < 10), path, nprobe=2, k=5
        )

    return st14_stream_ann_ingest


st14_stream_ann_ingest = _register_st14()


def _register_st15():
    from mrf_etl_spark.plans.parity import REGISTRY

    @register(
        "st15_stream_burst_monitor",
        # stream == batch: the incrementally-maintained daily counts MV
        # equals the batch daily GROUP BY (the st9 invariant), and
        # burst_flags is a pure function of those counts — so the
        # monitor's output is w21's statement verbatim
        oracle=REGISTRY["w21_burst_detection"].oracle,
        doc="streaming ingest-burst monitor — w21's trailing-baseline "
        "z-test kept current by a stream: each micro-batch reduces to "
        "per-(event_type, day) count DELTAS merged into the daily-counts "
        "MV (the st9 additive-rollup machinery), and the burst flags "
        "derive from the MV alone after every merge. The monitoring "
        "loop an ingest pipeline actually runs: crawler loops surface "
        "within one micro-batch of landing, not in a nightly scan — and "
        "the drained monitor equals the batch w21 exactly, batch "
        "boundaries invisible.",
    )
    def st15_stream_burst_monitor(spark, sf_dir):

        from mrf_etl_spark.operators.rolling import burst_flags
        from mrf_etl_spark.plans.parity_llm import (
            _US_PER_DAY,
            W21_BASE_DAYS,
            W21_Z,
        )
        from mrf_etl_spark.streaming import stream_incremental_rollup

        raw_schema, ts_conv = _events_raw(spark, sf_dir)
        ev = spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet")
        staging = _staged_halves(ev, f"st15/{sf_dir}", F.col("event_id") % 2 == 0)
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        mv = _scratch("st15_mv")
        q = stream_incremental_rollup(
            stream,
            mv,
            _scratch("st15_ckpt"),
            keys=["event_type", "day"],
            agg_exprs={"n": "count(*)"},
            # integer div, not float: a double quotient can floor one
            # day off at epoch-scale numerators
            transform=lambda df: df.withColumn(
                "_us", F.unix_micros(ts_conv)
            ).withColumn("day", F.expr(f"_us div {_US_PER_DAY}")),
        )
        _drain(q)
        daily = spark.read.parquet(mv).select(
            "event_type", "day", F.col("n").cast("long").alias("n")
        )
        return burst_flags(daily, base_days=W21_BASE_DAYS, z=W21_Z)

    return st15_stream_burst_monitor


st15_stream_burst_monitor = _register_st15()


# ---------------------------------------------- round-8: streaming HLL

def _register_st16():
    @register(
        "st16_stream_hll_distinct",
        # stream == batch for the estimate's CONTRACT: the union of
        # per-batch sketches estimates the same population as one
        # sketch over everything, so the exact distinct (hash-compared)
        # plus the in-envelope boolean must match the batch truth
        oracle="""SELECT event_type,
                         count(DISTINCT user_id) AS d_users,
                         TRUE AS within_bound
                  FROM events GROUP BY event_type""",
        doc="st16: streaming distinct-user maintenance from the persisted "
        "HLL sketch lake (a27's ingest twin, VERDICT r7 #8) — each "
        "micro-batch appends per-group DataSketches binaries "
        "(sketchlake.append_state inside foreachBatch, locked against "
        "concurrent writers), the serving read unions on read "
        "(hll_union_agg). State per batch is |groups| 4 KiB binaries "
        "regardless of user cardinality — the 100 TB distinct-counting "
        "shape; no per-user state, no rebuild, batches fold in forever.",
    )
    def st16_stream_hll_distinct(spark, sf_dir):

        from mrf_etl_spark.operators import sketchlake as sl

        raw_schema, _ = _events_raw(spark, sf_dir)
        ev = (
            spark.read.schema(raw_schema)
            .parquet(f"{sf_dir}/events.parquet")
            .select("event_id", "user_id", "event_type")
        )
        staging = _staged_halves(ev, f"st16/{sf_dir}", F.col("event_id") % 2 == 0)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        lake = _scratch("st16_hll_lake")

        def fold(batch_df, _batch_id):
            sl.append_state(
                sl.hll_state(batch_df, ["event_type"], "user_id"), lake
            )

        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", _scratch("st16_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        est = sl.hll_lake_distinct(spark, lake, ["event_type"])
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("d_users")
        )
        return exact.join(est, "event_type").select(
            "event_type",
            "d_users",
            (
                F.abs(F.col("distinct_est") - F.col("d_users"))
                <= F.lit(0.15) * F.col("d_users")
            ).alias("within_bound"),
        )

    return st16_stream_hll_distinct


st16_stream_hll_distinct = _register_st16()


# ----------------------------------- round-8: streaming packing offsets

ST17_BUCKET_WIDTH = 64  # fixed id-range width minted at ingest


def _register_st17():
    from mrf_etl_spark.plans.parity import REGISTRY

    @register(
        "st17_stream_pack_offsets",
        # stream == batch: start offsets depend only on doc_id order and
        # token counts — any monotone fixed-width bucketing yields the
        # identical span map (the bucket decomposition is plan shape, not
        # semantics) — so the drained state serves sp21's statement
        # verbatim, batch boundaries and arrival order invisible.
        oracle=REGISTRY["sp21_token_stream_chunks"].oracle,
        doc="st17: streaming packing-offset maintenance (sp21's ingest "
        "twin) — each micro-batch appends (doc, n_tok, bucket) to the "
        "doc lake (append_unique: replay-idempotent) and additively "
        "merges per-bucket token sums into the offsets MV (the st9 "
        "rollup machinery, batch-id guarded). The span map any loader "
        "needs is served from lake + ≤|buckets|-row MV — a new batch's "
        "chunk assignments never rescan the corpus; ORDER-INVARIANT "
        "state, so out-of-order halves drain to the batch result "
        "exactly (operators/sampling.token_stream_chunks_from_state).",
    )
    def st17_stream_pack_offsets(spark, sf_dir):

        from mrf_etl_spark.operators import sampling as sp
        from mrf_etl_spark.operators import textops as tx
        from mrf_etl_spark.io.writers import append_unique
        from mrf_etl_spark.plans.parity_llm import CHUNK_TOKENS
        from mrf_etl_spark.streaming.ingest import (
            incremental_rollup_batch_writer,
        )

        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        # halves staged by id PARITY, deliberately interleaved — the
        # order-invariance claim is only tested if batches do NOT arrive
        # in id order
        staging = _staged_halves(docs, f"st17/{sf_dir}", F.col("doc_id") % 2 == 1)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        lake = _scratch("st17_lake")
        mv = _scratch("st17_offsets_mv")
        ckpt = _scratch("st17_ckpt")
        merge_mv = incremental_rollup_batch_writer(
            mv, ["bucket"], {"tok_sum": "sum(n_tok)"}, stream_id=ckpt
        )

        def fold(batch_df, batch_id):
            bdf = batch_df.select(
                "doc_id",
                tx.token_count_ws("text").cast("long").alias("n_tok"),
                F.expr(f"doc_id div {ST17_BUCKET_WIDTH}").alias("bucket"),
            )
            append_unique(
                batch_df.sparkSession, bdf, lake, keys=["doc_id"]
            )
            merge_mv(bdf, batch_id)

        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return sp.token_stream_chunks_from_state(
            spark.read.parquet(lake),
            spark.read.parquet(mv),
            "doc_id",
            "n_tok",
            "bucket",
            CHUNK_TOKENS,
        )

    return st17_stream_pack_offsets


st17_stream_pack_offsets = _register_st17()


# ------------------------------- round-9: streaming category-stats MV

def _register_st18():
    @register(
        "st18_stream_category_stats",
        # stream == batch for the stats-MV contract: additive counts are
        # EXACT through the state lake (hash-compared), per-category HLL
        # estimates land in their envelope (required-TRUE booleans)
        oracle="""SELECT event_type,
                         CAST(count(*) AS BIGINT) AS total_records,
                         CAST(count(DISTINCT user_id) AS BIGINT) AS d_users,
                         CAST(count(DISTINCT props) AS BIGINT) AS d_props,
                         TRUE AS users_ok, TRUE AS props_ok,
                         TRUE AS total_ok
                  FROM events GROUP BY 1""",
        doc="st18: the category-stats MV maintained by STREAMING ingest "
        "(a29's twin — VERDICT r8 #8 completed end-to-end): each "
        "micro-batch appends one multi-HLL + additive-count state row "
        "per group (sketchlake.stats_state under the table lock); the "
        "serving read unions per-category sketches and sums counts "
        "(stats_lake_serve). Micro-batch boundaries are invisible "
        "(union of sketches == sketch of union; counts additive), so a "
        "100 TB dashboard's stats tier stays fresh for batch-sized "
        "work per trigger — never an index re-aggregation.",
    )
    def st18_stream_category_stats(spark, sf_dir):

        from mrf_etl_spark.operators import sketchlake as sl

        raw_schema, _ = _events_raw(spark, sf_dir)
        ev = (
            spark.read.schema(raw_schema)
            .parquet(f"{sf_dir}/events.parquet")
            .select("event_id", "user_id", "props", "event_type")
        )
        staging = _staged_halves(ev, f"st18/{sf_dir}", F.col("event_id") % 2 == 0)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        lake = _scratch("st18_stats_lake")

        def fold(batch_df, _batch_id):
            sl.append_state(
                sl.stats_state(
                    batch_df,
                    ["event_type"],
                    {"users": "user_id", "props": "props"},
                ),
                lake,
            )

        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", _scratch("st18_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        served = sl.stats_lake_serve(spark, lake, ["event_type"]).withColumnRenamed(
            "total_records", "sl_total"
        )
        exact = ev.groupBy("event_type").agg(
            F.count("*").alias("total_records"),
            F.countDistinct("user_id").alias("d_users"),
            F.countDistinct("props").alias("d_props"),
        )
        return exact.join(served, "event_type").select(
            "event_type",
            "total_records",
            "d_users",
            "d_props",
            (
                F.abs(F.col("unique_users") - F.col("d_users"))
                <= F.lit(0.15) * F.col("d_users")
            ).alias("users_ok"),
            (
                F.abs(F.col("unique_props") - F.col("d_props"))
                <= F.lit(0.15) * F.col("d_props")
            ).alias("props_ok"),
            (F.col("sl_total") == F.col("total_records")).alias("total_ok"),
        )

    return st18_stream_category_stats


st18_stream_category_stats = _register_st18()


# ------------------------------ round-9: streaming IVF-PQ maintenance

def _register_st19():
    from mrf_etl_spark.plans.parity import REGISTRY

    built: dict[str, tuple[str, str]] = {}

    def _stream_lifecycle(spark, sf_dir, tag):
        """st19's full ingest lifecycle: copy the memoized base index,
        stream the staged arrivals into it (availableNow drain), return
        the live index path. Base + staging are INGEST-TIME state,
        identical every call: built once per (process, corpus) — n8's
        memo pattern."""
        import shutil

        from mrf_etl_spark.operators import similarity as sim
        from mrf_etl_spark.plans.parity import _scratch
        from mrf_etl_spark.plans.parity_llm import _PQ_BLOCKS, DIM

        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        if sf_dir not in built:
            cent = emb.filter((F.col("vec_id") % 97) == 0).select(
                F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
            )
            seeds = emb.filter(F.col("vec_id") < 16)
            base = _scratch("st19_ivfpq_base")
            sim.ivf_pq_index_create(
                emb.filter(F.col("vec_id") % 2 == 0), base, cent, seeds,
                dim=DIM, n_blocks=_PQ_BLOCKS,
            )
            arriving = emb.filter(F.col("vec_id") % 2 == 1)
            staging = _staged_halves(arriving, f"st19/{sf_dir}", F.col("vec_id") % 4 == 1)
            built[sf_dir] = (base, staging)
        base, staging = built[sf_dir]
        path = _scratch(f"{tag}_ivfpq_live")
        shutil.copytree(base, path)
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )

        def _sink(batch_df, _batch_id):
            sim.ivf_pq_index_append(
                batch_df, path, dim=DIM, n_blocks=_PQ_BLOCKS
            )

        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", _scratch(f"{tag}_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return path

    @register(
        "st19_stream_ivfpq_ingest",
        # stream == batch == one-shot for the persisted IVF-PQ index:
        # n7's oracle verbatim (n8 proved persisted == in-plan; st19
        # proves the appends can arrive as micro-batches)
        oracle=REGISTRY["n7_ann_ivf_pq"].oracle,
        doc="st19: streaming IVF-PQ index maintenance — n8's persisted "
        "composed index kept current by a stream: each micro-batch "
        "PQ-encodes and coarse-assigns against the frozen codebooks and "
        "appends to its ccid partitions inside foreachBatch (O(batch × "
        "codebooks), no rebuild, no file rewrite). After the drain, "
        "queries must equal n7's one-shot cascade over the full corpus "
        "— batch boundaries invisible. Completes the vector-lake ingest "
        "story at the compressed tier: code bytes become searchable as "
        "vectors land.",
    )
    def st19_stream_ivfpq_ingest(spark, sf_dir):
        from mrf_etl_spark.operators import similarity as sim
        from mrf_etl_spark.plans.parity_llm import (
            _N5_CANDIDATES,
            _N5_K,
            _PQ_BLOCKS,
            DIM,
        )

        # per-call subject: the streamed micro-batch appends (fresh copy
        # of the base, fresh checkpoint) AND the post-drain query — the
        # full ingest lifecycle, deliberately
        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        path = _stream_lifecycle(spark, sf_dir, "st19")
        return sim.ivf_pq_index_query(
            emb.filter(F.col("vec_id") < 10), path,
            dim=DIM, n_blocks=_PQ_BLOCKS, nprobe=2,
            n_candidates=_N5_CANDIDATES, k=_N5_K,
        )

    served: dict[str, str] = {}

    @register(
        "st19b_stream_index_serve",
        # identical truth: queries against the streamed-then-drained
        # index equal n7's one-shot cascade (what st19 pins); st19b
        # exists so the bench separates the SERVE cost (this row — the
        # number the 100 TB serving story quotes) from st19's full
        # ingest-lifecycle cost (copy base + streamed appends + drain)
        oracle=REGISTRY["n7_ann_ivf_pq"].oracle,
        doc="st19b: serving reads from the stream-maintained IVF-PQ "
        "index — st19's post-drain query isolated from its ingest "
        "lifecycle. The streamed index is the process-resident "
        "artifact (built once, like any deployed index); each call is "
        "only the bounded-probe ADC cascade over the persisted ccid "
        "partitions. Benchmarks the steady-state query cost a resident "
        "vector-serving tier pays, n8's class, while st19 keeps "
        "benchmarking the ingest path.",
    )
    def st19b_stream_index_serve(spark, sf_dir):
        from mrf_etl_spark.operators import similarity as sim
        from mrf_etl_spark.plans.parity_llm import (
            _N5_CANDIDATES,
            _N5_K,
            _PQ_BLOCKS,
            DIM,
        )

        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        if sf_dir not in served:
            # the streamed index is ingest-time state: run the lifecycle
            # ONCE per (process, corpus) — the drained index directory
            # is what a serving tier holds resident
            served[sf_dir] = _stream_lifecycle(spark, sf_dir, "st19b")
        return sim.ivf_pq_index_query(
            emb.filter(F.col("vec_id") < 10), served[sf_dir],
            dim=DIM, n_blocks=_PQ_BLOCKS, nprobe=2,
            n_candidates=_N5_CANDIDATES, k=_N5_K,
        )

    return st19_stream_ivfpq_ingest


st19_stream_ivfpq_ingest = _register_st19()


# -------------------------- round-9: streaming codebook drift counters

def _register_st20():
    from mrf_etl_spark.plans.parity import REGISTRY

    @register(
        "st20_stream_codebook_drift",
        # stream == batch for drift counters: per-centroid counts are
        # ADDITIVE through the state lake, quantization and assignment
        # are per-row functions of the frozen codebook — so the served
        # drift table equals e8's one-shot result, oracle verbatim
        oracle=REGISTRY["e8_codebook_drift"].oracle,
        doc="st20: e8's drift counters maintained by STREAMING ingest — "
        "the base snapshot's per-centroid counts are stored once (the "
        "training-time artifact); CURRENT traffic arrives in "
        "micro-batches, each batch assigns against the frozen codebook "
        "(per-row int8 quantization + the e6/e8 exact argmax — both "
        "pure per-row functions, so batch boundaries are invisible) "
        "and appends one (cid, n) count row per touched centroid under "
        "the table lock. Serving sums the count lake and applies the "
        "cross-multiplied rational threshold: the result must equal "
        "e8's one-shot batch answer exactly. The production shape: a "
        "vector index's health dashboard stays fresh for O(batch) "
        "work per trigger, never a corpus re-scan.",
    )
    def st20_stream_codebook_drift(spark, sf_dir):

        from mrf_etl_spark.operators import similarity as sim
        from mrf_etl_spark.operators.sketchlake import append_state
        from mrf_etl_spark.plans.parity import _scratch
        from mrf_etl_spark.plans.parity_llm import (
            _E6_SEED_MOD,
            _E8_DEN,
            _E8_NUM,
            DIM,
        )

        emb = t(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", "label"
        )
        q_all = sim.quantize_int8(emb).select(
            F.col("vec_id").alias("vid"), "qvec"
        )
        cent = state.persist(
            q_all.filter((F.col("vid") % _E6_SEED_MOD) == 0).select(
                F.col("vid").alias("cid"), F.col("qvec").alias("cvec")
            )
        )
        book = cent.collect()

        # base counts: the stored training-time artifact (one pass).
        # Quantization is per-row, so quantize the FILTERED base rows
        # directly (r11 — the former shape quantized the whole corpus
        # and joined the base ids back on by vid: a corpus exchange
        # pair for a filter)
        base = (
            sim.assign_centroids_int8(
                sim.quantize_int8(emb.filter(F.col("label") != 0)).select(
                    F.col("vec_id").alias("vid"), "qvec"
                ),
                book,
            )
            .groupBy("cid")
            .agg(F.count("*").alias("n_base"))
        )

        # current traffic streams in two micro-batches
        cur = emb.filter(F.col("label") == 0).select("vec_id", "embedding")
        staging = _staged_halves(cur, f"st20/{sf_dir}", F.col("vec_id") % 2 == 0)
        lake = _scratch("st20_count_lake")

        def fold(batch_df, _batch_id):
            qb = sim.quantize_int8(batch_df).select(
                F.col("vec_id").alias("vid"), "qvec"
            )
            counts = (
                sim.assign_centroids_int8(qb, book)
                .groupBy("cid")
                .agg(F.count("*").alias("n"))
            )
            append_state(counts, lake)

        stream = (
            spark.readStream.schema(cur.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", _scratch("st20_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

        cur_counts = (
            spark.read.parquet(lake)
            .groupBy("cid")
            .agg(F.sum("n").alias("n_cur"))
        )
        zero = F.lit(0).cast("long")
        # persist the k-row table: it feeds both the totals agg and the
        # final crossJoin (codebook_drift's documented 2x lesson)
        full = state.persist(
            cent.select("cid")
            .join(base, "cid", "left")
            .join(cur_counts, "cid", "left")
            .select(
                "cid",
                F.coalesce("n_base", zero).cast("long").alias("n_base"),
                F.coalesce("n_cur", zero).cast("long").alias("n_cur"),
            ),
        )
        totals = full.agg(
            F.sum("n_base").alias("_tb"), F.sum("n_cur").alias("_tc")
        )
        num = F.lit(_E8_NUM).cast("long")
        den = F.lit(_E8_DEN).cast("long")
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

    return st20_stream_codebook_drift


st20_stream_codebook_drift = _register_st20()


# --------------------- round-9: streaming semantic decontamination gate

def _register_st21():
    from mrf_etl_spark.plans.parity import REGISTRY

    # d14's oracle filtered to the rows the gate lets THROUGH: the lake
    # after the drain must hold exactly the clean corpus with its audit
    # columns — batch boundaries invisible (the gate is a per-row
    # function of the batch row and the frozen eval broadcast)
    _ORACLE = (
        "SELECT vec_id, eval_id, cosine FROM ("
        + REGISTRY["d14_semantic_decontam"].oracle
        + ") WHERE NOT contaminated"
    )

    @register(
        "st21_stream_decontam_gate",
        oracle=_ORACLE,
        doc="st21: d14's semantic decontamination applied AT INGEST — "
        "the production placement: every micro-batch scores against "
        "the frozen eval broadcast inside foreachBatch and only clean "
        "rows land in the lake (with their nearest-eval audit "
        "columns); contaminated rows never touch storage. Per-row "
        "gate + bounded broadcast ⇒ batch boundaries invisible: the "
        "drained lake equals d14's one-shot clean subset exactly. "
        "Composes with pipe6's delta discipline — a daily refresh "
        "gates only its delta.",
    )
    def st21_stream_decontam_gate(spark, sf_dir):

        from mrf_etl_spark.operators import similarity as sim
        from mrf_etl_spark.operators.sketchlake import append_state
        from mrf_etl_spark.plans.parity import _scratch
        from mrf_etl_spark.plans.parity_llm import (
            _D14_TAU,
            EVAL_MOD,
            ID_SHIFT,
            DIM,
        )

        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        ev = emb.filter(F.col("vec_id") % EVAL_MOD == 0)
        corpus = emb.filter(F.col("vec_id") % EVAL_MOD != 0).unionByName(
            ev.withColumn("vec_id", F.col("vec_id") + ID_SHIFT)
        )
        staging = _staged_halves(corpus, f"st21/{sf_dir}", F.col("vec_id") % 2 == 0)
        lake = _scratch("st21_clean_lake")

        def gate(batch_df, _batch_id):
            scored = sim.semantic_decontam(
                batch_df, ev, "vec_id", "embedding", DIM, tau=_D14_TAU
            )
            append_state(
                scored.filter(~F.col("contaminated")).select(
                    "vec_id", "eval_id", "cosine"
                ),
                lake,
            )

        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        q = (
            stream.writeStream.foreachBatch(gate)
            .option("checkpointLocation", _scratch("st21_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return spark.read.parquet(lake)

    return st21_stream_decontam_gate


st21_stream_decontam_gate = _register_st21()


# -------------------------- round-9: streaming BPE-fertility monitor

def _register_st22():
    from mrf_etl_spark.plans.parity import REGISTRY

    # t24's per-doc oracle rolled up by source: the lake after the
    # drain must sum to exactly the one-shot batch report (the frozen
    # merge table is a per-word function; doc counts are additive, so
    # micro-batch boundaries are invisible by construction)
    _ORACLE = (
        "SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(t.n_words) AS BIGINT) AS n_words, "
        "CAST(sum(t.n_chars) AS BIGINT) AS n_chars, "
        "CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens FROM ("
        + REGISTRY["t24_bpe_encode_fertility"].oracle
        + ") t JOIN documents d USING (doc_id) GROUP BY d.source"
    )

    @register(
        "st22_stream_fertility",
        oracle=_ORACLE,
        doc="st22: streaming tokenizer-fertility monitor — t24's twin: "
        "the BPE merge table trains ONCE on the corpus (the offline "
        "tokenizer artifact, t23's loop frozen into a per-word token "
        "table); documents then stream in micro-batches, each batch "
        "encodes its words against the frozen vocab table and appends "
        "ONE additive (source, n_docs, n_words, n_chars, n_tokens) "
        "state row per source under the table lock; serving sums the "
        "lake. Per-word function + additive counts ⇒ batch boundaries "
        "invisible: the served report equals the one-shot t24 rollup "
        "exactly (oracle derived from t24's verbatim). The tokenizer-"
        "health dashboard (tokens-per-word by source) stays fresh for "
        "O(batch) work per trigger at any corpus size.",
    )
    def st22_stream_fertility(spark, sf_dir):

        from mrf_etl_spark.operators import textops as tx
        from mrf_etl_spark.operators.sketchlake import append_state
        from mrf_etl_spark.plans.parity import _scratch
        from mrf_etl_spark.plans.parity_llm import T23_MERGES

        docs = t(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        # train the merge table on the FULL corpus (offline artifact),
        # frozen as a per-word (w, chars, tokens) lookup
        w_all = docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w")
        )
        vocab = w_all.groupBy("w").agg(F.count("*").alias("n"))
        sym = vocab.select(
            "w",
            "n",
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("s"),
        )
        per_word = state.persist(
            tx._apply_bpe_merges(sym, T23_MERGES).select(
                "w",
                F.length("w").cast("long").alias("_chars"),
                F.size(F.split(F.col("s"), " ")).cast("long").alias("_toks"),
            )
        )

        staging = _staged_halves(docs, f"st22/{sf_dir}", F.col("doc_id") % 2 == 0)
        lake = _scratch("st22_fertility_lake")
        zero = F.lit(0).cast("long")

        def fold(batch_df, _batch_id):
            bw = batch_df.select(
                "source",
                F.explode(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                ).alias("w"),
            )
            wc = (
                bw.join(per_word, "w")
                .groupBy("source")
                .agg(
                    F.count("*").alias("n_words"),
                    F.sum("_chars").alias("n_chars"),
                    F.sum("_toks").alias("n_tokens"),
                )
            )
            dc = batch_df.groupBy("source").agg(F.count("*").alias("n_docs"))
            counts = dc.join(wc, "source", "left").select(
                "source",
                F.col("n_docs").cast("long").alias("n_docs"),
                F.coalesce("n_words", zero).alias("n_words"),
                F.coalesce("n_chars", zero).alias("n_chars"),
                F.coalesce("n_tokens", zero).alias("n_tokens"),
            )
            append_state(counts, lake)

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", _scratch("st22_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return (
            spark.read.parquet(lake)
            .groupBy("source")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_words").alias("n_words"),
                F.sum("n_chars").alias("n_chars"),
                F.sum("n_tokens").alias("n_tokens"),
            )
        )

    return st22_stream_fertility


st22_stream_fertility = _register_st22()


# ----------------------- round-9: streaming cluster-map maintenance

def _register_st23():
    from mrf_etl_spark.plans.parity import REGISTRY

    @register(
        "st23_stream_cluster_map",
        oracle=REGISTRY["q10_cluster_map"].oracle,
        doc="st23: q10's corpus map kept fresh by a stream — the trained "
        "codebook is the offline artifact (e6's two Lloyd iterations, "
        "frozen); embedding micro-batches assign against it inside "
        "foreachBatch (per-row quantization + the exact shared argmax "
        "kernel — batch boundaries invisible by construction) and "
        "append additive (cid, label, n) count rows under the table "
        "lock; serving sums the lake and takes the deterministic mode. "
        "Served report == q10's one-shot answer exactly (oracle "
        "verbatim). The curation dashboard stays current for O(batch × "
        "codebook) work per trigger — the corpus is never re-assigned.",
    )
    def st23_stream_cluster_map(spark, sf_dir):

        from mrf_etl_spark.operators import similarity as sim
        from mrf_etl_spark.operators.sketchlake import append_state
        from mrf_etl_spark.plans.parity import _scratch
        from mrf_etl_spark.plans.parity_llm import _E6_SEED_MOD, DIM

        emb = t(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", "label"
        )
        book = sim._kmeans_train(
            emb, "vec_id", "embedding", DIM, seed_mod=_E6_SEED_MOD, iters=2
        )

        staging = _staged_halves(emb, f"st23/{sf_dir}", F.col("vec_id") % 2 == 0)
        lake = _scratch("st23_cluster_lake")

        def fold(batch_df, _batch_id):
            # the label rides the quantized batch rows (r11 — the former
            # per-batch (vid, label) join-back is gone)
            qb = sim.quantize_int8(
                batch_df.withColumn("_lab", F.col("label").cast("long")),
                keep=("_lab",),
            ).select(F.col("vec_id").alias("vid"), "qvec", F.col("_lab").alias("label"))
            counts = (
                sim._with_centroid_int8(qb, book)
                .groupBy("cid", "label")
                .agg(F.count("*").alias("n"))
            )
            append_state(counts, lake)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", _scratch("st23_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

        lc = (
            spark.read.parquet(lake)
            .groupBy("cid", "label")
            .agg(F.sum("n").alias("n"))
        )
        return (
            lc.groupBy("cid")
            .agg(
                F.sum("n").alias("n_members"),
                F.min(
                    F.struct(
                        (-F.col("n")).alias("negn"), F.col("label").alias("lb")
                    )
                ).alias("_m"),
            )
            .select(
                "cid",
                "n_members",
                F.col("_m.lb").alias("top_label"),
                (-F.col("_m.negn")).cast("long").alias("top_label_n"),
            )
        )

    return st23_stream_cluster_map


st23_stream_cluster_map = _register_st23()


def _register_st24():
    from mrf_etl_spark.plans.parity import REGISTRY

    # the count lake is additive per (domain, word): micro-batch
    # boundaries are invisible by construction, so the served Zipf
    # report equals the one-shot t26 exactly — t26's oracle verbatim
    _ORACLE = REGISTRY["t26_zipf_fit"].oracle

    @register(
        "st24_stream_zipf_monitor",
        oracle=_ORACLE,
        doc="st24: streaming Zipf-slope monitor — t26's twin: documents "
        "stream in micro-batches, each batch appends its own (domain, "
        "word, n) count rows to a partition lake under the table lock "
        "(vocab-bounded additive state, the st22 lake discipline); "
        "serving merges the lake by sum and runs t26's bit-class "
        "regression over the merged counts — the corpus-statistics "
        "quality gate (rank-frequency slope per domain) stays fresh "
        "for O(batch vocab) work per trigger, and the served slope "
        "equals the one-shot t26 bit for bit (same IEEE expression "
        "tree over identical integer sums; oracle = t26's verbatim). "
        "The drift read a crawl operator wants — 'did this batch bend "
        "the rank-frequency line' — is one lake read away at any "
        "corpus size.",
    )
    def st24_stream_zipf_monitor(spark, sf_dir):

        from mrf_etl_spark.operators import textops as tx
        from mrf_etl_spark.operators.sketchlake import append_state
        from mrf_etl_spark.plans.parity import _scratch

        docs = t(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        staging = _staged_halves(docs, f"st24/{sf_dir}", F.col("doc_id") % 2 == 0)
        lake = _scratch("st24_zipf_lake")

        def fold(batch_df, _batch_id):
            wc = (
                batch_df.select(
                    F.col("source").alias("domain"),
                    F.explode(
                        F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                    ).alias("wd"),
                )
                .groupBy("domain", "wd")
                .agg(F.count("*").cast("long").alias("n"))
            )
            append_state(wc, lake)

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", _scratch("st24_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        merged = (
            spark.read.parquet(lake)
            .groupBy("domain", "wd")
            .agg(F.sum("n").alias("f"))
        )
        return tx.zipf_fit(None, word_counts=merged)

    return st24_stream_zipf_monitor


st24_stream_zipf_monitor = _register_st24()


def _register_st25():
    from mrf_etl_spark.plans.parity import REGISTRY

    # the excision is a pure per-document function of (text, frozen
    # eval universe), so micro-batch boundaries are invisible and the
    # drained lake equals the one-shot batch run — d21's oracle verbatim
    _ORACLE = REGISTRY["d21_eval_span_excision"].oracle

    @register(
        "st25_stream_excision",
        oracle=_ORACLE,
        doc="st25: d21's at-ingest twin — the eval k-gram universe "
        "freezes ONCE (the benchmark-scrub artifact, KBs broadcast), "
        "then documents stream in micro-batches and each batch is "
        "surgically excised on arrival (position-coverage rewrite, "
        "hit-bounded explode) with the cleaned rows + accounting "
        "appended to a lake under the table lock. Completes the "
        "streaming decontamination set: st13/st21 GATE documents at "
        "ingest, st25 SCRUBS them — contaminated material never "
        "reaches the lake at all, at O(batch) cost per trigger. "
        "Pure per-doc function + frozen universe => the drained lake "
        "equals the one-shot d21 run row for row (oracle verbatim).",
    )
    def st25_stream_excision(spark, sf_dir):

        from mrf_etl_spark.operators.sketchlake import append_state
        from mrf_etl_spark.operators.textops import (
            eval_ngram_universe,
            excise_with_universe,
        )
        from mrf_etl_spark.plans.parity import _scratch
        from mrf_etl_spark.plans.parity_llm import EVAL_MOD, SHINGLE_K

        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        euniv = state.persist(
            eval_ngram_universe(
                docs.filter(F.col("doc_id") % EVAL_MOD == 0), "text", SHINGLE_K
            )
        )
        corpus = docs.filter(F.col("doc_id") % EVAL_MOD != 0)

        staging = _staged_halves(corpus, f"st25/{sf_dir}", F.col("doc_id") % 2 == 0)
        lake = _scratch("st25_excised_lake")

        def fold(batch_df, _batch_id):
            out = excise_with_universe(
                batch_df, euniv, "text", "doc_id", SHINGLE_K
            )
            append_state(out, lake)

        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staging}/half=*")
        )
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", _scratch("st25_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return spark.read.parquet(lake).select(
            "doc_id", "clean_text", "n_tokens", "n_removed", "n_hits"
        )

    return st25_stream_excision


st25_stream_excision = _register_st25()

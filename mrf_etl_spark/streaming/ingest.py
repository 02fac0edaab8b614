"""Streaming ingest + event-time operators.

`stream_upsert_ingest` is the reference's idempotent batch ingest
(prod_etl/ETL_1.py:450-498 upsert; SURVEY §2.10 mapping) lifted onto
Structured Streaming: each micro-batch runs the SAME anti-join upsert
writer, so replays and overlapping file drops are no-ops — exactly-once
effective semantics from deterministic uids, without a transaction log.

The event operators use the `events` stream shape
(event_id, ts, user_id, event_type, value, props):

  * windowed_event_counts — tumbling event-time windows + watermark; late
    rows beyond the watermark are dropped, state is bounded.
  * sessionize_events — session windows per user via the built-in
    `session_window` (gap-based); a genuinely stateful operator with no
    batch equivalent.

Scale notes: state size for the windowed agg is O(groups × open windows) —
the watermark bounds open windows; shuffle partitions set state-store
parallelism. For file sources, `maxFilesPerTrigger` paces ingestion;
`availableNow` drains a backlog with bounded batches (used by tests).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrf_etl_spark import state

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType = EVENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet drop directory."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_upsert_ingest(
    stream: DataFrame,
    lake_path: str,
    keys: list[str],
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    available_now: bool = True,
):
    """foreachBatch + append-unique upsert: every micro-batch is keyed on
    its deterministic uid and anti-joined against the lake, so redelivered
    batches insert nothing. This is the Spark mapping of the reference's
    idempotent-upsert guarantee (Data_Schema.md:356-362) to streaming."""
    from mrf_etl_spark.io.writers import upsert_by_key

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        df = transform(batch_df) if transform is not None else batch_df
        upsert_by_key(df.sparkSession, df, lake_path, keys=keys)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    events_stream: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Cross-micro-batch exact dedup — the streaming form of d1.

    `dropDuplicatesWithinWatermark` keeps one state entry per key and
    EXPIRES it once the watermark passes the key's event time, so state
    is bounded by the late-data horizon instead of growing with the
    stream's lifetime (a plain dropDuplicates on a stream retains every
    key forever). Duplicates arriving later than ``watermark`` after the
    original are therefore not caught — that is the documented contract:
    pick the horizon from the source's real redelivery bound."""
    return events_stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time aggregation with late-data watermark: counts +
    value sum per (window, event_type). Works identically on a batch
    DataFrame (windowing functions are engine-shared), which is how the
    oracle compares it."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact decimal sum cast back to double: order-independent, so
            # the value is identical whether computed in one batch or
            # accumulated across micro-batches (and across engines —
            # round(sum(double),2) depends on accumulation order)
            F.sum(F.col("value").cast("decimal(38,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


RUNNING_TOTALS_SCHEMA = "event_type string, n_events long, n_users long, total_cents long"
_RUNNING_TOTALS_STATE = "n long, cents long, users array<long>"


def stateful_running_totals(events_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via `applyInPandasWithState`: per
    event_type, running event count, distinct-user count, and an EXACT
    money total carried as integer cents (float accumulation order varies
    across batch boundaries; integer state makes replays and oracles
    bit-stable). Emits one updated row per key per micro-batch ("update"
    mode) — the latest row per key is the answer so far.

    This is the state shape the built-in window/session operators can't
    express: arbitrary per-key state (here a seen-user set) mutated across
    micro-batches. Scale note: a seen-user set grows O(users/key); at real
    scale swap the set for a sketch (HLL/theta) in the same state slot —
    the operator contract doesn't change."""
    import pandas as pd

    def fn(key, pdfs, state):
        if state.exists:
            n, cents, users_arr = state.get
            users = set(users_arr)
        else:
            n, cents, users = 0, 0, set()
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
            users.update(int(u) for u in pdf["user_id"])
        state.update((n, cents, sorted(users)))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "n_users": [len(users)],
                "total_cents": [cents],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events_stream.groupBy("event_type").applyInPandasWithState(
        fn,
        RUNNING_TOTALS_SCHEMA,
        _RUNNING_TOTALS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows: a new session starts after ``gap`` of
    inactivity. Uses the built-in `session_window` (merging-window state
    operator) rather than applyInPandasWithState — same semantics, JVM-side
    state store, mergeable across micro-batches."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # exact decimal sum (see windowed_event_counts)
            F.sum(F.col("value").cast("decimal(38,4)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "48 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: every left row pairs with the
    right rows of the same ``on`` key whose event time falls in
    ``[left_ts - lookback, left_ts]`` (attribution: a click joins the
    views that preceded it).

    Both sides carry event-time watermarks and the join condition bounds
    the time range on BOTH ends, which is exactly what Structured
    Streaming needs to reason about state expiry: right-side rows are
    dropped from state once the watermark passes ``right_ts + lookback``,
    left rows as soon as their window closes — state is bounded by
    (rate × (lookback + watermark)), not stream lifetime. The same plan
    runs unchanged on batch frames (the batch twin is the W6 banded range
    join, which trades this state machine for band-bucketed equi-joins).

    ``left_ts``/``right_ts`` must be distinct column names (rename before
    calling) so the joined schema is unambiguous.
    """
    if left_ts == right_ts:
        raise ValueError("rename ts columns to be distinct before joining")
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[on] == r[on])
        & (F.col(right_ts) >= F.expr(f"{left_ts} - INTERVAL {lookback}"))
        & (F.col(right_ts) <= F.col(left_ts))
    )
    return l.join(r, cond, "inner").drop(r[on])


def stream_dedup_ingest(
    stream: DataFrame,
    doc_lake: str,
    index_lake: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Streaming near-dup-deduped ingest — the streaming form of
    incremental dedup (operators/dedup.dedup_incremental): every
    micro-batch dedups against the lake's signature index, survivors'
    documents append to the doc lake and their signatures extend the
    index, so later batches dedup against everything ingested before
    them. The corpus text already in the lake is NEVER re-read — state
    per batch is the batch's signatures plus its index collisions.

    st5's dropDuplicatesWithinWatermark handles EXACT redelivery inside
    a watermark horizon; this operator handles NEAR-duplicates across
    the stream's whole lifetime, holding state in a parquet index
    instead of the state store (unbounded horizon, spillable, shared
    with batch ingestion)."""
    from mrf_etl_spark.operators.dedup import dedup_incremental, per_doc_signature_state

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            index = spark.read.parquet(index_lake)
            have_index = True
        except Exception:  # noqa: BLE001  (first batch: no index yet)
            have_index = False
        # the batch's signature state and survivor checkpoint die with
        # the batch, once both lake appends have read them
        with state.scope():
            survivors = batch_df
            if have_index:
                res = dedup_incremental(
                    batch_df, index, text_col, id_col, k, num_hashes, bands, threshold
                )
                keep_ids = res.filter(F.col("survived")).select(
                    F.col("doc_id").alias(id_col)
                )
                survivors = batch_df.join(keep_ids, id_col, "left_semi")
            # freeze before the lake appends
            survivors = state.local_checkpoint(survivors)
            survivors.write.mode("append").parquet(doc_lake)
            per_doc_signature_state(
                survivors, text_col, id_col, k, num_hashes
            ).write.mode("append").parquet(index_lake)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_incremental_rollup(
    stream: DataFrame,
    mv_path: str,
    checkpoint_dir: str,
    keys: list[str],
    agg_exprs: dict[str, str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
    available_now: bool = True,
):
    """Incremental materialized-view maintenance from a stream — the lake
    twin of :func:`stateful_running_totals`: each micro-batch reduces to a
    per-key DELTA of ALGEBRAIC aggregates (sums/counts — the merge is
    addition, so pre-aggregated deltas compose exactly), which outer-merges
    into the parquet MV with an atomic swap. The MV after draining equals
    the batch GROUP BY over everything ingested, independent of batch
    boundaries; serving reads the MV only (the reference's
    DASHBOARD_OPTIMIZATION_GUIDE materialized-rollup pattern, kept fresh
    by the stream instead of a rebuild job).

    ``agg_exprs``: output column -> SQL aggregate over the batch (e.g.
    ``{"n": "count(*)", "cents": "sum(cast(round(value*100) as bigint))"}``).
    Aggregates must be sum-mergeable (count/sum); means and ratios are
    derived at read time from these (never merged directly — averaging
    averages is the classic incremental-MV bug). State lives IN the lake:
    a restart resumes from the checkpoint and the last published MV, no
    in-memory state to rebuild.

    Scale: the per-batch delta is a map-side-combined aggregation of ONE
    micro-batch; the merge joins |MV| keys with |delta| keys — both
    key-partitioned, no full-history rescan. The read-modify-write is
    single-writer by construction (one streaming query owns the MV).

    Replay safety: foreachBatch is at-least-once — a crash after the MV
    swap but before the checkpoint commit re-delivers the same batch_id on
    restart. The writer records the last applied batch_id in an
    ``_applied_batch_id`` sidecar swapped atomically WITH the MV, and
    skips any batch_id at or below it, making the read-modify-write
    idempotent (the sibling writers are key-idempotent by construction;
    an additive merge needs the watermark). The checkpoint dir doubles as
    the sidecar's stream_id, so the guard never confuses a NEW
    checkpoint's restarted batch numbering with a replay."""
    write_batch = incremental_rollup_batch_writer(
        mv_path, keys, agg_exprs, transform, stream_id=checkpoint_dir
    )
    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_scd2_ingest(
    stream: DataFrame,
    history_path: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str,
    tiebreak: list[str],
    attrs: list[str],
    n_buckets: int = 16,
    available_now: bool = True,
):
    """Incremental SCD2 maintenance from an update stream — the streaming
    twin of :func:`mrf_etl_spark.io.writers.scd2_history` (s23): the
    history table stays equal to the batch SCD2 over every update
    ingested so far, without ever rebuilding unaffected keys.

    Layout: history is hive-partitioned by ``_bucket = pmod(xxhash64(
    keys), n_buckets)``. Each micro-batch:

    1. projects the batch to update rows and finds the AFFECTED buckets
       (distinct buckets of the batch's keys — a tiny aggregate);
    2. reads ONLY those bucket partitions of the existing history
       (partition pruning — untouched buckets are never opened);
    3. converts affected keys' existing version rows back into update
       rows (a version row IS its source update: valid_from + attrs),
       unions the new updates, dedups on (keys, order, tiebreak), and
       re-derives the chains with the batch scd2 window;
    4. writes the rebuilt buckets with dynamic partition overwrite, so
       only affected bucket partitions are replaced.

    Replay safety: the merge is state-based, not delta-based — a
    redelivered batch's updates dedup into chains that already contain
    them and the rebuilt buckets are byte-identical, so foreachBatch's
    at-least-once delivery needs no batch-id watermark here.

    Scale: per batch the work is O(affected buckets), not O(history);
    bucket count trades rewrite amplification (fewer, bigger buckets)
    against small-file pressure (more, smaller ones). ``tiebreak`` must
    make per-key ordering total (e.g. a unique update id) — it is
    retained in the history for the rebuild round-trip."""
    from mrf_etl_spark.io.writers import scd2_history

    update_cols = [*keys, order_col, *tiebreak, *attrs]

    def _bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_bucket", F.pmod(F.xxhash64(*keys), F.lit(n_buckets))
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        new_upd = _bucketed(batch_df.select(*update_cols).dropDuplicates(
            [*keys, order_col, *tiebreak]
        ))
        if new_upd.isEmpty():
            return
        have_history = os.path.isdir(history_path) and any(
            e.startswith("_bucket=") for e in os.listdir(history_path)
        )
        if have_history:
            buckets = [r["_bucket"] for r in new_upd.select("_bucket").distinct().collect()]
            existing = spark.read.parquet(history_path).filter(
                F.col("_bucket").isin(buckets)
            )
            # a version row is its source update; replay it as one
            existing_upd = existing.select(
                *keys,
                F.col("valid_from").alias(order_col),
                *tiebreak,
                *attrs,
                "_bucket",
            )
            all_upd = existing_upd.unionByName(new_upd).dropDuplicates(
                [*keys, order_col, *tiebreak]
            )
        else:
            all_upd = new_upd
        rebuilt = scd2_history(
            all_upd,
            keys=keys,
            order_col=order_col,
            tiebreak=tiebreak,
            attrs=[*tiebreak, *attrs, "_bucket"],
        )
        # Writer-scoped dynamic overwrite (NOT the session conf): other
        # writes in the same session keep whatever overwrite semantics
        # they were configured with (ADVICE r6).
        (
            rebuilt.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(history_path)
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_BATCH_ID_SIDECAR = "_applied_batch_id"


def incremental_rollup_batch_writer(
    mv_path: str,
    keys: list[str],
    agg_exprs: dict[str, str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
    stream_id: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body of :func:`stream_incremental_rollup`,
    exposed so replay behavior is directly testable: calling it twice
    with the same batch_id must apply the delta exactly once.

    ``stream_id`` identifies the checkpoint lineage (the checkpoint dir).
    batch_id is only monotone WITHIN one checkpoint's lifetime — a fresh
    checkpoint restarts at 0, so the replay guard skips a batch only when
    the sidecar's stream_id matches the caller's (ADVICE r6: a bare
    batch-id watermark silently dropped every early batch of a new
    checkpoint pointed at an existing MV). A mismatched stream_id applies
    the batch — re-ingesting history into a populated MV double-counts
    VISIBLY, which is the correct failure mode; pair each MV with exactly
    one checkpoint dir for its lifetime."""
    import os

    from mrf_etl_spark.io.writers import atomic_overwrite

    def _parse_marker(text: str) -> tuple[str | None, int]:
        # ADVICE r7: an empty or truncated sidecar (e.g. a crash between
        # create and write) must fail with a diagnostic naming the file,
        # not an opaque IndexError/ValueError that kills the stream. We
        # fail rather than treat it as "no watermark": silently disarming
        # the replay guard risks double-applying a batch — the one
        # corruption the sidecar exists to prevent. Operator remedy: delete
        # the sidecar only if the MV is known consistent.
        lines = text.strip().splitlines()
        try:
            if len(lines) == 1:  # legacy sidecar: batch id only, no lineage
                return None, int(lines[0])
            if len(lines) >= 2:
                return lines[0], int(lines[1])
        except ValueError:
            pass
        raise ValueError(
            f"corrupt incremental-MV sidecar {_BATCH_ID_SIDECAR!r}: expected "
            f"'<stream_id>\\n<batch_id>' (or a legacy single batch-id line), "
            f"got {text!r}; remove the sidecar only if the MV is known to be "
            f"consistent with its checkpoint"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(mv_path, _BATCH_ID_SIDECAR)
        marked_sid: str | None = None
        if os.path.isfile(marker):
            with open(marker) as fh:
                marked_sid, marked_bid = _parse_marker(fh.read())
            # a missing stream_id on EITHER side means "the current
            # lineage": a legacy sidecar (pre-lineage upgrade) and a
            # sid-less writer over a stamped MV (mixed call sites or a
            # rollback) must both keep the replay guard, else an
            # already-applied batch re-applies and double-counts — the
            # one corruption the watermark exists for. Only two DIFFERENT
            # explicit lineages disarm it (a fresh checkpoint legitimately
            # restarts batch ids at 0).
            if (
                marked_sid is None or stream_id is None or marked_sid == stream_id
            ) and batch_id <= marked_bid:
                return  # replayed batch — its delta is already in the MV
        df = transform(batch_df) if transform is not None else batch_df
        spark = df.sparkSession
        delta = df.groupBy(*keys).agg(
            *[F.expr(e).alias(c) for c, e in agg_exprs.items()]
        )
        if os.path.isdir(mv_path) and any(
            f.endswith(".parquet") for f in os.listdir(mv_path)
        ):
            old = spark.read.parquet(mv_path)
            merged = (
                old.select(
                    *keys, *[F.col(c).alias(f"_old_{c}") for c in agg_exprs]
                )
                .join(delta, keys, "full_outer")
                .select(
                    *[F.col(k) for k in keys],
                    *[
                        (
                            F.coalesce(f"_old_{c}", F.lit(0))
                            + F.coalesce(c, F.lit(0))
                        ).alias(c)
                        for c in agg_exprs
                    ],
                )
            )
        else:
            merged = delta
        # a sid-less writer must not DOWNGRADE an existing lineage stamp
        # to the one-line legacy form — preserve the marked lineage so a
        # later lineage-aware writer still recognizes its own stream
        eff_sid = stream_id if stream_id is not None else marked_sid
        marker_text = (
            str(batch_id) if eff_sid is None else f"{eff_sid}\n{batch_id}"
        )
        atomic_overwrite(
            merged, mv_path, sidecar={_BATCH_ID_SIDECAR: marker_text}
        )

    return write_batch

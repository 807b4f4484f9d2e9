"""Structured Streaming surface over the events fixture (SURVEY §7.5 —
an extension; the reference is batch-only).

The same validation/aggregation kernels used in batch run here over
``readStream``: tumbling-window aggregates with (optionally) watermarked
late-data handling, plus an ``applyInPandasWithState`` sessionizer as
the custom-stateful-operator example.

Local harness: parquet source + memory sink + processAllAvailable()
drives the stream to completion synchronously (the pattern from the
public Spark docs); on a cluster the source becomes Kafka/files and the
sink a table — the query graph is unchanged.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import load_events, normalize_event_ts, scratch_dir
from ..sources.txn import Catalog

# symlink-dir per sf_dir, reused within a process (read_events_stream)
_STREAM_DIR_CACHE: dict[str, str] = {}


def drain_stream(
    df: DataFrame, query_name: str, output_mode: str,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Run a streaming query to exhaustion against a per-query temp
    parquet sink (via foreachBatch) and return the result as a batch
    DataFrame backed by those files.

    This replaced the r02–r07 memory-sink + ``collect()`` drain: the
    memory sink materializes the whole result ON THE DRIVER, capping
    drain size at driver RAM — fine for a harness, wrong as the engine's
    stated pattern. foreachBatch keeps every batch write executor-side:
    ``append`` mode appends each micro-batch's rows; ``complete`` mode
    overwrites, so the last batch IS the final result. (The plain
    ``.format("parquet")`` file sink cannot express complete mode at
    all, which is why foreachBatch does the writing.) The scratch dir
    must outlive the call — the returned frame reads it lazily and the
    driver collects later — so cleanup is deferred to interpreter exit.

    ``state_partitions`` sizes the stateful operators' state-store
    count for THIS query (stateful streams lock
    spark.sql.shuffle.partitions in at first batch; the session value
    is restored after the drain). Every state store carries per-batch
    fixed cost — load, commit, snapshot — in every micro-batch, and
    AQE cannot coalesce stateful exchanges, so a bounded drain at 32
    partitions pays 32x that cost for no throughput (measured: the
    stream-stream full-outer drain is 12.9s at 32 partitions, 3.4s at
    8, identical rows). A production deployment sizes this to
    sustained input rate x state size — raise it; correctness is
    partitioning-invariant either way. None = leave the session value.

    The override is SESSION-scoped while the drain runs (Spark offers
    no per-query knob for stateful shuffle partitions): a batch query
    planned concurrently from another thread would pick it up. This
    harness drives queries driver-sequentially, so that never happens
    here; a concurrent multi-stream deployment should pass None (or
    isolate streams in their own sessions) rather than rely on this
    drain helper.
    """
    import atexit
    import shutil
    import tempfile

    spark = df.sparkSession
    out_dir = tempfile.mkdtemp(prefix=f"stream_drain_{query_name}_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    # seed an empty file so a zero-batch stream still yields a readable,
    # correctly-schemed result
    spark.createDataFrame([], df.schema).write.mode("overwrite").parquet(out_dir)
    batch_mode = "complete" if output_mode == "complete" else "append"

    def _write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        mode = "overwrite" if batch_mode == "complete" else "append"
        batch_df.write.mode(mode).parquet(out_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .foreachBatch(_write_batch)
            .queryName(query_name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(out_dir)


# Back-compat name (pre-r08 the drain went through the memory sink).
drain_to_memory = drain_stream


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with ``ts`` normalized
    identically to the batch reader.

    File streams need an imposed schema; imposing a hard-coded one is how
    a fixture-layout change (nanos-int64 -> timestamp[us]) once silently
    misread µs as ns and collapsed two years of events into minutes. So
    the schema is RESOLVED from the parquet footer via the batch reader
    (metadata-only, no job) and the same ``normalize_event_ts`` branch is
    applied — batch and stream readers cannot drift apart.

    The parquet streaming source requires a directory; the fixture is a
    single file, so it is exposed through a symlink dir (testdata itself
    stays untouched).
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # per-process scratch (README "Scratch storage contract"): cached
    # per sf_dir so repeat invocations in one process reuse the listing
    # dir, while concurrent processes never share a path
    stream_dir = _STREAM_DIR_CACHE.get(sf_dir)
    if stream_dir is None:
        stream_dir = scratch_dir("spark_graft_stream_events_")
        _STREAM_DIR_CACHE[sf_dir] = stream_dir
    link = f"{stream_dir}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(stream_dir)
    )
    return normalize_event_ts(raw)


def windowed_event_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts + exact decimal sums per event_type.

    Decimal-cast before SUM keeps the aggregate exact; the sum is
    pinned to DOUBLE at the output boundary because Spark and the
    DuckDB oracle widen SUM(DECIMAL) to different precisions and the
    driver hashes those unequally even for equal values (house rule,
    plans/catalog.py). Window start/end surface as plain timestamps.
    """
    return (
        events.groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_stream_to_batch(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    query_name: str = "events_window_agg",
) -> DataFrame:
    """Drive the windowed aggregation over all available input and return
    the final result as a batch DataFrame (memory sink, complete mode)."""
    agg = windowed_event_agg(read_events_stream(spark, sf_dir), window)
    return drain_stream(agg, query_name, "complete")


def watermarked_event_agg(events: DataFrame) -> DataFrame:
    """Append-mode variant with a 10-minute watermark: late rows beyond
    the watermark are dropped, windows emit once finalized. (Append mode
    only emits closed windows, so the trailing window stays pending —
    correct streaming semantics, checked as rows-only.)"""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def sessionize_stateful(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    applyInPandasWithState (sessions split on >gap_minutes idle).

    Demonstrates the arbitrary-state API shape; emitted rows are the
    gap-closed sessions plus open sessions flushed when the event-time
    timeout fires (timeout timestamp = last event + gap, so the watermark
    advancing past the gap closes the trailing session per user — the
    session whose timeout the watermark never passes stays pending, which
    is correct streaming semantics for an unbounded source).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1_000

    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        rows = []
        if state.hasTimedOut:
            # timeout invocation: no new input; flush the open session
            start, last, n = state.get if state.exists else (0, 0, 0)
            state.remove()
            if n:
                rows.append((key[0], start, last, n))
            if rows:
                yield pd.DataFrame(
                    {
                        "user_id": [r[0] for r in rows],
                        "session_start": [pd.Timestamp(r[1], unit="us") for r in rows],
                        "session_end": [pd.Timestamp(r[2], unit="us") for r in rows],
                        "n_events": [r[3] for r in rows],
                    }
                )
            return
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        ts_us.sort()
        if state.exists:
            start, last, n = state.get
        elif ts_us:
            start, last, n = ts_us[0], ts_us[0], 0
        else:
            start, last, n = 0, 0, 0
        for t in ts_us:
            if n and t - last > gap_us:
                rows.append((key[0], start, last, n))
                start, n = t, 0
            last = t
            n += 1
        state.update((start, last, n))
        # arm the event-time timeout: fires once the watermark passes
        # last-event + gap (GroupState wants milliseconds)
        state.setTimeoutTimestamp(last // 1000 + gap_ms)
        if rows:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in rows],
                    "session_start": [pd.Timestamp(r[1], unit="us") for r in rows],
                    "session_end": [pd.Timestamp(r[2], unit="us") for r in rows],
                    "n_events": [r[3] for r in rows],
                }
            )

    events = read_events_stream(spark, sf_dir)
    sessions = (
        events.withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_SCHEMA, _STATE_SCHEMA, "append", "EventTimeTimeout"
        )
    )
    return drain_stream(sessions, "sessions_out", "append")


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, dropping
    re-deliveries that arrive within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` bounds state by TIME (keys expire
    once the watermark passes their first-seen event time) instead of
    keeping every key forever like plain dropDuplicates — the only
    state contract that survives an unbounded stream: state size ~
    keys-per-watermark-window, not keys-ever-seen. This is the
    streaming twin of exact_dedup for at-least-once sources (Kafka
    re-delivery, replayed batches)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def enrich_stream_static(
    events: DataFrame,
    dim: DataFrame,
    on_left: str = "user_id",
    on_right: str = "c_custkey",
    payload: dict[str, str] | None = None,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension snapshot — the standard lookup-table pattern
    (Kafka clickstream x dimension). Spark broadcasts the static side
    per batch when it fits, so the stream never shuffles; the dim
    re-reads per batch, which is exactly the semantics you want for a
    slowly-refreshed snapshot table.

    ``payload`` maps dim column -> output alias (the attributes to
    carry onto the stream); default fits the TPC-H customer dim."""
    payload = payload or {"c_mktsegment": "segment"}
    d = dim.select(
        F.col(on_right).alias(on_left),
        *[F.col(src).alias(dst) for src, dst in payload.items()],
    )
    return events.join(d, on_left, "left")


def scd2_stream_apply(
    source_stream: DataFrame,
    cat: Catalog,
    name: str,
    business_key: str,
    columns: tuple[str, ...],
    surrogate_key: str,
    checkpoint_dir: str,
    run_date=None,
    mode: str = "delta",
    order_col: str | None = None,
) -> None:
    """Streaming SCD-2 ingestion: apply each micro-batch of source rows
    to the versioned dimension stored as catalog table ``name`` via
    foreachBatch.

    Per batch: collapse the batch to ONE row per business key (a drained
    backlog can deliver several versions of a key in one availableNow
    batch — ``order_col`` picks the latest for CDC streams with an
    ordering column; without one, the lexicographically greatest
    attribute tuple wins, deterministic either way), read the dim at
    the transaction's snapshot, run the same scd2_upsert kernel the
    batch pipeline uses (delta mode by default — only changed rows
    re-version), and stage the new dim version.

    Exactly-once: the commit rides streaming/exactly_once's sink, so
    the new dim version and the batch's ledger row (``name__commits``,
    app id ``scd2``) publish in ONE manifest swap on ``main``. A replayed
    batch (crash between the commit and the streaming checkpoint) sees
    its id already committed and is a no-op, so dim history never
    double-applies. Dim versions accumulate one per non-empty batch;
    ``Catalog.expire_snapshots`` bounds history.

    Runs with trigger(availableNow) and BLOCKS until the source drains
    (the semantics a scheduled incremental ingest wants). For a
    continuous deployment swap the trigger; nothing else changes.
    """
    from ..operators.scd2 import scd2_upsert
    from .exactly_once import _exactly_once_sink, ledger_table

    order_by = (
        [F.col(order_col).desc()]
        if order_col
        else [F.col(c).desc() for c in columns if c != business_key]
    )
    w = Window.partitionBy(business_key).orderBy(*order_by)

    def stage(t, spark: SparkSession, batch_df: DataFrame) -> None:
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        try:
            dim = t.read_committed(spark, name)
        except FileNotFoundError:
            dim = None
        new_dim = scd2_upsert(
            dim,
            latest,
            business_key,
            list(columns),
            surrogate_key,
            run_date=run_date,
            mode=mode,
        )
        t.overwrite(new_dim, name)

    q = (
        source_stream.writeStream.foreachBatch(
            _exactly_once_sink(cat, ledger_table(name), "scd2", "main", stage)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "click",
    right_type: str = "error",
    max_lag_minutes: int = 30,
    watermark: str = "60 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval constraint: for
    each ``left_type`` event, the ``right_type`` events of the same
    user within [left_ts, left_ts + max_lag] (click -> error funnel).

    Both sides carry watermarks AND the join condition bounds event
    time in both directions — the two requirements Spark needs to purge
    join state: a buffered left row can be dropped once the right
    watermark passes left_ts + max_lag, so state is bounded by
    rate x lag, not by stream length. An unbounded (equi-only) stream
    join would buffer both streams forever.

    Inner interval joins are batch-equivalent once the source drains:
    the DuckDB oracle runs the identical self-join predicate.

    ``how="leftOuter"`` additionally emits each matchless left row
    null-extended — but only WHEN ITS STATE EVICTS (the watermark
    passes the row's last possible match time), because until then a
    future right row could still match. Left rows the final watermark
    never passes stay pending: correct unbounded-stream semantics, and
    on a finite source a deterministic set the oracle can state.
    """
    l = (
        left.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", watermark)
    )
    r = (
        right.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", watermark)
    )
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (
            F.col("right_ts")
            <= F.col("left_ts") + F.expr(f"INTERVAL {max_lag_minutes} MINUTES")
        )
    )
    return l.join(r, cond, how).select(
        # coalesce is the identity for inner/leftOuter (left user_id is
        # never null there); for fullOuter it keeps the user on
        # right-only null-extended rows
        F.coalesce(F.col("user_id"), F.col("r_user_id")).alias("user_id"),
        "left_id",
        "right_id",
        "left_ts",
        "right_ts",
    )

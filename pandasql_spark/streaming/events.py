"""Streaming operators over the events table
(event_id, ts, user_id, event_type, value, props).

Every transformation here is expressed on an unbounded DataFrame so the
SAME code runs in batch (spark.read) and streaming (spark.readStream) —
the Structured Streaming contract. Watermarks bound state: without one,
a windowed agg on a 100 TB/day stream grows state forever.

State-size notes per operator:
- tumbling/sliding window aggs: state = windows-in-flight × groups;
  watermark evicts closed windows.
- session windows: state per (user, open session); watermark closes
  sessions after the gap + lateness.
- user_running_totals: applyInPandasWithState with explicit per-user
  state; optional ``ttl_seconds`` switches NoTimeout (state per user
  ever seen) to an event-time timeout that evicts idle users — bounded
  by active users at the cost of restarting returners.

Bounded replays — how the gate drives these operators, and the crawl,
dedup and heavy-hitter streams, through the real engine — all run
through ONE runner, `run_bounded`: AvailableNow trigger, the replay
shuffle cap, wait for the end, remove the dirs only the stream used.
Their input is staged one of two ways: `link_stage` (symlinks to a
file, one micro-batch per link) or `stage_time_ordered` (ordered
chunks, one micro-batch per chunk). Every dir comes from
`session.scratch_dir`.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import scratch_dir


@contextmanager
def bounded_replay_shuffle(spark: SparkSession, n: int = 8):
    """Cap ``spark.sql.shuffle.partitions`` while `run_bounded` starts
    and runs a BOUNDED replay, then restore it. Replays are small by
    construction, and stateful-streaming cost scales with state-store
    instances PER PARTITION PER MICRO-BATCH (the conftest.py lesson;
    measured on the crawl-ingest replay at sf0.1: 17.6 s → 6.5 s,
    identical output; q76 windowed-KMV 3.2 s → 2.4 s, q97 admission
    1.3 s → 1.1 s). A stateless stream with no shuffle (q59's file
    sink) plans the same at any width. A stream its caller starts
    itself — the unbounded production shape — keeps the session's
    width, where real state wants the shards. No-op when the session is
    already at or under ``n``, as every local session on up to ``n``
    cores is (``get_spark`` sets one shuffle partition per core).

    NOT REENTRANT / NOT THREAD-SAFE: the cap mutates the session-global
    conf for the replay's duration, so any query PLANNED concurrently
    on the same session silently picks up the capped width, and nested
    use restores the inner value. The replay gates run single-threaded
    by construction; a caller who needs concurrent planning should run
    the replay on a cloned session (``spark.newSession()`` shares the
    SparkContext but isolates the conf) and pass the clone here."""
    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    try:
        if int(prev) <= n:
            yield
            return
    except (TypeError, ValueError):  # e.g. unset/auto — leave it alone
        yield
        return
    conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)


def run_bounded(
    spark: SparkSession, writer: DataStreamWriter, release: Iterable[str] = ()
) -> None:
    """Run a bounded replay to its end: start ``writer`` (configured,
    unstarted) under ``Trigger.AvailableNow`` — process everything
    staged, then stop — inside `bounded_replay_shuffle`, and wait for
    it. The dirs in ``release`` — stage, checkpoint and store, which
    only the stream reads or writes — are removed as soon as it ends,
    failed or not; a sink that a returned frame still reads stays until
    interpreter exit (`session.scratch_dir`)."""
    try:
        with bounded_replay_shuffle(spark):
            writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        for path in release:
            shutil.rmtree(path, ignore_errors=True)


def replay_to_memory(
    spark: SparkSession,
    stream: DataFrame,
    query_name: str,
    output_mode: str = "append",
    release: Iterable[str] = (),
) -> DataFrame:
    """`run_bounded` into the in-memory table ``query_name`` and return
    it. The table holds the rows, so the staged input can go."""
    run_bounded(
        spark,
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        release,
    )
    return spark.table(query_name)


def link_stage(path: str, prefix: str, copies: int = 1) -> str:
    """A scratch dir holding ``copies`` symlinks to the parquet FILE
    ``path``: the file stream source reads directories only. No data is
    copied and the source stays read-only; under
    ``maxFilesPerTrigger=1`` each link replays the file once more."""
    stage = scratch_dir(prefix)
    src = os.path.abspath(path)
    for i in range(copies):
        os.symlink(src, os.path.join(stage, f"{i}.parquet"))
    return stage


def stage_ordered_chunks(
    df: DataFrame,
    n_batches: int,
    order_cols: list[str],
    stage_dir: str,
) -> None:
    """Stage a bounded frame as ``n_batches`` single-file parquet
    chunks (``01.parquet`` … ``NN.parquet``) with strictly increasing
    mtimes, so a ``maxFilesPerTrigger=1`` file source replays chunk i
    as micro-batch i-1 in ``order_cols`` order (the file source orders
    micro-batches by modification time).

    Chunking is the distributed ``exact_ntile`` (no single-reducer
    window — the q52 operator); the write is ONE chunk-partitioned job
    instead of ``n_batches`` filtered writes, which previously
    recomputed (or persisted) the upstream frame once per chunk — on
    the crawl-ingest replay the per-chunk jobs were pure fixed
    overhead. ``repartition(n, "chunk")`` lands every chunk's rows in
    one task, so each partition dir holds exactly one part file."""
    from ..operators.ranking import exact_ntile

    chunked = exact_ntile(df, n_batches, order_cols, bucket_col="chunk")
    chunked.repartition(n_batches, "chunk").write.partitionBy("chunk").mode(
        "overwrite"
    ).parquet(stage_dir)
    # the write fully materialized the staged frame — release the
    # range-partitioned copy exact_ntile persisted internally (ADVICE
    # r10: bounded cache residency, same theme as the r9 items)
    chunked.cleanup()
    for i in range(1, n_batches + 1):
        d = os.path.join(stage_dir, f"chunk={i}")
        part = (
            next((p for p in os.listdir(d) if p.startswith("part-")), None)
            if os.path.isdir(d)
            else None
        )
        if part is None:
            raise ValueError(
                f"staging chunk {i}/{n_batches} wrote no rows — "
                f"n_batches exceeds the frame's row count?"
            )
        dest = os.path.join(stage_dir, f"{i:02d}.parquet")
        os.replace(os.path.join(d, part), dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))


EVENT_SCHEMA = T.StructType(
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
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source event stream. In production this is Kafka
    (`spark.readStream.format("kafka")`) — the file source has the same
    unbounded-DataFrame semantics and is what the test harness drives.
    ``maxFilesPerTrigger`` paces micro-batches."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + value stats.
    Watermark tolerates ``watermark`` of event-time lateness, then
    finalizes (and evicts) the window state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_value_stats(
    events: DataFrame,
    window: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping
    windows. State cost multiplies by the overlap factor — keep
    window/slide small ratios at scale."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows: a session closes after ``gap`` of
    inactivity. Native `session_window` keeps state merge/close inside
    the JVM state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_event_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup: drop events whose ``keys`` were already
    seen within the watermark horizon (`dropDuplicatesWithinWatermark`).
    State holds one entry per distinct key inside the horizon — bounded,
    unlike an unwatermarked dropDuplicates which grows forever. This is
    the streaming twin of operators/dedup.exact_dedup for at-least-once
    sources that can replay events."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


_RUNNING_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _running_totals_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user running totals — custom stateful op via
    applyInPandasWithState. State is (count, sum); emits one updated row
    per user per micro-batch."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
    )


def user_running_totals(events: DataFrame, ttl_seconds: int | None = None) -> DataFrame:
    """Custom stateful operator: running per-user event count + value sum
    (applyInPandasWithState, the Spark analog of a keyed process
    function).

    State policy — the caller picks the trade-off explicitly:
    - ``ttl_seconds=None`` (default): NoTimeout, state = one entry per
      user EVER seen. Right for bounded user spaces; unbounded ones grow
      the store forever.
    - ``ttl_seconds=N``: event-time timeout — a user idle for N seconds
      past the watermark is evicted (the ``hasTimedOut`` branch fires
      and removes state). Bounds the store by ACTIVE users; an evicted
      user who returns restarts their totals from zero.
    """
    if ttl_seconds is None:
        return events.groupBy("user_id").applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def _fn_with_ttl(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttl_seconds * 1000)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
        )

    watermarked = events.withWatermark("ts", f"{ttl_seconds} seconds")
    return watermarked.groupBy("user_id").applyInPandasWithState(
        _fn_with_ttl,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def click_purchase_interval_join(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding ``window`` (the streaming twin of
    operators/rangejoin.range_join, which covers the batch side).

    Both sides carry a watermark and the join condition bounds event-time
    distance — the two requirements that let Spark evict join state: a
    buffered click can be dropped once the purchase-side watermark passes
    click.ts + window. Without the time bound, stream-stream join state
    grows forever. Runs identically on a batch frame (inner join +
    range predicate) for differential testing."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    if purchases.isStreaming:
        purchases = purchases.withWatermark("p_ts", watermark)
        clicks = clicks.withWatermark("c_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.expr(f"p_ts - interval {window}"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    return purchases.join(clicks, cond, "inner").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
        "c_ts",
        "purchase_value",
        "click_value",
    )


def replay_hourly_counts(
    spark: SparkSession, events_path: str, query_name: str = "q21_stream_replay"
) -> DataFrame:
    """Run `hourly_event_counts` through the REAL streaming engine over a
    bounded replay of ``events_path`` and return the final result table.

    This is the driver-gate entry for the streaming surface: file source
    → `readStream` → tumbling-window agg → complete-mode memory sink,
    `Trigger.AvailableNow` (process everything, then stop). In complete
    mode no state is evicted, so a full replay is exactly equal to the
    batch GROUP BY — which is what the DuckDB oracle checks. Production
    topology is the same plan with a Kafka source, append mode, and the
    watermark actually evicting state (covered in tests/test_streaming.py).

    The stream schema is chosen from the file's actual physical ts type
    (probed with a batch read): TIMESTAMP(MICROS) files — the current
    testdata — stream directly with a TimestampType schema; legacy
    TIMESTAMP(NANOS) files (rejected by the vectorized reader) fall back
    to reading nanos as long under the legacy nanosAsLong conf — set for
    the stream build, restored after termination, same contract as
    queries.load_events."""
    return _replay(spark, events_path, hourly_event_counts, query_name)


def replay_session_windows(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    query_name: str = "q17_session_replay",
) -> DataFrame:
    """Run `session_windows` through the real streaming engine over a
    bounded replay — the second gate-checked streaming surface after the
    tumbling path. Complete mode never evicts state, so the final table
    equals batch sessionization; the matching DuckDB oracle is a
    lag/flag/running-sum sessionizer with Spark's half-open session
    semantics (an event exactly ``gap`` after the previous one STARTS a
    new session, because session windows are [start, last+gap))."""
    return _replay(
        spark,
        events_path,
        lambda ev: session_windows(ev, gap=gap),
        query_name,
    )


def replay_running_totals(
    spark: SparkSession, events_path: str, query_name: str = "q53_stateful_replay"
) -> DataFrame:
    """Run `user_running_totals` (applyInPandasWithState) through the
    real streaming engine over a bounded replay. The testdata is ONE
    parquet file, so AvailableNow yields exactly one micro-batch and the
    update-mode sink holds one final row per user — equal to the batch
    GROUP BY, which is what the oracle checks. A multi-batch replay
    would append one update per user per batch (update-mode history);
    the per-batch accumulation path is covered by
    tests/test_streaming.py with maxFilesPerTrigger pacing."""
    return _replay(
        spark,
        events_path,
        user_running_totals,
        query_name,
        output_mode="update",
    )


def replay_stream_dedup(
    spark: SparkSession,
    events_path: str,
    query_name: str = "q58_dedup_replay",
) -> DataFrame:
    """Run `dedup_event_stream` through the real engine with the input
    staged TWICE (two symlinks, ``maxFilesPerTrigger=1`` → two
    micro-batches of identical events): batch 2 is a full replay of
    batch 1, so every one of its rows must be dropped by cross-batch
    state — the at-least-once-source scenario the operator exists for.
    The watermark is set beyond the data's time span so no state is
    evicted mid-replay; the final table must equal the source exactly
    (each event once), which the oracle checks. With a realistic
    watermark, events older than the horizon would re-emit — that
    eviction behavior is covered in tests/test_streaming.py."""
    stage = link_stage(events_path, "evdedup_", copies=2)
    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    deduped = dedup_event_stream(raw, keys=["event_id"], watermark="36500 days")
    return replay_to_memory(spark, deduped, query_name, release=[stage])


def stage_time_ordered(
    df: DataFrame, n_batches: int, order_cols: list[str], stage_dir: str
) -> DataFrame:
    """Stage the bounded frame ``df`` into ``stage_dir`` as ``n_batches``
    ``order_cols``-ordered chunks (`stage_ordered_chunks`) and return
    the stream that replays them one chunk per micro-batch
    (``maxFilesPerTrigger=1``), read with ``df``'s own schema. Where
    `_replay` collapses its input into ONE micro-batch, this makes
    cross-batch state real: lifetime counters and budgets straddle
    batch boundaries, and monotone chunking means the result still
    equals the batch closed form (the q99 recipe). The caller owns
    ``stage_dir`` and hands it to `run_bounded`'s ``release``; several
    replays may share one staging write (q97), the biggest fixed cost
    of a replay — one full sort and write of the frame."""
    stage_ordered_chunks(df, n_batches, order_cols, stage_dir)
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage_dir, "*.parquet"))
    )


def _replay(spark, events_path, build_agg, query_name, output_mode="complete") -> DataFrame:
    """Shared single-batch replay: pick a stream schema off the file's
    physical ts type and run build_agg(stream) into a memory sink
    (complete mode for window aggs; update mode for
    applyInPandasWithState, whose contract forbids complete)."""
    # the file streaming source reads directories: a bare parquet FILE
    # (the testdata layout) is staged as a symlink
    release = []
    if os.path.isfile(events_path):
        events_path = link_stage(events_path, "evstream_")
        release.append(events_path)

    try:
        spark.read.parquet(events_path).schema
        nanos = False
    except Exception as exc:  # TIMESTAMP(NANOS): vectorized reader rejects it
        if "nanos" not in str(exc).lower():
            raise  # a real read failure, not the known nanos rejection
        nanos = True

    # conf.set only happens INSIDE the try whose finally restores it —
    # a failure while building the stream must not leak the legacy conf
    # into the shared session.
    prev = None
    nanos_set = False
    try:
        if not nanos:
            ev = spark.readStream.schema(EVENT_SCHEMA).parquet(events_path)
        else:
            ns_schema = T.StructType(
                [
                    f if f.name != "ts" else T.StructField("ts", T.LongType())
                    for f in EVENT_SCHEMA.fields
                ]
            )
            prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            nanos_set = True
            raw = spark.readStream.schema(ns_schema).parquet(events_path)
            ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return replay_to_memory(
            spark, build_agg(ev), query_name, output_mode, release
        )
    finally:
        if nanos_set:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
) -> DataStreamWriter:
    """Fault-tolerant file sink: the checkpoint stores source offsets and
    the parquet sink keeps a transaction log (_spark_metadata), so a
    restarted query neither loses nor duplicates batches — end-to-end
    exactly-once for replayable sources. Returns the configured
    DataStreamWriter, unstarted: the caller picks the trigger and starts
    it (`run_bounded` for a bounded replay, q59)."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )

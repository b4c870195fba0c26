"""Streaming tests: drive each operator through an actual streaming query
(file source → memory sink, processAllAvailable) and check against the
batch equivalent on the same data — the standard differential harness
for Structured Streaming."""

from __future__ import annotations

import shutil
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandasql_spark.queries import load_events
from pandasql_spark.streaming import (
    dedup_event_stream,
    hourly_event_counts,
    read_event_stream,
    session_windows,
    sliding_value_stats,
    user_running_totals,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """events.parquet re-written as a 4-file directory so the file source
    produces multiple micro-batches (maxFilesPerTrigger=1)."""
    d = tmp_path_factory.mktemp("events_stream")
    ev = load_events(spark, SF)
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "data"))
    yield str(d / "data")
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_df, mode="append"):
    name = "t" + uuid.uuid4().hex[:10]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).toPandas()


def test_hourly_tumbling(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    got = _run_stream(spark, hourly_event_counts(stream), mode="complete")
    batch = load_events(spark, SF)
    expected = hourly_event_counts(batch).toPandas()
    key = ["window_start", "event_type"]
    pd.testing.assert_frame_equal(
        got.sort_values(key, ignore_index=True).sort_index(axis=1),
        expected.sort_values(key, ignore_index=True).sort_index(axis=1),
        check_dtype=False,
    )


def test_sliding_windows(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    got = _run_stream(spark, sliding_value_stats(stream), mode="complete")
    expected = sliding_value_stats(load_events(spark, SF)).toPandas()
    key = ["window_start"]
    pd.testing.assert_frame_equal(
        got.sort_values(key, ignore_index=True).sort_index(axis=1),
        expected.sort_values(key, ignore_index=True).sort_index(axis=1),
        check_dtype=False,
    )
    # overlap factor: every event is in 3 windows (30min/10min)
    n_events = load_events(spark, SF).count()
    assert got["n_events"].sum() == 3 * n_events


def test_session_windows(spark, event_dir):
    # the 4-file split is not time-ordered, so a realistic watermark
    # would (correctly) drop late arrivals; widen it past the 30-day data
    # span to make streaming == batch for the differential check.
    stream = read_event_stream(spark, event_dir)
    got = _run_stream(spark, session_windows(stream, watermark="45 days"), mode="complete")
    expected = session_windows(load_events(spark, SF), watermark="45 days").toPandas()
    key = ["user_id", "session_start"]
    pd.testing.assert_frame_equal(
        got.sort_values(key, ignore_index=True).sort_index(axis=1),
        expected.sort_values(key, ignore_index=True).sort_index(axis=1),
        check_dtype=False,
    )
    # sessions never overlap per user
    for _, grp in got.sort_values("session_start").groupby("user_id"):
        starts = grp["session_start"].to_list()
        ends = grp["session_end"].to_list()
        assert all(ends[i] <= starts[i + 1] for i in range(len(grp) - 1))


def test_streaming_dedup(spark, tmp_path):
    """An at-least-once replay (every event delivered twice) dedups back
    to exactly the original rows."""
    ev = load_events(spark, SF)
    d = str(tmp_path / "dup")
    ev.repartition(2).write.mode("overwrite").parquet(d)
    ev.repartition(2).write.mode("append").parquet(d)
    stream = read_event_stream(spark, d)
    got = _run_stream(
        spark, dedup_event_stream(stream, ["event_id"], watermark="45 days")
    )
    assert len(got) == ev.count()
    assert got["event_id"].is_unique


def test_user_running_totals_stateful(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    got = _run_stream(spark, user_running_totals(stream), mode="update")
    # update mode emits one row per user per micro-batch; the LAST row per
    # user is the final running total → compare to batch groupBy
    final = got.groupby("user_id").last()
    batch = (
        load_events(spark, SF)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    final = final.sort_index()
    assert list(final["n_events"]) == list(batch["n_events"])
    assert final["total_value"].tolist() == pytest.approx(batch["total_value"].tolist(), abs=0.05)


def test_stream_stream_interval_join(spark, event_dir):
    from pandasql_spark.streaming import click_purchase_interval_join

    stream = read_event_stream(spark, event_dir)
    # 45-day watermark >> the data span so the unordered 4-file replay
    # doesn't drop legitimate matches (same rationale as session test)
    got = _run_stream(
        spark, click_purchase_interval_join(stream, watermark="45 days")
    )
    expected = click_purchase_interval_join(load_events(spark, SF)).toPandas()
    key = ["purchase_id", "c_ts"]
    pd.testing.assert_frame_equal(
        got.sort_values(key, ignore_index=True).sort_index(axis=1),
        expected.sort_values(key, ignore_index=True).sort_index(axis=1),
        check_dtype=False,
    )
    assert len(got) > 0


def test_exactly_once_parquet_sink(spark, event_dir, tmp_path):
    """Checkpointed file sink: restart with the same checkpoint and no
    new input produces no duplicate rows (exactly-once)."""
    from pandasql_spark.streaming import write_stream_parquet

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    expected = load_events(spark, SF).count()

    for _ in range(2):  # second start = restart from checkpoint
        stream = read_event_stream(spark, event_dir)
        q = write_stream_parquet(stream, out, ckpt).start()
        q.processAllAvailable()
        q.stop()

    got = spark.read.parquet(out).count()
    assert got == expected, f"{got} != {expected} (duplicates or loss on restart)"


def test_watermark_bounds_state(spark, tmp_path):
    """What the watermark actually guarantees (and what matters at
    100 TB): STATE IS BOUNDED. Spark's contract for aggregation is
    one-directional — rows within the watermark are guaranteed to be
    aggregated; rows beyond it are not guaranteed to be dropped (and in
    this plan are aggregated and immediately finalized:
    numRowsDroppedByWatermark stays 0, verified empirically). So the
    assertion is on eviction: after replaying 30 days of history behind
    a 1-hour watermark, the state store retains only the windows the
    watermark hasn't closed — not one row per historical window."""
    import time as _time

    import pyspark.sql.functions as SF_

    ev = load_events(spark, SF)
    cutoff = ev.select(F.expr("max(ts) - interval 12 hours").alias("c")).first()["c"]
    fresh = ev.filter(F.col("ts") > cutoff)
    late = ev.filter(F.col("ts") <= cutoff)
    assert fresh.count() > 0 and late.count() > 0

    d = str(tmp_path / "late_seq")
    # file 1: fresh events → advances the watermark to max(ts) - 1h
    fresh.coalesce(1).write.mode("overwrite").parquet(d)
    _time.sleep(1.1)  # distinct mtime: FileStreamSource orders by it
    # file 2: 30 days of history, all behind the advanced watermark
    late.coalesce(1).write.mode("append").parquet(d)

    stream = read_event_stream(spark, d)
    name = "wm" + str(abs(hash(d)) % 10**8)
    q = (
        hourly_event_counts(stream, watermark="1 hour")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    state_rows = q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"]
    # windows still open = those ending after the watermark; with a 1-hour
    # watermark over hourly windows that is at most the last 2 hours x
    # event types — far below the ~850 historical (window, type) pairs
    n_types = ev.select("event_type").distinct().count()
    assert state_rows <= 2 * n_types, (
        f"state holds {state_rows} rows — watermark is not evicting"
    )
    # and the finalized output is append-only-complete: every window it
    # emitted carries the full count of rows that arrived before closing
    out = spark.table(name).toPandas()
    assert out["n_events"].sum() <= ev.count()


def test_user_running_totals_ttl_mode(spark, event_dir):
    """TTL mode runs with event-time timeout wiring; with a horizon far
    beyond the data span no user is idle long enough to evict, so totals
    equal the NoTimeout result."""
    stream = read_event_stream(spark, event_dir)
    got = _run_stream(
        spark, user_running_totals(stream, ttl_seconds=90 * 24 * 3600), mode="update"
    )
    final = got.groupby("user_id").last().sort_index()
    batch = (
        load_events(spark, SF)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert list(final["n_events"]) == list(batch["n_events"])

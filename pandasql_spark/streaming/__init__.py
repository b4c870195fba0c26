"""Structured Streaming surface (beyond-reference; SURVEY.md §2.8 notes
the reference has no streaming at all — this is the Spark-native
north-star addition over the `events` table).

The sink builders (`write_stream_parquet`, `crawl_ingest_stream`,
`incremental_neardup_dedup`) return a configured, unstarted
DataStreamWriter. Start it with your own trigger for a live stream, or
hand it to `run_bounded` to process what is staged and stop."""

from .admission import admit_per_key_stream, admit_tokens_per_key_stream
from .crawl_ingest import (
    crawl_ingest_stream,
    replay_crawl_ingest,
)
from .events import (
    bounded_replay_shuffle,
    click_purchase_interval_join,
    dedup_event_stream,
    hourly_event_counts,
    read_event_stream,
    run_bounded,
    session_windows,
    sliding_value_stats,
    stage_time_ordered,
    user_running_totals,
    write_stream_parquet,
)
from .incremental import (
    incremental_neardup_dedup,
    replay_incremental_dedup,
)
from .sketch import (
    replay_windowed_kmv,
    windowed_kmv_distinct,
)

__all__ = [
    "read_event_stream",
    "hourly_event_counts",
    "sliding_value_stats",
    "session_windows",
    "user_running_totals",
    "dedup_event_stream",
    "click_purchase_interval_join",
    "write_stream_parquet",
    "incremental_neardup_dedup",
    "replay_incremental_dedup",
    "windowed_kmv_distinct",
    "replay_windowed_kmv",
    "admit_per_key_stream",
    "admit_tokens_per_key_stream",
    "crawl_ingest_stream",
    "replay_crawl_ingest",
    "bounded_replay_shuffle",
    "run_bounded",
    "stage_time_ordered",
]

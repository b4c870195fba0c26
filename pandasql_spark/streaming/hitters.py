"""Streaming heavy hitters — hash-sharded Misra-Gries state over an
unbounded stream, via ``applyInPandasWithState``.

The batch operator (operators/freq.py) does candidates-then-verify
with per-PARTITION MG summaries; a live stream needs the same answer
("which tokens/URLs/hosts are frequent so far?") without a second
pass over data that is gone. The streaming shape shards the item
domain by hash — ``shard = pmod(xxhash64(item), S)`` — so every
occurrence of an item lands in ONE shard, whose keyed state is a
single MG summary of ``capacity`` counters plus the shard's row
count. State is S × capacity counters TOTAL, independent of the
distinct-item count (the whole point: n-gram/URL domains reach 10¹⁰+
distinct values, and per-key counting state would grow with them).

Recall guarantee (why sharding is sound): an item with global count
c ≥ t·n has all c occurrences inside its shard of n_s ≤ n rows; MG
keeps any item with count > n_s/(capacity+1), and with
capacity ≥ ⌈1/t⌉ that bound is < t·n ≤ c for ANY shard balance —
imbalance only ever lowers a shard's n_s. So the union of shard
summaries is a superset of every global heavy hitter, exactly the
batch operator's candidate contract (Agarwal et al., "Mergeable
Summaries", PODS '12 — same decrement rule, same fold-by-chunks
algebra as the batch kernel, so a replay is the batch kernel with
micro-batch chunking).

MG summaries are not canonical (the candidate SET depends on chunk
boundaries), so the replay test asserts what the contract promises:
exact-verified counts of the streamed candidates equal the naive
groupBy ground truth at the threshold — the q62 oracle pattern.

Emission: update mode, one (shard, items, n_shard) row per touched
shard per micro-batch; the sink's final row per shard is the current
summary (the windowed-KMV consumption contract). Items travel as
strings (tokens/URLs/hosts — the heavy-hitter domains); cast
upstream for other types.

Oracle status: replay-differential pytest (test_streaming_hitters.py)
— the cap_tokens_per_group precedent: born pytest-gated, fold into
q62's oracle when its host returns (r15 queue, SCALING.md).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("n_shard", T.LongType()),
    ]
)


def mg_stream_candidates(
    events: DataFrame,
    item_col: str,
    capacity: int,
    num_shards: int = 16,
) -> DataFrame:
    """(shard, items, n_shard): per-shard Misra-Gries candidate
    summaries over the stream so far. NULL items are ignored (not
    countable — the batch kernel's convention)."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    hashed = events.filter(F.col(item_col).isNotNull()).select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(num_shards)).alias("shard"),
        F.col(item_col).cast("string").alias("item"),
    )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            items, counts, n = state.get
            counters = pd.Series(list(counts), index=list(items), dtype="int64")
        else:
            counters, n = pd.Series(dtype="int64"), 0
        for pdf in pdfs:
            n += len(pdf)
            vc = pdf["item"].value_counts()
            counters = (
                vc.astype("int64")
                if counters.empty
                else counters.add(vc, fill_value=0).astype("int64")
            )
            if len(counters) > capacity:
                # mergeable-summaries decrement — identical to the
                # batch kernel (freq.py), so a replay IS the batch
                # fold with micro-batch chunk boundaries
                cut = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters[counters > cut] - cut
        state.update(
            (
                [str(i) for i in counters.index],
                [int(c) for c in counters.values],
                int(n),
            )
        )
        yield pd.DataFrame(
            {
                "shard": [key[0]],
                "items": [[str(i) for i in counters.index]],
                "n_shard": [int(n)],
            }
        )

    return hashed.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType="items array<string>, counts array<long>, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def verify_heavy_hitters(
    df: DataFrame,
    candidates: DataFrame,
    item_col: str,
    threshold: float,
    total_count: int | None = None,
) -> DataFrame:
    """Exact (item, cnt) over ``df`` for streamed candidates clearing
    ``ceil(threshold * n)`` — the batch verify pass a bounded replay
    (or a nightly reconciliation over the landed data) runs against
    the stream's candidate set. ``candidates`` is the final
    (shard, items, n_shard) frame; the join is a broadcast semi-join,
    so the corpus shuffles only candidate rows (the freq.py shape).

    ``total_count`` (optional) is the non-NULL item count n. When the
    candidates came from `mg_stream_candidates`, pass
    ``Σ n_shard`` over the final summaries — the state already carries
    the exact per-shard row counts (NULLs were filtered before
    sharding), so deriving n from the shard states saves a FULL corpus
    count pass (one of the verify's two scans at 100 TB). Left None,
    the verify counts ``df`` itself — the standalone/reconciliation
    shape."""
    from ..operators.freq import hh_min_count

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    n = (
        int(total_count)
        if total_count is not None
        else df.filter(F.col(item_col).isNotNull()).count()
    )
    floor = hh_min_count(threshold, n)
    cand = candidates.select(
        F.explode("items").alias("__cand")
    ).dropDuplicates()
    return (
        df.filter(F.col(item_col).isNotNull())
        .join(
            F.broadcast(cand),
            F.col(item_col).cast("string") == F.col("__cand"),
            "left_semi",
        )
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(floor))
    )


def replay_mg_candidates(
    spark,
    docs_path: str,
    text_col: str = "text",
    capacity: int = 100,
    num_shards: int = 16,
    n_batches: int = 3,
    query_name: str = "mg_hitters_replay",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run the sharded-MG candidate pass through the REAL streaming
    engine over a bounded id-ordered replay of a documents table:
    stage ``n_batches`` chunk files (`stage_time_ordered`), stream
    them one per micro-batch so the per-shard summaries genuinely fold
    ACROSS batch boundaries, tokenize inside the stream, and return the
    FINAL (shard, items, n_shard) summary per shard — selected by max
    n_shard, which strictly increases per emission (a shard only emits
    when it received rows). The staging dir is removed once the replay
    ends (the memory sink holds the rows)."""
    from pyspark.sql import Window

    from ..functions.text import tokens
    from ..session import scratch_dir
    from .events import replay_to_memory, stage_time_ordered

    docs = spark.read.parquet(docs_path).select(id_col, text_col)
    stage = scratch_dir("hhchunks_")
    stream = stage_time_ordered(docs, n_batches, [id_col], stage)
    # canonical tokenizer — the same functions.text.tokens the batch
    # stage (freq.heavy_hitter_tokens) and the q62 oracle use; a
    # tokenizer change must move all three together (the r17
    # split-parity contract)
    toks = stream.select(F.explode(tokens(text_col)).alias("token"))
    sink = replay_to_memory(
        spark,
        mg_stream_candidates(toks, "token", capacity, num_shards),
        query_name,
        "update",
        release=[stage],
    )
    w = Window.partitionBy("shard").orderBy(F.col("n_shard").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

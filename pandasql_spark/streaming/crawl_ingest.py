"""Streaming crawl → training-corpus ingestion — the live twin of
operators/crawl.crawl_to_corpus (q94). A crawl does not arrive as a
finished corpus: pages stream in, per-host budgets must be enforced at
the door, repeat fetches of the same canonical URL must be dropped
against EVERYTHING already ingested, and survivors must land in a sink
a retry can never duplicate.

Pipeline (each stage backed by its own gated operator):

1. enrich    — stateless ``host`` projection (functions/url.url_host)
2. admission — ``admit_per_key_stream`` keyed by host
   (streaming/admission.py, q97): at most ``host_cap`` pages per host
   over the stream's lifetime, ONE counter per host of engine state
3. extract   — ``extract_crawl_columns`` (operators/crawl.py): the
   SAME stateless projection the batch pipeline runs, by construction
4. dedup     — incremental exact URL dedup inside ``foreachBatch``
   against a persisted url_norm store (the q63 store recipe: history
   filtered to ``batch_id < current``, so a replayed batch neither
   self-matches nor double-writes)
5. quality   — min-token gate on the extracted text
6. sink      — survivors append as parquet ``partitionBy(batch_id)``
   under dynamic partition overwrite (idempotent-foreachBatch recipe,
   same as streaming/incremental.py)

Determinism: with monotone ingestion ids (arrival order = id order,
the practical crawl contract and how the replay harness stages files),
the final corpus equals the BATCH closed form — first ``host_cap``
docs per host by id, then min-id per canonical URL, then the token
gate — which is exactly what the q99 oracle recomputes in SQL.

State at 100 TB: admission is one long per host (bounded by the
host universe); the URL store grows one short string per admitted page
— disk-resident parquet joined per batch, never executor memory; at
production scale it would be a Delta/Iceberg table bucketed by
url_norm, same join, same idempotency contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..functions.url import url_host
from ..operators.crawl import extract_crawl_columns
from ..session import scratch_dir
from .admission import admit_per_key_stream
from .events import run_bounded, stage_time_ordered
from .incremental import _read_or_empty

#: extract_crawl_columns' output (the corpus sink's data columns)
CORPUS_SCHEMA = (
    "doc_id long, url_norm string, host string, title string, "
    "text string, n_tokens long"
)


def process_crawl_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    corpus_dir: str,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
    min_tokens: int = 1,
) -> None:
    """One micro-batch: extract → URL-dedup (within batch by min id,
    then against strictly earlier batches) → token gate → idempotent
    append. Exposed separately so tests can drive replay/idempotency
    without a streaming query."""
    spark = batch.sparkSession
    # Persist the extracted frame: this function runs TWO actions (the
    # URL-store write and the corpus write), and a foreachBatch frame is
    # lazily re-evaluated per action — without the cache each write
    # re-read the staged micro-batch, re-ran the admission stateful op
    # against the state store AND re-ran the HTML extraction (guide §6:
    # one logical pass was executing twice per micro-batch; the
    # incremental.py dedup sink has persisted its batch this way since
    # r13). The two writes run sequentially, so a lazy persist fills on
    # the first action — no concurrent-materialization race (the r15
    # class needs racing consumers). Values unchanged; unpersisted in
    # the finally below.
    extracted = extract_crawl_columns(batch, html_col, url_col, id_col).persist()

    w = Window.partitionBy("url_norm").orderBy(F.col(id_col).asc())
    batch_first = (
        extracted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # history = strictly earlier batches: a RETRY of this batch_id must
    # not see its own previous write (it would drop the whole batch),
    # and partition pruning keeps the read off the partition the retry
    # overwrites (read-then-overwrite race) — the incremental.py recipe
    hist = _read_or_empty(
        spark, os.path.join(store_dir, "urls"), "url_norm string"
    ).filter(F.col("batch_id") < F.lit(batch_id))
    fresh = batch_first.join(
        hist.select("url_norm").distinct(), "url_norm", "anti"
    )
    survivors = fresh.filter(F.col("n_tokens") >= min_tokens)

    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # ALL the batch's canonical URLs enter the store — also the
        # quality-gated-out ones: dedup keeps the first FETCH per URL,
        # quality judges its text (the crawl_to_corpus contract), so a
        # thin first fetch must still shadow later refetches
        extracted.select("url_norm").distinct().withColumn(
            "batch_id", F.lit(batch_id)
        ).write.partitionBy("batch_id").mode("overwrite").parquet(
            os.path.join(store_dir, "urls")
        )
        survivors.withColumn("batch_id", F.lit(batch_id)).write.partitionBy(
            "batch_id"
        ).mode("overwrite").parquet(corpus_dir)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        extracted.unpersist()


def crawl_ingest_stream(
    crawl_stream: DataFrame,
    store_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    *,
    host_cap: int,
    min_tokens: int = 1,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataStreamWriter:
    """Build the streaming ingest and return its configured
    DataStreamWriter, unstarted: the caller picks the trigger and
    starts it (`run_bounded` for a bounded replay).
    ``crawl_stream`` must carry (id_col, url_col, html_col)."""
    enriched = crawl_stream.withColumn("host", url_host(url_col))
    admitted = admit_per_key_stream(
        enriched, "host", host_cap, order_cols=(id_col,)
    ).drop("host")

    def _process(batch: DataFrame, batch_id: int) -> None:
        process_crawl_batch(
            batch,
            batch_id,
            store_dir,
            corpus_dir,
            html_col=html_col,
            url_col=url_col,
            id_col=id_col,
            min_tokens=min_tokens,
        )

    # append, matching admit_per_key_stream's applyInPandasWithState
    # contract — Spark rejects that operator under Update output mode
    return (
        admitted.writeStream.foreachBatch(_process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )


def replay_crawl_ingest(
    spark: SparkSession,
    crawl_df: DataFrame,
    n_batches: int = 3,
    *,
    host_cap: int,
    min_tokens: int = 1,
) -> DataFrame:
    """Drive the ingest through the REAL streaming engine: stage the
    bounded crawl frame (doc_id, url, html) as ``n_batches``
    doc_id-ordered parquet files (``maxFilesPerTrigger=1`` → one
    micro-batch each, arrival order = id order), run to completion,
    return the corpus — which must equal the batch closed form the q99
    oracle recomputes. Stage, store and checkpoint go when the replay
    ends; the corpus dir, which the returned frame reads, at interpreter
    exit."""
    n_rows = crawl_df.count()
    if n_rows < n_batches:
        raise ValueError(
            f"cannot stage {n_batches} non-empty micro-batches from "
            f"{n_rows} rows"
        )
    work = scratch_dir("crawl_ingest_")
    stage, store, ckpt, corpus = (
        os.path.join(work, d) for d in ("stage", "store", "ckpt", "corpus")
    )
    # ONE chunk-partitioned write (whatever rendered the crawl frame
    # runs once — no persist, no per-chunk filtered jobs)
    stream = stage_time_ordered(
        crawl_df.select("doc_id", "url", "html"), n_batches, ["doc_id"], stage
    )
    run_bounded(
        spark,
        crawl_ingest_stream(
            stream, store, corpus, ckpt, host_cap=host_cap, min_tokens=min_tokens
        ),
        release=(stage, store, ckpt),
    )
    # explicit schema: a fully-filtered crawl (every page capped out,
    # deduped, or under the token gate) leaves a corpus dir with zero
    # part files, which schema INFERENCE rejects (UNABLE_TO_INFER_SCHEMA
    # — found by the SOAK property run) while an empty corpus is a
    # legitimate outcome. With no partition dirs there is also no
    # batch_id column, so the drop must tolerate its absence (it does —
    # drop of a missing column is a no-op).
    return spark.read.schema(CORPUS_SCHEMA).parquet(corpus).drop("batch_id")

"""Incremental (streaming) near-duplicate dedup against a persisted
band-bucket store.

`operators/dedup.dedup_corpus` is the batch/backfill pass; this module
is its streaming continuation for a corpus that keeps arriving. The
store is two append-only parquet tables under ``store_dir``:

- ``sigs``  — (id, signature array<long>, batch_id)
- ``bands`` — (id, band_idx, band_hash, batch_id), the SAME layout
  `operators/dedup.band_table` produces, so batch and stream bucket
  identically by construction.

Per micro-batch (`foreachBatch`):

1. signatures + band table for the new docs — one `mapInPandas` pass,
   no shuffle;
2. ONE candidate join: the batch's bands against the union of history
   and batch bands, keeping pairs where the other id is smaller — new
   docs compare only against same-bucket earlier docs, never all of
   history (optional ``max_bucket_size`` prunes degenerate buckets by
   their size over history+batch so far);
3. candidates verify with `signature_est_jaccard` ≥ threshold; a doc
   is dropped iff it near-matches ANY earlier doc (earlier batch, or
   smaller id within its own batch);
4. survivors append to ``survivors_dir``; ALL batch docs' sigs+bands
   append to the store.

Appending every doc (not just survivors) to the store makes the
survivor set ORDER-INDEPENDENT and equal to the batch relation: doc x
is dropped iff ∃ y with y.id < x.id and est_jaccard(x, y) ≥ threshold —
exactly the `minhash_neardup_pairs` id_b set, assuming ids arrive in
nondecreasing batches (ingestion ids are monotone in practice). The q63
gate checks this equivalence end-to-end against a DuckDB oracle.

Exactly-once: every write is parquet `partitionBy(batch_id)` under
DYNAMIC partition overwrite, so a replayed micro-batch (failure before
the checkpoint commit) overwrites its own partition instead of
duplicating rows — the standard idempotent-foreachBatch recipe. At
production scale the store would be a Delta/Iceberg table bucketed by
band_hash; the parquet layout keeps the same join and the same
idempotency contract.

State growth: the store holds num_bands longs + one signature per doc
ever seen (~0.6 KB/doc at 64 hashes) — linear in corpus size, stored on
disk, not in executor memory; the per-batch join reads only matching
buckets once the store is bucketed/partition-pruned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from pandasql_spark.functions.text import let_bound, tokens
from pandasql_spark.operators.dedup import (
    band_table,
    merged_dup_intervals,
    minhash_signatures,
    signature_est_jaccard,
    window_fps,
)
from pandasql_spark.session import scratch_dir

from .events import run_bounded, stage_time_ordered

# Fingerprint-method VERSIONS: the r13 fold-order fix (dedup.py — the
# perturbing literal now hashes first) changed every xxhash128 value,
# so a store persisted before it silently loses ALL history on upgrade
# (no fp ever matches again; every duplicate resurfaces). The store
# carries a `_FP_METHOD` marker naming method+version; a mismatch
# raises instead of silently degrading (ADVICE r13). xxhash (64-bit)
# values never changed, so legacy marker-less xxhash stores adopt the
# marker in place.
_FP_METHOD_VERSION = {"xxhash": "xxhash", "xxhash128": "xxhash128-v2"}


def _check_store_fp_method(store_dir: str, fingerprint: str) -> None:
    """Enforce the store's fingerprint method/version marker; adopt it
    for new (or legacy-compatible) stores. Local filesystems only —
    on a remote store (hdfs://, s3a://) the marker is skipped and the
    version contract is the operator docstring's (use a table format
    with schema/properties there)."""
    local = store_dir
    if local.startswith("file:"):
        from urllib.parse import urlparse

        local = urlparse(local).path or local[len("file:"):]
    elif "://" in local:
        return
    marker = os.path.join(local, "_FP_METHOD")
    want = _FP_METHOD_VERSION[fingerprint]
    if os.path.exists(marker):
        with open(marker) as fh:
            have = fh.read().strip()
        if have != want:
            raise ValueError(
                f"substring-dedup store {store_dir!r} was written with "
                f"fingerprint method {have!r} but this run uses {want!r}: "
                "fingerprints would never match and every historical "
                "duplicate would silently resurface. Re-ingest into a "
                "fresh store_dir, or pass the store's original "
                "fingerprint."
            )
        return
    if fingerprint == "xxhash128" and os.path.isdir(
        os.path.join(local, "winfps")
    ):
        raise ValueError(
            f"substring-dedup store {store_dir!r} has xxhash128 history "
            "but no _FP_METHOD marker — it predates the xxhash128 "
            "fold-order fix and its fingerprint values are incompatible "
            "with this version (history would be silently lost). "
            "Re-ingest into a fresh store_dir."
        )
    os.makedirs(local, exist_ok=True)
    with open(marker + ".tmp", "w") as fh:
        fh.write(want)
    os.replace(marker + ".tmp", marker)


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a store table, or an empty frame before the first batch.
    ``schema`` covers the data columns; the ``batch_id`` partition
    column is appended by partition discovery on the real read, so the
    empty frame appends it too."""
    if os.path.isdir(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema=schema + ", batch_id int")


def process_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    survivors_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    base_hash: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> None:
    """One micro-batch of the incremental pipeline (exposed separately
    so tests can drive idempotency/replay without a streaming query).

    Candidates come from ONE join: the batch's band rows against the
    union of history and batch band rows, keeping pairs where the other
    doc's id is smaller — with monotone ingestion ids this is exactly
    the batch pair relation's orientation, within-batch and
    cross-batch alike.

    ``max_bucket_size=None`` (default) matches the q63 oracle exactly:
    the survivor set equals the uncapped `minhash_neardup_pairs`
    relation. Setting a cap prunes degenerate buckets by their size
    OVER HISTORY+BATCH SO FAR — the production guard against
    boilerplate buckets going quadratic — but makes decisions online:
    a bucket that crosses the cap mid-stream stops generating
    candidates from then on, whereas a batch run over the final corpus
    would have pruned it throughout, so capped results can differ from
    the batch relation on exactly those buckets (their content is
    exact-dup territory; run `exact_dedup` upstream as `dedup_corpus`
    does).

    Everything — reads, conf, writes — goes through
    ``batch.sparkSession``, NOT a captured outer session: inside
    `foreachBatch` Spark hands the closure a CLONED session with an
    isolated conf, so setting partitionOverwriteMode on the outer
    session would silently leave the clone's writes in static mode and
    each batch would wipe the whole store (observed before this fix)."""
    spark = batch.sparkSession
    # id type follows the input column (same contract as the dedup
    # kernels) — a string-id stream must round-trip the store too
    id_type = batch.schema[id_col].dataType.simpleString()
    sig_schema = f"id {id_type}, signature array<long>"
    band_schema = f"id {id_type}, band_idx int, band_hash long"

    batch = batch.dropDuplicates([id_col]).persist()
    sigs = minhash_signatures(
        batch, text_col, id_col, num_hashes, shingle_k, seed, base_hash
    ).persist()
    bands = band_table(sigs, num_bands, num_hashes)

    # history = strictly EARLIER batches. The filter matters twice on a
    # RETRY of this batch_id (failure after the store write, before the
    # checkpoint commit): (a) the store already holds this batch's rows,
    # and unfiltered history would make every doc near-match itself
    # (est=1.0) and drop the whole batch; (b) partition pruning keeps
    # the lazy history read off the very partition the retry is about
    # to overwrite (read-then-overwrite FileNotFound race).
    hist_sigs = _read_or_empty(spark, os.path.join(store_dir, "sigs"), sig_schema).filter(
        F.col("batch_id") < F.lit(batch_id)
    )
    hist_bands = _read_or_empty(
        spark, os.path.join(store_dir, "bands"), band_schema
    ).filter(F.col("batch_id") < F.lit(batch_id))

    # one candidate join: batch bands vs (history ∪ batch) bands; the
    # smaller id wins, which with monotone ids covers both the
    # cross-batch case (history is older) and the within-batch case
    all_bands = bands.unionByName(
        hist_bands.select("id", "band_idx", "band_hash")
    )
    new_side = bands
    if max_bucket_size is not None:
        sizes = all_bands.groupBy("band_idx", "band_hash").agg(
            F.count(F.lit(1)).alias("sz")
        )
        ok = sizes.filter(F.col("sz") <= max_bucket_size).select(
            "band_idx", "band_hash"
        )
        all_bands = all_bands.join(ok, ["band_idx", "band_hash"])
        new_side = new_side.join(ok, ["band_idx", "band_hash"])
    cand = (
        new_side.alias("n")
        .join(
            all_bands.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_hash") == F.col("o.band_hash"))
            & (F.col("o.id") < F.col("n.id")),
        )
        .select(F.col("n.id").alias("id"), F.col("o.id").alias("other_id"))
        .distinct()
    )
    all_sigs = sigs.unionByName(hist_sigs.select("id", "signature"))
    dropped = (
        cand.join(
            sigs.select("id", F.col("signature").alias("sig_a")), "id"
        )
        .join(
            all_sigs.select(
                F.col("id").alias("other_id"), F.col("signature").alias("sig_b")
            ),
            "other_id",
        )
        .filter(signature_est_jaccard("sig_a", "sig_b") >= threshold)
        .select("id")
        .distinct()
    )
    survivors = batch.join(
        dropped.withColumnRenamed("id", id_col), id_col, "anti"
    )

    # idempotent writes: replaying this batch_id overwrites its own
    # partition (dynamic mode), never appends duplicates
    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for frame, sub in (
            (sigs, "sigs"),
            (bands, "bands"),
        ):
            frame.withColumn("batch_id", F.lit(batch_id)).write.partitionBy(
                "batch_id"
            ).mode("overwrite").parquet(os.path.join(store_dir, sub))
        survivors.withColumn("batch_id", F.lit(batch_id)).write.partitionBy(
            "batch_id"
        ).mode("overwrite").parquet(survivors_dir)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        sigs.unpersist()
        batch.unpersist()


def incremental_neardup_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    survivors_dir: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    base_hash: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataStreamWriter:
    """Build the incremental near-dup stream and return its configured
    DataStreamWriter, unstarted: the caller picks the trigger and
    starts it (`run_bounded` for a bounded replay).
    ``docs_stream`` must carry (id_col, text_col)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        process_batch(
            batch,
            batch_id,
            store_dir,
            survivors_dir,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            num_hashes=num_hashes,
            num_bands=num_bands,
            shingle_k=shingle_k,
            seed=seed,
            base_hash=base_hash,
            max_bucket_size=max_bucket_size,
        )

    return docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )


def replay_incremental_dedup(
    spark: SparkSession,
    documents_path: str,
    n_batches: int = 3,
    threshold: float = 0.5,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Drive the incremental pipeline through the REAL streaming engine:
    stage ``documents_path`` as ``n_batches`` doc_id-ordered parquet
    files (``maxFilesPerTrigger=1`` → one micro-batch each, arrival
    order = id order), run to completion, and return the survivor set —
    which must equal the batch relation's survivors (docs that are not
    the id_b of any `minhash_neardup_pairs` pair). Gate q63's oracle
    recomputes that relation independently in DuckDB. Stage, store and
    checkpoint go when the replay ends; the survivors dir, which the
    returned frame reads, at interpreter exit."""
    work = scratch_dir("inc_dedup_")
    stage, store, ckpt, survivors = (
        os.path.join(work, d) for d in ("stage", "store", "ckpt", "survivors")
    )
    docs = spark.read.parquet(documents_path).select("doc_id", "text")
    stream = stage_time_ordered(docs, n_batches, ["doc_id"], stage)
    run_bounded(
        spark,
        incremental_neardup_dedup(
            spark, stream, store, survivors, ckpt,
            threshold=threshold, base_hash=base_hash,
        ),
        release=(stage, store, ckpt),
    )
    # explicit schema (a subset projection is valid against parquet):
    # an all-duplicates corpus leaves zero part files, which schema
    # inference rejects while an empty survivor set is legitimate
    return spark.read.schema("doc_id long").parquet(survivors).select("doc_id")


# ------------------------------------------------------- substring spans


def process_substring_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    survivors_dir: str,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str = "xxhash",
) -> None:
    """One micro-batch of incremental SUBSTRING dedup (the streaming
    continuation of `operators/dedup.substring_dedup`, keep="first"):
    every k-token window of the batch that was already seen in an
    EARLIER batch — or earlier within this batch, by (id, pos) — is a
    duplicate span; the union of duplicate spans is spliced out of each
    document and the spliced survivors land under ``survivors_dir``.

    Store: ONE append-only parquet table ``winfps`` of (fp, batch_id) —
    the batch's DISTINCT window fingerprints (``fingerprint="xxhash"``
    default: 8-byte xxhash64; ``"xxhash128"``: the 16-byte two-seed
    struct key — see the collision-budget note on
    `operators/dedup.substring_dedup`; membership is all that
    canonical-first semantics needs from history; at production scale:
    a Delta/Iceberg table bucketed by fp). With monotone ingestion ids
    the output equals the BATCH operator over the full corpus exactly:
    a window's first (id, pos) occurrence lives in the earliest batch
    that contains it, where batch-local canonical selection reproduces
    the global choice — differential-tested in
    test_incremental_dedup.py.

    State growth / retention: the store grows by the batch's distinct
    window count forever — ~8 bytes per corpus window, linear in total
    tokens ingested, ON DISK (the per-batch join reads it back, it
    never lives in executor memory). That is the smallest state exact
    canonical-first semantics permits: dropping any fingerprint
    re-admits the next occurrence of that span. Bounded-state variants
    are POLICY changes, not optimizations — e.g. TTL-compact the store
    (dedup only against the trailing N batches; older duplicates
    resurface) or periodically rewrite the partitioned store into one
    compacted, fp-bucketed table (same contents, fewer files — at
    production scale do this with the same dynamic-overwrite recipe).
    Callers who want a fresh horizon pass a new ``store_dir``.

    Idempotency mirrors `process_batch`: history reads filter
    ``batch_id < current`` (a retry must not see its own previous
    write) and every write is a dynamic partition overwrite of the
    batch's own partition."""
    if fingerprint not in ("xxhash", "xxhash128"):
        raise ValueError(
            "store fingerprints must be JVM-hash keys: 'xxhash' or "
            f"'xxhash128', got {fingerprint!r}"
        )
    _check_store_fp_method(store_dir, fingerprint)
    fp_store_type = (
        "long" if fingerprint == "xxhash" else "struct<h1:bigint,h2:bigint>"
    )
    spark = batch.sparkSession
    batch = batch.dropDuplicates([id_col]).persist()

    wins = batch.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_toks")
    ).select(
        "id", F.posexplode(window_fps("_toks", k, fingerprint)).alias("pos", "fp")
    )

    hist = _read_or_empty(
        spark, os.path.join(store_dir, "winfps"), f"fp {fp_store_type}"
    ).filter(F.col("batch_id") < F.lit(batch_id))

    # duplicate occurrences: (a) fp seen in an earlier batch — EVERY
    # batch occurrence is non-canonical; (b) batch-local non-canonical
    # (same agg+join shape as the batch operator, hot-fp safe)
    dup_hist = wins.join(hist.select("fp"), "fp", "semi").select("id", "pos")
    firsts = wins.groupBy("fp").agg(F.min(F.struct("id", "pos")).alias("first"))
    dup_local = (
        wins.join(firsts, "fp")
        .filter(F.struct("id", "pos") != F.col("first"))
        .select("id", "pos")
    )
    dups = dup_hist.unionByName(dup_local).distinct()

    dup_pos = dups.groupBy("id").agg(
        F.sort_array(F.collect_list("pos")).alias("_dup_pos"),
        F.count(F.lit(1)).cast("long").alias("sub_dup_windows"),
    )
    joined = (
        batch.select(F.col(id_col).alias("id"), text_col)
        .join(dup_pos, "id", "left")
        .withColumn(
            "_dup_pos", F.coalesce("_dup_pos", F.array().cast("array<int>"))
        )
        .withColumn("_toks", tokens(text_col))
    )
    # let_bound is LOAD-BEARING (see operators/dedup.substring_dedup):
    # without it projection collapse inlines the interval fold into the
    # filter lambda and re-runs it per token
    kept = let_bound(
        merged_dup_intervals("_dup_pos", k),
        lambda ivs: F.filter(
            "_toks",
            lambda x, i: ~F.exists(
                ivs, lambda iv: (i >= iv["s"]) & (i < iv["e"])
            ),
        ),
    )
    survivors = joined.select(
        F.col("id").alias(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.coalesce("sub_dup_windows", F.lit(0))
        .cast("long")
        .alias("sub_dup_windows"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("sub_dup_tokens"),
    )

    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        wins.select("fp").distinct().withColumn(
            "batch_id", F.lit(batch_id)
        ).write.partitionBy("batch_id").mode("overwrite").parquet(
            os.path.join(store_dir, "winfps")
        )
        survivors.withColumn("batch_id", F.lit(batch_id)).write.partitionBy(
            "batch_id"
        ).mode("overwrite").parquet(survivors_dir)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        batch.unpersist()


def compact_substring_store(
    spark: SparkSession,
    store_dir: str,
    min_batch_id: int | None = None,
) -> int:
    """Rewrite the ``winfps`` store's per-batch partitions into ONE
    distinct-fp partition; returns the retained fingerprint count.

    The store grows one partition per micro-batch forever (the
    process_substring_batch retention note); this folds all committed
    partitions into a single partition keyed by the HIGHEST existing
    batch_id, so later batches (strictly larger ids) keep reading it
    through their ``batch_id < current`` history filter, and the
    duplicate set is unchanged — membership is the only thing history
    provides, and distinct-union preserves it exactly.

    ``min_batch_id`` is the optional TTL POLICY: fingerprints LAST
    RECORDED before that batch are dropped (process_substring_batch
    writes each batch's full distinct window-fp set, not just the new
    ones, so any fp seen by a batch at or past the horizon survives —
    ADVICE r12 wording fix), so only duplicates of text whose last
    sighting predates the horizon RESURFACE once (then re-enter the
    store). That is a semantics change by explicit request, never a
    default.

    LOCAL FILESYSTEM ONLY: the store is manipulated with os/shutil,
    so a non-local ``store_dir`` (hdfs://, s3a://, …) raises instead
    of silently no-opping (ADVICE r12). At cluster scale, run the
    same fold as a transactional REPLACE on a Delta/Iceberg table.

    Run this BETWEEN stream runs (the availableNow pattern), never
    concurrently with one: the rewrite is not atomic on a plain
    filesystem (staging write + directory swap below — a Delta/Iceberg
    store would make this one transactional REPLACE), but it IS
    crash-detectable and self-healing: a ``_COMPACTING`` marker
    (holding the target batch_id) brackets the swap, and the staging
    dir is fully written + counted before the marker ever appears —
    so a crash mid-swap is finished on the next call, never silently
    half-applied. A retry of an already-compacted batch_id would also
    see its own fps as history and drop everything — compaction
    assumes the checkpoint has committed past every compacted batch,
    which is exactly the between-runs condition."""
    import shutil

    if store_dir.startswith("file:"):
        # normalize to a plain local path: every os/shutil call below
        # treats store_dir as one, and a raw file:// URI would make
        # isdir() False → a silent no-op, the exact failure the
        # non-local guard exists to prevent (ADVICE r13). Spark reads
        # the plain path identically.
        from urllib.parse import urlparse

        store_dir = urlparse(store_dir).path or store_dir[len("file:"):]
    elif "://" in store_dir:
        raise ValueError(
            "compact_substring_store manipulates the store with local "
            f"os/shutil calls; non-local store_dir {store_dir!r} is not "
            "supported — use a transactional table format's REPLACE "
            "for remote stores"
        )
    path = os.path.join(store_dir, "winfps")
    tmp = path + "_compact_tmp"
    marker = os.path.join(store_dir, "_COMPACTING")

    def _finish_swap(tgt: int) -> None:
        # staging dir is complete (written before the marker); finish:
        # drop remaining per-batch partitions, move staging into place.
        for d in os.listdir(path):
            if d.startswith("batch_id="):
                shutil.rmtree(os.path.join(path, d))
        os.rename(tmp, os.path.join(path, f"batch_id={tgt}"))
        # drop the staging _SUCCESS marker; partition dirs hold data only
        succ = os.path.join(path, f"batch_id={tgt}", "_SUCCESS")
        if os.path.exists(succ):
            os.remove(succ)
        os.remove(marker)

    if os.path.exists(marker):
        # previous compaction crashed mid-swap — finish or clear it.
        # The marker is written atomically (temp + rename below), so a
        # parse failure means a FOREIGN/corrupt file, not a mid-write
        # crash; and since partitions are only deleted after a valid
        # marker exists, an unparsable marker implies the store is
        # intact — clear the debris and start fresh rather than wedge
        # every later call (ADVICE r13).
        try:
            with open(marker) as fh:
                prev_target = int(fh.read().strip())
        except ValueError:
            shutil.rmtree(tmp, ignore_errors=True)
            os.remove(marker)
        else:
            if os.path.isdir(tmp):
                _finish_swap(prev_target)
            else:
                os.remove(marker)  # swap had completed; only cleanup died
    if not os.path.isdir(path):
        return 0
    ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("batch_id=")
    )
    if not ids:
        return 0
    target = ids[-1]
    store = spark.read.parquet(path)
    if min_batch_id is not None:
        store = store.filter(F.col("batch_id") >= F.lit(min_batch_id))
    shutil.rmtree(tmp, ignore_errors=True)
    store.select("fp").distinct().write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    # atomic marker: a crash mid-write must never leave a partial file
    # that wedges recovery — write aside, fsync, rename into place
    with open(marker + ".tmp", "w") as fh:
        fh.write(str(target))
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(marker + ".tmp", marker)
    _finish_swap(target)
    return n


def incremental_substring_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    survivors_dir: str,
    checkpoint_dir: str,
    *,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str = "xxhash",
) -> DataStreamWriter:
    """Build the incremental substring-dedup stream and return its
    configured DataStreamWriter, unstarted (see
    `incremental_neardup_dedup`). ``docs_stream`` must carry
    (id_col, text_col)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        process_substring_batch(
            batch, batch_id, store_dir, survivors_dir,
            k=k, text_col=text_col, id_col=id_col, fingerprint=fingerprint,
        )

    return docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )


def replay_incremental_substring_dedup(
    spark: SparkSession,
    documents_path: str,
    n_batches: int = 3,
    k: int = 20,
) -> DataFrame:
    """Drive incremental substring dedup through the REAL streaming
    engine (id-ordered staged chunks, maxFilesPerTrigger=1) and return
    the spliced survivors — which must equal the batch
    `substring_dedup(keep="first")` over the full corpus."""
    work = scratch_dir("inc_subdedup_")
    stage, store, ckpt, survivors = (
        os.path.join(work, d) for d in ("stage", "store", "ckpt", "survivors")
    )
    docs = spark.read.parquet(documents_path).select("doc_id", "text")
    stream = stage_time_ordered(docs, n_batches, ["doc_id"], stage)
    run_bounded(
        spark,
        incremental_substring_dedup(spark, stream, store, survivors, ckpt, k=k),
        release=(stage, store, ckpt),
    )
    return spark.read.schema(
        "doc_id long, text string, n_tokens long, "
        "sub_dup_windows long, sub_dup_tokens long"
    ).parquet(survivors)

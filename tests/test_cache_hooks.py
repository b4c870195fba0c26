"""Cleanup hooks (operators/cache.py): operators that persist an
internal frame expose ``result.cleanup()`` to release it once the caller
has materialized the result."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pandasql_spark.operators.dedup import (
    dedup_corpus,
    jaccard_verified_neardup_pairs,
    minhash_neardup_pairs,
)
from pandasql_spark.operators.ranking import exact_ntile, with_global_row_number


def _ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": [
                "the quick brown fox jumps over the lazy dog " * 3,
                "the quick brown fox jumps over the lazy dog " * 3 + "tail",
                "entirely different content about spark catalyst plans",
                "entirely different content about spark catalyst plans too",
                "lorem ipsum dolor sit amet consectetur adipiscing elit",
                "lorem ipsum dolor sit amet consectetur adipiscing elit sed",
                "unrelated verse of text with its own vocabulary entirely",
                "a final standalone document with nothing shared at all",
            ],
        }
    )
    return spark.createDataFrame(pdf)


# Assertions track the SPECIFIC RDD ids each operator creates: the
# session is shared across test files, and Spark's ContextCleaner
# asynchronously unpersists other tests' garbage-collected frames, so
# global counts drift in both directions mid-test.


def test_minhash_pairs_cleanup_releases_cache(spark):
    base = _ids(spark)
    out = minhash_neardup_pairs(_docs(spark), threshold=0.3)
    out.count()
    mine = _ids(spark) - base
    assert mine
    out.cleanup(blocking=True)
    assert not (_ids(spark) & mine)


def test_dedup_corpus_cleanup_composes(spark):
    base = _ids(spark)
    out = dedup_corpus(_docs(spark), threshold=0.3)
    n = out.count()
    assert 0 < n <= 8
    out.cleanup(blocking=True)
    # every persist/checkpoint the pipeline created is gone: the
    # component loop released superseded rounds inline, cleanup() the rest
    assert not (_ids(spark) - base)


def test_ranking_cleanup(spark):
    base = _ids(spark)
    df = spark.range(100).withColumnRenamed("id", "v")
    ranked = with_global_row_number(df, ["v"], num_partitions=4)
    ranked.count()
    mine = _ids(spark) - base
    assert mine
    ranked.cleanup(blocking=True)
    assert not (_ids(spark) & mine)

    base = _ids(spark)
    tiles = exact_ntile(df, 4, ["v"], num_partitions=4)
    tiles.count()
    tiles.cleanup(blocking=True)
    assert not (_ids(spark) - base)


def test_jaccard_verified_cleanup(spark):
    base = _ids(spark)
    out = jaccard_verified_neardup_pairs(_docs(spark), threshold=0.3)
    out.count()
    out.cleanup(blocking=True)
    assert not (_ids(spark) - base)


def test_stage_ordered_chunks_releases_ntile_persist(spark, tmp_path):
    """ADVICE r10 item 1: after the staged write, stage_ordered_chunks
    must release exact_ntile's internal range-partitioned persist —
    the staging leaves NO new persisted RDDs behind."""
    from pandasql_spark.streaming.events import stage_ordered_chunks

    base = _ids(spark)
    df = spark.range(40).withColumnRenamed("id", "v")
    stage_ordered_chunks(df, 4, ["v"], str(tmp_path / "stage"))
    assert not (_ids(spark) - base)


def test_curation_barrier_cleanup(spark):
    """ADVICE r11 item 2: curate_corpus tracks every
    lazily-checkpointed barrier; result.cleanup() releases them all —
    repeated pipeline calls in one session no longer accumulate
    resident corpus copies."""
    from pandasql_spark.operators.curation import curate_corpus

    docs = _docs(spark).withColumn(
        "lang", (F.col("doc_id") % 2).cast("string")
    )
    base = _ids(spark)
    out = curate_corpus(
        docs,
        eval_df=docs.limit(1),
        min_tokens=1,
        min_logprob=-50.0,
        min_bigram_logprob=-50.0,
        min_quality_prob=0.0,
        ngram_n=30,  # nothing actually decontaminated; stages still run
        hashed=False,
    )
    out.count()
    mine = _ids(spark) - base
    assert mine, "barriers must be tracked persistent RDDs"
    out.cleanup(blocking=True)
    assert not (_ids(spark) & mine)


def test_pack_bpe_corpus_cleanup(spark):
    """pack_bpe_corpus releases BOTH the running-sum persist (via
    pack_chunks) and its own lazily-checkpointed encode barrier."""
    from pandasql_spark.operators.packing import pack_bpe_corpus

    base = _ids(spark)
    out = pack_bpe_corpus(_docs(spark), [("t", "h"), ("th", "e")], 16)
    out.count()
    mine = _ids(spark) - base
    assert mine
    out.cleanup(blocking=True)
    assert not (_ids(spark) & mine)


def test_session_cache_swap_and_dead_session_finalizer(spark):
    """swap_session_cache (queries/_shared.py): each swap unpersists
    the previous holder's frame, and a session GARBAGE-COLLECTED
    without stop() still releases its blocks through the registered
    weakref.finalize on the JAVA handle (VERDICT r12: the weak dict
    entry alone would vanish and orphan the blocks in the shared
    JVM's storage pool)."""
    import gc
    import threading
    import weakref

    from pandasql_spark.queries._shared import swap_session_cache

    cache = weakref.WeakKeyDictionary()
    lock = threading.Lock()

    def storage_count(s):
        return len(s.sparkContext._jsc.sc().getRDDStorageInfo())

    base = storage_count(spark)
    a = swap_session_cache(cache, lock, spark, spark.range(100))
    a.count()
    assert storage_count(spark) == base + 1
    # swap: previous frame unpersisted, new one resident
    b = swap_session_cache(cache, lock, spark, spark.range(200))
    b.count()
    assert storage_count(spark) == base + 1
    assert cache[spark].alive

    # dead-session path: a sibling session sharing the JVM, dropped
    # without stop() — the finalizer must release its blocks
    s2 = spark.newSession()
    c = swap_session_cache(cache, lock, s2, s2.range(300))
    c.count()
    assert storage_count(spark) == base + 2
    fin = cache[s2]
    del s2, c
    # pyspark's global RDD.toDF monkey-patch closure roots the MOST
    # RECENT session; a new session displaces it, letting s2 collect
    spark.newSession()
    gc.collect()
    assert not fin.alive, "finalizer must fire when the session is GC'd"
    assert storage_count(spark) == base + 1
    # cleanup the surviving entry for test hygiene
    cache[spark]()
    assert storage_count(spark) == base


def test_cleanup_propagates_blocking_through_composed_hooks(spark):
    """Entries are frames: a frame carrying its own cleanup receives the
    blocking flag, then every entry is unpersisted with it — a
    persisted entry is really released."""
    from pandasql_spark.operators.cache import attach_cleanup

    seen = []

    def spy(name, frame):
        orig = frame.unpersist

        def unpersist(blocking=False):
            seen.append((name, blocking))
            return orig(blocking=blocking)

        frame.unpersist = unpersist
        return frame

    hooked = spy("hooked", spark.range(1))
    hooked.cleanup = lambda blocking=False: seen.append(("own", blocking))
    cached = spy("cached", spark.range(7).persist())
    cached.count()
    assert cached.storageLevel.useMemory

    out = attach_cleanup(spark.range(1), hooked, cached)
    out.cleanup(blocking=True)
    assert seen == [("own", True), ("hooked", True), ("cached", True)]
    assert not cached.storageLevel.useMemory
    seen.clear()
    out.cleanup()
    assert seen == [("own", False), ("hooked", False), ("cached", False)]


def test_train_bpe_releases_its_barriers(spark):
    """The merge table is driver-side, so train_bpe's word-table
    barriers are dead on return: superseded rounds are released as the
    next barrier lands, the last one on return."""
    from pandasql_spark.operators.bpe import train_bpe

    base = _ids(spark)
    merges = train_bpe(_docs(spark), n_merges=10)
    assert len(merges) == 10
    assert not (_ids(spark) - base)


def test_train_quality_classifier_releases_features(spark):
    """The trained weights are driver-side, so the checkpointed feature
    frame is dead on return — on the raise path too."""
    import pytest as _pytest

    from pandasql_spark.operators.classifier import train_quality_classifier

    docs = _docs(spark).withColumn("label", F.col("doc_id") % 2)
    base = _ids(spark)
    w, _ = train_quality_classifier(docs, n_buckets=64, epochs=2)
    assert w.shape == (64,)
    assert not (_ids(spark) - base)

    with _pytest.raises(ValueError, match="empty"):
        train_quality_classifier(docs.limit(0), n_buckets=64, epochs=2)
    assert not (_ids(spark) - base)


def test_local_checkpoint_only_in_cache_module():
    """One lineage barrier: every localCheckpoint in the engine goes
    through operators/cache.py:barrier."""
    import pathlib

    import pandasql_spark

    root = pathlib.Path(pandasql_spark.__file__).parent
    hits = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "localCheckpoint(" in p.read_text()
    )
    assert hits == ["operators/cache.py"]

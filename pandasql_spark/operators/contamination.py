"""Benchmark-contamination detection: find training documents that
share word n-grams with an evaluation set.

The standard pretraining-hygiene check (n-gram overlap between train
and eval corpora, typically n≈13 on words): any training document
containing an n-gram that also appears in any eval document is flagged
and usually dropped before training, so benchmark numbers measure
generalization rather than memorization.

Plan shape — the eval side is SMALL by nature (benchmarks are
thousands of docs, the corpus is billions), which makes this a
broadcast problem, not a shuffle problem:

1. distinct eval n-grams (hashed to 8-byte xxhash64 by default — the
   join key is the dominant byte cost at corpus scale);
2. explode the training corpus's n-grams — one codegen'd projection,
   no shuffle;
3. broadcast-join eval n-grams onto the exploded stream; per-doc
   groupBy counts the hits (map-side partial agg; only flagged docs'
   rows shuffle).

The corpus is scanned once and never shuffled by n-gram. If the eval
n-gram set outgrows broadcast range (it should not — even 10k docs ×
1k n-grams ≈ 80 MB of hashes), drop the broadcast hint and let AQE
decide. ``hashed=False`` joins on the raw n-gram string instead —
engine-portable, which is what the q66 gate's DuckDB oracle uses.

Scale path beyond broadcast range — ``prefilter="bloom"``: build a
bloom filter over the eval n-gram hashes (built distributed, OR-merged
on the driver — ``m_bits/8`` bytes however large the eval set grows),
broadcast it, and drop non-member corpus grams BEFORE the confirm
join, so only bloom hits (true matches + the tuned false-positive
trickle) ever reach a join. Membership is an Arrow-batched pandas UDF
doing pure numpy bit-tests on JVM-computed xxhash64 keys — no per-row
Python, no portability requirement (the bloom path is a prefilter;
exactness comes from the confirm join either way). Spark's own
runtime bloom injection (InjectRuntimeFilter) covers the same idea
only when the application-side scan clears 10 GB and the creation
side carries a selective predicate — this operator's eval side
(explode → distinct aggregate) does not qualify, hence the explicit
variant.
"""

from __future__ import annotations

from typing import Iterator

import threading
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .repetition import word_ngrams


def _bloom_positions(h: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions from 64-bit keys via double hashing
    (pos_i = h_lo + i·h_hi mod m) — one JVM hash per gram feeds all k
    probes; everything here is vectorized numpy."""
    h = h.astype(np.int64).view(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    # odd stride: never 0, coprime with the power-of-two default m —
    # a zero/even h_hi would collapse all k probes onto few positions
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)


def build_eval_bloom(
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    m_bits: int = 1 << 23,
    k: int = 5,
) -> bytes:
    """Bloom bitmap (``m_bits/8`` bytes) over the eval set's n-gram
    xxhash64 keys: per-partition partial bitmaps built with
    ``mapInPandas``, OR-merged on the driver — the same partial/final
    shape as an aggregation, with a fixed-size partial."""
    if m_bits % 8 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")
    grams = eval_df.select(F.explode(word_ngrams(text_col, n)).alias("g")).select(
        F.xxhash64("g").alias("h")
    )

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bm = np.zeros(m_bits // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                pos = _bloom_positions(pdf["h"].to_numpy(), m_bits, k).ravel()
                # bitwise_or.at: duplicate byte indices within one batch
                # must all land (plain fancy-index |= drops repeats)
                np.bitwise_or.at(
                    bm, (pos >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
                )
        if any_rows:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    out = np.zeros(m_bits // 8, dtype=np.uint8)
    for row in grams.mapInPandas(_partial, "bm binary").collect():
        out |= np.frombuffer(row.bm, dtype=np.uint8)
    return out.tobytes()


# most recent bloom broadcast PER SparkContext: each
# bloom_member_column call unpersists its predecessor's executor
# copies, so repeated calls against one context hold at most one
# resident bitmap instead of accumulating broadcast blocks (ADVICE
# r9). unpersist (not destroy) is safe for an earlier member column
# still in use — executors lazily re-fetch from the driver on next
# task use. Keyed weakly by the owning SparkContext and guarded by a
# lock (ADVICE r10): concurrent or interleaved sessions no longer race
# on a shared slot and unpersist each other's live bitmap.
_PREV_BLOOM_BC: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_PREV_BLOOM_LOCK = threading.Lock()


def bloom_member_column(
    spark_context, bitmap: bytes, m_bits: int, k: int
):
    """Boolean pandas-UDF over an xxhash64 column: all-k-bits-set test
    against the (SparkContext-broadcast) bitmap, fully vectorized.

    The bitmap broadcast from the *previous* call on the SAME
    SparkContext is unpersisted here (bounded residency — see
    ``_PREV_BLOOM_BC``)."""
    # broadcast() serializes the full bitmap (potentially hundreds of
    # MB) — do it OUTSIDE the lock so concurrent sessions don't
    # serialize on one driver-wide mutex for the duration (ADVICE r11);
    # only the WeakKeyDictionary swap needs the lock. Swap in the new
    # bc first, then unpersist the popped predecessor (also outside).
    bc = spark_context.broadcast(np.frombuffer(bitmap, dtype=np.uint8))
    with _PREV_BLOOM_LOCK:
        prev = _PREV_BLOOM_BC.pop(spark_context, None)
        _PREV_BLOOM_BC[spark_context] = bc
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # owning context may already be stopped

    @F.pandas_udf("boolean")
    def _member(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        bm = bc.value
        for hs in it:
            if not len(hs):
                yield pd.Series([], dtype=bool)
                continue
            pos = _bloom_positions(hs.to_numpy(), m_bits, k)
            byte = bm[(pos >> np.uint64(3)).astype(np.int64)]
            bit = (byte >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
            yield pd.Series(bit.all(axis=1))

    return _member


def contaminated_docs(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = True,
    prefilter: str | None = None,
    bloom_bits: int = 1 << 23,
    bloom_k: int = 5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(id_col, n_hits, n_distinct_hits): training docs sharing at least
    one word ``n``-gram with ANY eval document. ``n_hits`` counts
    matching n-gram occurrences in the training doc; ``n_distinct_hits``
    counts distinct matching n-grams.

    ``prefilter="bloom"`` inserts the bloom membership test on the
    corpus gram stream before the confirm join (identical results —
    false positives die in the join, bloom filters have no false
    negatives). Pair with ``broadcast_eval=False`` when the eval gram
    set outgrows broadcast range: the confirm join then shuffles only
    the bloom hits, not the corpus. NOTE: the bloom path is EAGER at
    DataFrame-construction time — ``build_eval_bloom`` runs a Spark
    job over ``eval_df`` right here to materialize the bitmap (unlike
    every other path, which stays lazy until the caller acts). The
    eval set is the small side by contract, so the job is cheap, but
    construction is no longer free."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if prefilter not in (None, "bloom"):
        raise ValueError(f"prefilter must be None or 'bloom', got {prefilter!r}")
    key = (lambda c: F.xxhash64(c)) if hashed else (lambda c: c)
    eval_grams = (
        eval_df.select(F.explode(word_ngrams(text_col, n)).alias("g"))
        .select(key(F.col("g")).alias("k"))
        .distinct()
    )
    train_grams = train_df.select(
        id_col, F.explode(word_ngrams(text_col, n)).alias("g")
    ).select(id_col, F.col("g"), key(F.col("g")).alias("k"))
    if prefilter == "bloom":
        bitmap = build_eval_bloom(eval_df, n, text_col, bloom_bits, bloom_k)
        member = bloom_member_column(
            train_df.sparkSession.sparkContext, bitmap, bloom_bits, bloom_k
        )
        train_grams = train_grams.filter(member(F.xxhash64("g")))
    confirm = F.broadcast(eval_grams) if broadcast_eval else eval_grams
    return (
        train_grams.join(confirm, "k")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.count_distinct("g").alias("n_distinct_hits"),
        )
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = True,
    **kwargs,
) -> DataFrame:
    """``train_df`` minus every contaminated document (anti-join on the
    flagged id list — the tiny side of the join). Extra kwargs
    (``prefilter``, ``bloom_bits``, ``bloom_k``, ``broadcast_eval``)
    pass through to :func:`contaminated_docs`."""
    flagged = contaminated_docs(
        train_df, eval_df, n, text_col, id_col, hashed, **kwargs
    ).select(id_col)
    return train_df.join(flagged, id_col, "anti")


def fuzzy_contaminated_docs(
    train_df: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id_col, eval_id, jaccard): training documents whose shingle-set
    Jaccard with SOME eval document is ≥ ``threshold`` — NEAR-DUP
    contamination, the complement of `contaminated_docs`' exact n-gram
    check. Exact matching misses what fuzzy benchmarks leak most:
    light paraphrase, whitespace/punctuation edits, re-tokenized
    copies. The Dolma/DataComp-style hygiene pass runs both.

    Plan shape — the eval side is SMALL by contract (benchmarks), so
    like the exact check this is a broadcast problem; the corpus is
    scanned twice (signatures, shingle sets) and NEVER shuffled:

    1. MinHash signatures both sides (dedup.py machinery — same
       seeded permutations, so the two corpora bucket identically);
    2. band tables; the eval band table broadcasts into one equi-join
       against the train bands → candidate (train, eval) id pairs
       (map-side, no corpus shuffle);
    3. exact Jaccard verification from hashed shingle sets: the
       candidate ids broadcast back onto the train shingle table,
       eval shingle sets broadcast — per-pair array_intersect, round
       6, threshold filter. LSH only proposes; every reported pair
       carries its TRUE Jaccard (q50's verify discipline).

    Default 32 bands × 2 rows: P(miss) = (1−J²)³² — ≈1e-30 at the
    J≈0.9 of a lightly edited copy, ≈1e-4 at exactly J=0.5; raise
    num_bands when hunting weaker overlap. Deterministic end-to-end
    (seeded permutations, hash shingles).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from .cache import attach_cleanup
    from .dedup import band_table, minhash_signatures, shingle_tables

    # one shingling pass per corpus (shingle_tables): the signature
    # base hashes and the verify sets share a persisted frame, the
    # q50 discipline
    tsh = shingle_tables(train_df, text_col, id_col, shingle_k, base_hash)
    esh = shingle_tables(eval_df, text_col, id_col, shingle_k, base_hash)
    # Eagerly fill both caches BEFORE composing the consumers: the
    # band tables and the verify-set/candidate frames build as
    # CONCURRENT broadcast exchanges, and two builds racing a LAZY
    # persist each miss the cache and re-run the full scan+shingle
    # pass (r15 REST probe on the q66 fuzzy shape: 6 corpus file
    # reads vs 3 expected; eager count() pins it at one shingling
    # pass per side — values unchanged, it only orders the fill).
    tsh.count()
    esh.count()
    tsig = minhash_signatures(
        train_df, text_col, id_col, num_hashes, shingle_k, seed, base_hash,
        hashed_df=tsh.select("id", "bh"),
    )
    esig = minhash_signatures(
        eval_df, text_col, id_col, num_hashes, shingle_k, seed, base_hash,
        hashed_df=esh.select("id", "bh"),
    )
    tb = band_table(tsig, num_bands, num_hashes)
    eb = band_table(esig, num_bands, num_hashes).select(
        F.col("id").alias("eval_id"), "band_idx", "band_hash"
    )
    cands = (
        tb.join(F.broadcast(eb), ["band_idx", "band_hash"])
        .select(F.col("id"), F.col("eval_id"))
        .dropDuplicates(["id", "eval_id"])
    )
    esets = esh.select(
        F.col("id").alias("eval_id"), F.col("sh").alias("sh_e")
    )
    inter = F.size(F.array_intersect("sh", "sh_e"))
    union = F.size("sh") + F.size("sh_e") - inter
    out = (
        tsh.select("id", "sh")
        .join(F.broadcast(cands), "id")  # corpus side stays in place
        .join(F.broadcast(esets), "eval_id")
        .select(
            F.col("id").alias(id_col),
            "eval_id",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return attach_cleanup(out, tsh, esh)


def decontaminate_fuzzy(
    train_df: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """``train_df`` minus every fuzzily contaminated document (anti-join
    on the flagged id list). Extra kwargs pass through to
    :func:`fuzzy_contaminated_docs`."""
    flagged = (
        fuzzy_contaminated_docs(
            train_df, eval_df, threshold, text_col, id_col, **kwargs
        )
        .select(F.col(id_col))
        .distinct()
    )
    return train_df.join(flagged, id_col, "anti")

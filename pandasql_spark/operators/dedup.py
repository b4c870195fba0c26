"""Deduplication operators for large-scale training-data pipelines.

Seven families, each with a distinct scale profile (the five pairwise
ones below, plus sub-document granularity: `line_dedup` — C4-style
whole-line suppression — and `substring_dedup` — Lee-et-al k-token
window span removal, one fingerprint shuffle standing in for the
paper's single-machine suffix array):

- **exact** (`exact_dedup`): hash-groupBy on a normalized fingerprint.
  One shuffle; the canonical 100 TB exact-dedup plan.
- **MinHash + LSH** (`minhash_signatures`, `lsh_candidate_pairs`,
  `minhash_neardup_pairs`): shingle → universal-hash minima → band →
  bucket-join. Near-linear: candidate generation never materializes the
  O(n²) pair space, only same-bucket pairs. Pure JVM column expressions
  (xxhash64 + transform/array_min) — no Python in the hot path.
- **n-gram Jaccard** (`ngram_jaccard_pairs`): exact Jaccard via shingle
  explode + equi-self-join + groupBy. Exact but quadratic in bucket
  size; use after LSH candidate pruning at scale, or with the
  `max_shingle_freq` guard that drops boilerplate shingles (the classic
  "stop-shingle" fix for join blowup).
- **SimHash** (`simhash`, `simhash_neardup_pairs`): 64-bit weighted
  bit-vote fingerprint via an Arrow-batched pandas UDF (per-bit vote
  loops beat a 64-branch Catalyst expression tree), then banded hamming
  candidate join verified with xor+bit_count — JVM-side again.
- **embedding cosine** (`embedding_neardup_pairs`): sign-bit LSH buckets
  (random hyperplanes) → within-bucket pairwise cosine ≥ threshold.

Determinism: every hash is seeded (xxhash64 seed, Python
``random.Random(seed)`` for universal-hash coefficients and hyperplanes)
so results are reproducible run-to-run and cluster-size-independent.
"""

from __future__ import annotations

import random
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import fingerprint, let_bound, tokens, word_shingles
from .cache import attach_cleanup

#: Mersenne prime 2^31-1: modulus for universal hashing. Chosen so the
#: universal hash (a*h + b) never leaves int64 range — with a < 2^31 and
#: h < 2^31, a*h + b < 2^62 + 2^31 — which keeps the expression safe
#: under ``spark.sql.ansi.enabled=true`` (Spark 4's default; a 61-bit
#: modulus overflowed and hard-errored under ANSI sessions). 31-bit
#: minima are still collision-negligible for signature purposes: for a
#: doc with S shingles, P(min collision) ≈ S²/2^32 < 1e-5 at S = 200.
_MERSENNE_31 = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint: returns
    (fp, first_id, n_copies). Keep-first policy = min id."""
    return df.groupBy(fingerprint(text_col).alias("fp")).agg(
        F.min(id_col).cast("long").alias("first_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _hash_coefficients(n: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(n)
    ]


def lsh_hyperplanes(
    dim: int, num_planes: int, num_tables: int, seed: int
) -> list[list[list[float]]]:
    """Seeded Gaussian hyperplanes for sign-bit LSH, one
    ``num_planes × dim`` table per entry. Factored out of
    `embedding_neardup_pairs` so a gate oracle can embed the SAME plane
    literals in SQL and reproduce the bucket assignment exactly."""
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]
        for _ in range(num_tables)
    ]


def _minhash_base(sh, base_hash: str):
    """Nonnegative 31-bit base hashes of a (distinct) shingle array
    (see _MERSENNE_31: ANSI-overflow-safe). md5: conv() reads the
    first 15 hex chars as a 60-bit int — inside signed-long range on
    BOTH engines, so the reduction runs in long arithmetic (an earlier
    16-char variant needed decimal(20,0) for the unsigned top bit;
    profiling showed the decimal pmod nearly doubling signature
    time)."""
    if base_hash == "md5":
        return F.transform(
            sh,
            lambda s: F.pmod(
                F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
                F.lit(_MERSENNE_31),
            ),
        )
    return F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31)))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    base_hash: str = "xxhash64",
    hashed_df: DataFrame | None = None,
) -> DataFrame:
    """(id, signature: array<long>[num_hashes]) MinHash signatures.

    Shingles are hashed once (JVM-side: xxhash64 or md5 reduced mod
    2^31−1), then each of the ``num_hashes`` permutations is the min
    over shingles of the universal hash ``(a*h + b) mod p``.

    The permutation minima run in an Arrow-batched ``mapInPandas``
    kernel — one (num_hashes × ΣS) int64 broadcast multiply +
    ``np.minimum.reduceat`` segment-min per batch. Higher-order-function
    lambdas are evaluated per element in Catalyst's INTERPRETED path
    (they're outside whole-stage codegen), so vectorized C beats them
    here the same way the SimHash kernel did — measured ~4× on the
    sf0.1 corpus. Pure int64 arithmetic, max magnitude a·h < 2^62, so
    the values are exact; the q23 gate oracle recomputes them in SQL.

    ``base_hash``: ``"xxhash64"`` (default, fastest JVM hash) or
    ``"md5"`` — first 15 hex chars (60 bits, signed-long-safe on every
    engine) reduced mod 2^31−1. md5 is engine-portable, which lets the
    DuckDB oracle recompute the EXACT signatures; xxhash64 is
    Spark-only. Both are uniform enough for signature minima.

    ``hashed_df``: a precomputed (id, bh: array<long>) frame of
    per-doc 31-bit base hashes (exactly the `minhash_base_hashes`
    expression) — lets callers that ALSO need the shingle sets (the
    LSH+verify family) shingle the corpus once and share it; text_col/
    shingle_k/base_hash are then ignored."""
    import numpy as np

    coeffs = _hash_coefficients(num_hashes, seed)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    if hashed_df is None:
        sh = F.array_distinct(word_shingles(text_col, shingle_k))
        hashed = df.select(
            F.col(id_col).alias("id"), _minhash_base(sh, base_hash).alias("bh")
        )
    else:
        hashed = hashed_df

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            lens = pdf["bh"].map(len).to_numpy(dtype=np.int64)
            # word_shingles guarantees >=1 shingle; guard anyway —
            # reduceat misbehaves on empty segments
            if (lens == 0).any():
                lens = np.maximum(lens, 1)
                pdf = pdf.assign(
                    bh=[list(x) if len(x) else [0] for x in pdf["bh"]]
                )
            flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in pdf["bh"]])
            vals = (a_vec * flat[None, :] + b_vec) % _MERSENNE_31
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            mins = np.minimum.reduceat(vals, starts, axis=1)  # (H, ndocs)
            yield pd.DataFrame({"id": pdf["id"], "signature": list(mins.T)})

    # Derive the id field's type from the input schema — hardcoding
    # "long" here would Arrow-crash callers with string/decimal doc
    # ids (LSH only needs orderable ids, any type is valid).
    id_ddl = df.schema[id_col].dataType.simpleString()
    return hashed.mapInPandas(
        kernel, schema=f"id {id_ddl}, signature array<long>"
    )


def band_table(
    sig_df: DataFrame, num_bands: int = 16, num_hashes: int = 64
) -> DataFrame:
    """LSH bucket table (id, band_idx, band_hash): one row per band per
    doc. Docs sharing a (band_idx, band_hash) are near-dup candidates.

    This is ALSO the persisted store format for incremental dedup
    (streaming/incremental.py) — a continuously-arriving corpus appends
    each micro-batch's rows here and joins new docs' bands against it,
    so the batch and streaming paths bucket identically by
    construction."""
    if num_hashes % num_bands:
        raise ValueError("num_hashes must be divisible by num_bands")
    width = num_hashes // num_bands
    band_hashes = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("signature"), b * width + 1, width),
                        lambda x: x.cast("string"),
                    ),
                ),
                F.lit(str(b)),
            )
            for b in range(num_bands)
        ]
    )
    return sig_df.select(
        "id", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )


def signature_est_jaccard(sig_a: str = "sig_a", sig_b: str = "sig_b"):
    """Estimated Jaccard from two MinHash signature columns: fraction of
    equal positions, rounded to 6 digits (the rounding is part of the
    contract — oracles reproduce it)."""
    return F.round(
        F.size(
            F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda eq: eq)
        )
        / F.size(sig_a),
        6,
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    num_bands: int = 16,
    num_hashes: int = 64,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from banded LSH over signatures.

    Signature is split into ``num_bands`` bands of ``num_hashes //
    num_bands`` rows; docs sharing any band hash become candidates. The
    bucket-join is the scale path: cost is Σ bucket² per band,
    near-linear when buckets are small.

    ``max_bucket_size`` drops degenerate buckets (boilerplate/empty docs
    collapsing into one bucket would otherwise go quadratic at 100 TB);
    dropped buckets are exact-duplicate territory anyway, which
    `exact_dedup` catches more cheaply (adversarial-corpus measurements
    in SCALING.md)."""
    bands = band_table(sig_df, num_bands, num_hashes)
    # prune degenerate buckets before the self-join
    sizes = bands.groupBy("band_idx", "band_hash").agg(F.count(F.lit(1)).alias("sz"))
    ok = sizes.filter(F.col("sz") <= max_bucket_size).select("band_idx", "band_hash")
    bands = bands.join(ok, on=["band_idx", "band_hash"], how="inner")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """End-to-end MinHash near-dup: signatures → LSH candidates →
    estimate Jaccard as the fraction of equal signature positions →
    filter ≥ threshold. Returns (id_a, id_b, est_jaccard).

    The signature table feeds three plan branches (band explode + both
    sides of the estimate join); persist it so the shingle-hash pass
    runs once — the same reuse the reference gets from per-node result
    caching (core.py:41-42). The result is lazy, so there is no safe
    release point inside the operator; call ``result.cleanup()`` once
    materialized (operators/cache.py), or let Spark's LRU evict the
    blocks — signatures are (id, 64 longs) ≈ 0.5 KB/doc, small relative
    to the corpus."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, seed, base_hash
    ).persist()
    cands = lsh_candidate_pairs(sigs, num_bands, num_hashes)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    est = signature_est_jaccard("sig_a", "sig_b")
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )
    return attach_cleanup(out, sigs)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = 10000,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing ≥1 shingle:
    (id_a, id_b, jaccard). Explode distinct shingles → self-join on the
    shingle → |A∩B| by groupBy → |A∪B| = |A|+|B|−|A∩B|.

    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs before the join — boilerplate shingles are what turn this
    quadratic at scale, and they carry no discriminative signal.

    The join key is ``xxhash64(shingle)`` rather than the shingle string:
    the self-join's shuffle is the dominant cost and 8-byte longs cut its
    volume ~3× vs ~25-byte shingle strings (measured 18% wall-clock at
    sf0.1 where shuffle is local; the byte reduction is the real win on a
    network-shuffling cluster). A 64-bit collision would need ~2³² distinct
    shingles in one corpus to appear at all (birthday bound) and only
    perturbs one pair's count by 1 — bit-identical to the string join on
    every tested corpus."""
    # NOT persisted (measured slower with persist): the self-join sides
    # hit the same shuffle, which Spark dedups via ReusedExchange — the
    # shingle pass is not recomputed per branch the way the minhash
    # signature's non-shuffle branches are.
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.transform(
                    word_shingles(text_col, shingle_k), lambda s: F.xxhash64(s)
                )
            )
        ).alias("sh"),
    )
    if max_shingle_freq is not None:
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
        keep = freq.filter(F.col("df_") <= max_shingle_freq).select("sh")
        sh = sh.join(keep, "sh")
    # sizes AFTER pruning: intersection and union must be over the SAME
    # shingle space, else pruned shingles leave |A∩B| but inflate
    # |A|+|B| and bias Jaccard low for genuinely-similar docs.
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def jaccard_verified_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """The scale path for exact-Jaccard dedup: MinHash+LSH candidate
    generation, then EXACT Jaccard verification computed per candidate
    pair from the two docs' shingle sets (array_intersect — O(|A|+|B|)
    per pair), instead of the all-pairs shingle self-join.

    Why: the exact self-join's cost is Σ df(shingle)² — quadratic in
    duplicate cluster size. Measured on a duplicate-rich 10×-replicated
    corpus (50k docs, 10-copy near-dup cliques), round 2 with hashed
    shingle joins: exact all-pairs 596 s vs 11.9 s for this composition
    (50× on the same corpus), identical surviving pairs at recall
    governed by the LSH band curve (16 bands × 4 rows: ~0.99+ recall at
    J≥0.5). Returns (id_a, id_b, jaccard) with TRUE Jaccard values."""
    # ONE shingling pass for the whole operator (r14): the signature
    # base hashes (31-bit, for the minhash kernel) and the verify sets
    # (64-bit xxhash — 8-byte longs, ~3× smaller than shingle strings
    # on the wire, same negligible-collision caveat as
    # ngram_jaccard_pairs) both derive from a single let-bound
    # word_shingles evaluation, persisted once. Before this the
    # operator shingled the corpus three times (signatures + the
    # verify a-side + the verify b-side — caught by the r14
    # executed-plan scan audit).
    shared = shingle_tables(df, text_col, id_col, shingle_k, base_hash)
    # sigs stays persisted in its own right: lsh_candidate_pairs
    # SELF-joins the band table, so an unpersisted sigs would run the
    # minhash kernel twice (once per join side) even with the shingle
    # frame cached
    sigs = minhash_signatures(
        df,
        text_col,
        id_col,
        num_hashes,
        shingle_k,
        seed,
        base_hash,
        hashed_df=shared.select("id", "bh"),
    ).persist()
    # Eagerly fill the caches IN DEPENDENCY ORDER before composing the
    # consumers: the candidate join and the two verify joins
    # materialize as concurrent exchange/broadcast builds, and
    # concurrent builds racing a LAZY persist each miss the cache and
    # re-run the full upstream pass (r15 REST probe on this operator:
    # 6 corpus file reads vs 1 expected). shared.count() is the single
    # corpus scan; sigs.count() then reads the shingle cache; every
    # downstream consumer hits a warm cache. Values unchanged — this
    # only orders the fills (the q10/embedding eager-vecs pattern).
    shared.count()
    sigs.count()
    cands = lsh_candidate_pairs(sigs, num_bands, num_hashes)
    a = shared.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = shared.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    out = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return attach_cleanup(out, shared, sigs)


def shingle_tables(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, bh: array<long>, sh: array<long>), PERSISTED: one shingling
    pass producing BOTH minhash base hashes (31-bit, the exact
    `minhash_signatures` expression) and exact-verify sets (64-bit
    xxhash of each shingle, distinct) — the shared input of the
    LSH+verify family. `let_bound` evaluates word_shingles once per
    row for the two derivations. Callers release via the returned
    frame's unpersist (attach_cleanup composes it)."""
    from ..functions.text import let_bound

    pair = let_bound(
        word_shingles(text_col, shingle_k),
        lambda s: F.struct(
            _minhash_base(F.array_distinct(s), base_hash).alias("bh"),
            F.array_distinct(
                F.transform(s, lambda x: F.xxhash64(x))
            ).alias("sh"),
        ),
    )
    return (
        df.select(F.col(id_col).alias("id"), pair.alias("p"))
        .select("id", "p.bh", "p.sh")
        .persist()
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    base_hash: str = "xxhash64",
    max_iter: int = 20,
    keep: str = "min_id",
    score_col: str | None = None,
) -> DataFrame:
    """One-call corpus deduplication — the end-to-end composition a
    training-data pipeline actually runs. Returns ``df`` filtered to one
    surviving representative per duplicate group: the minimum ``id_col``
    (``keep="min_id"``, default) or the highest-``score_col`` member
    (``keep="best"``, ties to the minimum id) — the quality-aware
    retention real pipelines run so a near-dup group keeps its best
    copy (e.g. ``classifier.linear_quality_score``'s clf_score, or a
    source-priority rank), not whichever arrived first. Score-aware
    retention costs the same plan shape: the exact stage's groupBy
    carries (−score, id) instead of id in its min-struct, and the
    cluster stage picks argmax-by-score per component over the (tiny)
    clustered subset.

    Stages, cheapest first so each pass shrinks the next one's input:

    1. **Exact**: collapse byte-identical (normalized) copies by md5
       fingerprint — one shuffle of 16-byte keys (`exact_dedup`). At a
       web-scale corpus this alone typically removes a third of the
       data for pennies.
    2. **Near-dup pairs**: MinHash+LSH candidates with exact-Jaccard
       verification (`jaccard_verified_neardup_pairs`) over the exact
       survivors only — never all-pairs.
    3. **Clusters**: pairs → connected components by min-label
       propagation (`cluster.connected_components`); the edge list is
       orders of magnitude smaller than the corpus.
    4. **Filter**: drop every clustered doc except its minimum id — an
       anti-join of the (tiny) non-representative id list against the
       survivors.

    All shuffles are on ids/hashes, never full text except the one
    verification join; no driver-side data beyond the component loop's
    scalar convergence counts.

    **Incremental (streaming) dedup design note.** This operator is the
    batch/backfill pass. For a continuously-arriving corpus: exact dedup
    runs online today (`streaming/events.py:dedup_event_stream` —
    dropDuplicatesWithinWatermark on the fingerprint, gate row q58);
    near-dup goes incremental by persisting the (band_hash → id) bucket
    table this pipeline already builds, then joining each micro-batch's
    band hashes against it — new docs compare only against same-bucket
    history, the same near-linear candidate discipline as the batch
    path. The signature table is append-only and mergeable, so the
    historical store can live as a bucketed parquet/Delta table keyed by
    band_hash with no reprocessing of old documents."""
    from .cluster import connected_components

    if keep not in ("min_id", "best"):
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    if (keep == "best") != (score_col is not None):
        raise ValueError(
            "keep='best' requires score_col (and score_col requires "
            "keep='best') — a half-specified retention policy would "
            "silently keep the wrong copies"
        )

    id_ = F.col(id_col)
    if keep == "min_id":
        exact_keep = exact_dedup(df, text_col, id_col).select(
            F.col("first_id").alias(id_col)
        )
    else:
        # same one-fingerprint-shuffle plan; min(struct(-score, id))
        # = argmax score, ties to min id, map-side combinable
        exact_keep = (
            df.groupBy(fingerprint(text_col).alias("__fp"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col(score_col)).alias("s"), id_.alias("i")
                    )
                ).alias("__best")
            )
            .select(F.col("__best.i").alias(id_col))
        )
    # persist the slim survivor-id list and fill it eagerly: `kept` is
    # consumed twice (the shingle pass and the final anti-join), and
    # each consumer would otherwise rebuild the exact-keep broadcast —
    # re-running the fingerprint groupBy's corpus scan (r15 file-byte
    # probe: 4 corpus reads; this pins it at 3 = exact fill + one df
    # read per kept consumer, the floor without caching full text)
    exact_keep = exact_keep.persist()
    exact_keep.count()
    kept = df.join(exact_keep, id_col, "leftsemi")
    pairs = jaccard_verified_neardup_pairs(
        kept,
        text_col,
        id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_k=shingle_k,
        seed=seed,
        base_hash=base_hash,
    )
    clusters = connected_components(pairs, max_iter=max_iter)
    if keep == "min_id":
        non_reps = clusters.filter(
            F.col("node") != F.col("cluster_id")
        ).select(F.col("node").alias(id_col))
    else:
        member_scores = clusters.join(
            kept.select(id_.alias("node"), F.col(score_col).alias("__sc")),
            "node",
        )
        reps = (
            member_scores.groupBy("cluster_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__sc")).alias("s"), F.col("node").alias("n")
                    )
                ).alias("__best")
            )
            .select(F.col("__best.n").alias("__rep"))
        )
        non_reps = (
            clusters.join(
                reps, clusters["node"] == reps["__rep"], "left_anti"
            ).select(F.col("node").alias(id_col))
        )
    out = kept.join(non_reps, id_col, "anti")
    # compose the inner stages' releases (survivor-id cache, signature
    # cache, the component loop's final checkpoints) into this result's
    # hook (operators/cache.py) — call only after materializing
    return attach_cleanup(out, exact_keep, pairs, clusters)


# ------------------------------------------------------------------ SimHash

_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash fingerprints: (id, simhash).

    Arrow-batched ``mapInPandas``: each distinct token's 64-bit hash is
    the BIG-ENDIAN first 8 bytes of ``md5(token)`` (stable,
    version-independent, and expressible in ANSI SQL —
    ``('0x' || substr(md5(tok), 1, 16))::UBIGINT`` in DuckDB — so the
    q24 gate gets a real value-checked oracle). Each token votes ±1 per
    bit; fingerprint = sign vector, stored as signed int64.

    The kernel is numpy-vectorized: md5 runs once per *unique* token
    (cached across the batch iterator — natural-language vocab repeats
    heavily), and the per-token bit votes collapse to one
    ``(n_tokens × bits)`` matrix op per doc instead of a Python loop
    per token. The per-bit vote is why this is a pandas UDF and not a
    Catalyst expression — 64 nested CASEs defeat codegen. Scales with
    executors since mapInPandas is embarrassingly parallel (no
    shuffle)."""
    import hashlib

    import numpy as np

    shifts = np.arange(bits, dtype=np.uint64)

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab: dict[str, int] = {}  # token → uint64 hash, reused across batches

        def _h(tok: str) -> int:
            h = vocab.get(tok)
            if h is None:
                if len(vocab) >= 4_000_000:  # ~300 MB cap; executor-safe
                    vocab.clear()
                h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                vocab[tok] = h
            return h

        for pdf in it:
            out_ids = pdf[id_col].astype("int64")
            fps = np.zeros(len(pdf), dtype=np.uint64)
            for i, txt in enumerate(pdf[text_col].astype(str)):
                toks = dict.fromkeys(txt.split(" "))  # distinct, order-stable
                hs = np.fromiter(
                    (_h(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                tok_bits = (hs[:, None] >> shifts) & np.uint64(1)  # (n_tok, bits)
                votes = (2 * tok_bits.astype(np.int64) - 1).sum(axis=0)
                fps[i] = np.bitwise_or.reduce(
                    np.left_shift(np.uint64(1), shifts[votes > 0]), initial=np.uint64(0)
                )
            yield pd.DataFrame({"id": out_ids, "simhash": fps.view(np.int64)})

    return df.select(id_col, text_col).mapInPandas(_batch, _SIMHASH_SCHEMA)


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_bands: int = 4,
) -> DataFrame:
    """Near-dups by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split 64 bits into ``num_bands`` 16-bit bands;
    any pair within hamming ≤ num_bands−1 shares at least one exact
    band. Candidates come from a band-bucket join (near-linear), then
    exact hamming verification via xor + bit_count — all JVM-side."""
    sigs = simhash(df, text_col, id_col).withColumnRenamed("simhash", "sig")
    return banded_hamming_pairs(sigs, max_hamming, num_bands)


def banded_hamming_pairs(
    sigs: DataFrame, max_hamming: int, num_bands: int
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(sig) ≤ ``max_hamming``
    over an (id, sig) frame of 64-bit signatures — the shared engine
    behind `simhash_neardup_pairs` (text) and `image_neardup_pairs`
    (dHash). Pigeonhole banding: split 64 bits into ``num_bands``
    equal bands; any pair within hamming ≤ num_bands−1 shares at least
    one exact band. Candidates come from a band-bucket equi-join
    (near-linear, never all-pairs), then exact hamming verification
    via xor + bit_count — all JVM-side."""
    if max_hamming > num_bands - 1:
        # beyond the pigeonhole bound pairs can differ in EVERY band and
        # would be silently missing from the candidate set
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"num_bands-1={num_bands - 1}; raise num_bands"
        )
    width = 64 // num_bands
    bands = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(num_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    # hamming is a pure function of the candidate row, so filter it
    # before the dedup `distinct()` (VERDICT r12). Adjudicated by a
    # UI shuffle-byte probe (SCALING.md r13): Catalyst was ALREADY
    # pushing the bit_count predicate into the join condition, so the
    # old shape's distinct only ever saw verified pairs — measured
    # bytes equal (610 KB both, hot-band corpus, 8M candidates).
    # The explicit form still narrows the distinct key from
    # (id_a, id_b, sig_a, sig_b) to (id_a, id_b, hamming) and stops
    # relying on an optimizer rule for the at-scale guarantee.
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------- image near-dup


def _luma_grid(px, rows: int, cols: int):
    """Rec.601 luma → rows×cols area-mean grid (integer cell
    boundaries; degenerate dims fall back to single-pixel cells)."""
    import numpy as np

    a = px.astype(np.float64)
    if a.ndim == 3:
        a = a[..., 0] * 0.299 + a[..., 1] * 0.587 + a[..., 2] * 0.114
    h_px, w_px = a.shape
    grid = np.empty((rows, cols), dtype=np.float64)
    for r in range(rows):
        lo_r = (r * h_px) // rows
        hi_r = max(lo_r + 1, ((r + 1) * h_px) // rows)
        for c in range(cols):
            lo_c = (c * w_px) // cols
            hi_c = max(lo_c + 1, ((c + 1) * w_px) // cols)
            grid[r, c] = a[lo_r:hi_r, lo_c:hi_c].mean()
    return grid


def _pack_bits(bits) -> int:
    """64 row-major bits → signed int64 (the Spark BIGINT view)."""
    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)
    packed = np.bitwise_or.reduce(
        np.left_shift(np.uint64(1), shifts[np.asarray(bits).ravel()]),
        initial=np.uint64(0),
    )
    return int(packed.view(np.int64))


def _dhash64(px) -> int:
    """64-bit difference hash: 8×9 area-mean luma grid → horizontal
    gradient bits (cell[r, c+1] > cell[r, c], strict), packed
    row-major. A FLAT image hashes to exactly 0 (every strict
    comparison false) — the closed form q41's oracle states."""
    grid = _luma_grid(px, 8, 9)
    return _pack_bits(grid[:, 1:] > grid[:, :-1])


def _dhash64_batch(pxs) -> list:
    """Batched `_dhash64` over a list of decoded pixel arrays —
    BIT-IDENTICAL outputs (pinned by test_image_dedup.py's
    differential). Frames sharing a (shape, ndim) stack into one
    3-D array: the Rec.601 luma is one vectorized expression, each
    of the 72 grid cells is ONE `mean(axis=(1, 2))` over the whole
    stack (per output element numpy reduces the same cell elements
    in the same order as the scalar path's 2-D `.mean()` — probed
    across shapes and magnitudes), and the row-major bit pack is an
    exact uint64 dot with the power-of-two vector. 72 reductions per
    SHAPE GROUP instead of per frame — the frame-hash pass behind
    video_signature/q96 is ~35 shapes over tens of thousands of
    frames at sf0.1."""
    import numpy as np

    groups: dict = {}
    order: dict = {}
    for i, px in enumerate(pxs):
        a = np.asarray(px)
        groups.setdefault(a.shape, []).append(a)
        order.setdefault(a.shape, []).append(i)
    out = [0] * len(pxs)
    pow2 = np.uint64(1) << np.arange(64, dtype=np.uint64)
    for shape, arrs in groups.items():
        if len(arrs) == 1:
            # singleton group: the stack/axis machinery only adds
            # dispatch overhead — scalar path, identical by definition
            out[order[shape][0]] = _dhash64(arrs[0])
            continue
        stack = np.stack(arrs).astype(np.float64)
        if stack.ndim == 4:
            stack = (
                stack[..., 0] * 0.299
                + stack[..., 1] * 0.587
                + stack[..., 2] * 0.114
            )
        k, h, w = stack.shape
        grid = np.empty((k, 8, 9), dtype=np.float64)
        for r in range(8):
            lo_r = (r * h) // 8
            hi_r = max(lo_r + 1, ((r + 1) * h) // 8)
            for c in range(9):
                lo_c = (c * w) // 9
                hi_c = max(lo_c + 1, ((c + 1) * w) // 9)
                grid[:, r, c] = stack[:, lo_r:hi_r, lo_c:hi_c].mean(
                    axis=(1, 2)
                )
        bits = (grid[:, :, 1:] > grid[:, :, :-1]).reshape(k, 64)
        packed = (bits.astype(np.uint64) * pow2).sum(axis=1).view(np.int64)
        for idx, val in zip(order[shape], packed):
            out[idx] = int(val)
    return out


def _phash64(px) -> int:
    """64-bit DCT perceptual hash (pHash): 32×32 area-mean luma grid →
    orthonormal 2-D DCT-II (numpy matmul against the cosine basis — no
    scipy dependency) → top-left 8×8 low-frequency block → bit =
    coefficient > median of the 63 non-DC coefficients (the DC term is
    overall brightness, excluded per the classic construction), packed
    row-major with the DC bit forced 0. A FLAT image has every AC
    coefficient exactly 0 → hash 0, same closed form as dHash."""
    import numpy as np

    n = 32
    grid = _luma_grid(px, n, n)
    k = np.arange(n)[:, None]
    basis = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * np.arange(n) + 1) * k / (2 * n))
    basis[0] = np.sqrt(1.0 / n)
    # round to 1e-8: a mathematically-zero coefficient (flat regions)
    # carries ~1e-13 cosine-cancellation residue whose SIGN is noise —
    # unquantized it would randomize the bits of exactly-flat images
    low = np.round((basis @ grid @ basis.T)[:8, :8], 8)
    ac = np.delete(low.ravel(), 0)
    med = np.median(ac)
    bits = low.ravel() > med
    bits[0] = False  # DC carries brightness, not structure
    return _pack_bits(bits)


def _phash64_batch(pxs) -> list:
    """Batched `_phash64` — BIT-IDENTICAL outputs (differential in
    test_image_dedup.py), same grouping design as `_dhash64_batch`:
    frames sharing a shape stack, the 32×32 grid is 1024 reductions
    per GROUP instead of per image, the cosine basis is built once,
    and each image keeps its own two-GEMM DCT + round + median tail
    (per-image matmuls, not a batched GEMM, so the BLAS blocking —
    and therefore the floats — match the scalar path exactly)."""
    import numpy as np

    n = 32
    k = np.arange(n)[:, None]
    basis = np.sqrt(2.0 / n) * np.cos(
        np.pi * (2 * np.arange(n) + 1) * k / (2 * n)
    )
    basis[0] = np.sqrt(1.0 / n)

    groups: dict = {}
    order: dict = {}
    for i, px in enumerate(pxs):
        a = np.asarray(px)
        groups.setdefault(a.shape, []).append(a)
        order.setdefault(a.shape, []).append(i)
    out = [0] * len(pxs)
    for shape, arrs in groups.items():
        if len(arrs) == 1:
            out[order[shape][0]] = _phash64(arrs[0])
            continue
        stack = np.stack(arrs).astype(np.float64)
        if stack.ndim == 4:
            stack = (
                stack[..., 0] * 0.299
                + stack[..., 1] * 0.587
                + stack[..., 2] * 0.114
            )
        kk, h, w = stack.shape
        grid = np.empty((kk, n, n), dtype=np.float64)
        for r in range(n):
            lo_r = (r * h) // n
            hi_r = max(lo_r + 1, ((r + 1) * h) // n)
            for c in range(n):
                lo_c = (c * w) // n
                hi_c = max(lo_c + 1, ((c + 1) * w) // n)
                grid[:, r, c] = stack[:, lo_r:hi_r, lo_c:hi_c].mean(
                    axis=(1, 2)
                )
        for idx, g in zip(order[shape], grid):
            low = np.round((basis @ g @ basis.T)[:8, :8], 8)
            ac = np.delete(low.ravel(), 0)
            med = np.median(ac)
            bits = low.ravel() > med
            bits[0] = False
            out[idx] = _pack_bits(bits)
    return out


#: perceptual-hash kernels: name → pure-Python hash of a decoded
#: pixel array. dhash = gradient structure (cheap, resize/re-encode
#: robust); phash = DCT low-frequency structure (more robust to
#: smooth global edits — gamma/brightness shifts flip gradient bits
#: near ties but barely move the coefficient/median ORDER).
_IMAGE_HASHES = {"dhash": _dhash64, "phash": _phash64}


def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    method: str = "dhash",
) -> DataFrame:
    """(id_col, decode_ok, dhash): 64-bit perceptual difference-hash
    per image payload — LAION-style image dedup WITHOUT an embedding
    model. Decode runs through the native codecs
    (functions/imagecodec.py: PNG/GIF/JPEG; PIL when present), so the
    hash survives re-encoding (PNG↔GIF↔JPEG of the same picture) and
    resizing — the two transformations that defeat byte-level
    fingerprints — because it is computed on the area-averaged LUMA
    grid, not the bytes. One Arrow-batched ``mapInPandas`` pass, no
    shuffle (the multimodal codec discipline); a payload that does not
    decode survives as ONE decode_ok=false / NULL-hash row — the
    corrupt-media contract. Pair with `image_neardup_pairs` (banded
    hamming join) or any hamming-threshold consumer.

    ``method="dhash"`` (default) is the gradient hash; ``"phash"``
    swaps in the DCT low-frequency hash (`_phash64`) — same schema,
    same column name, so consumers and the banding are method-blind."""
    if method not in _IMAGE_HASHES:
        raise ValueError(
            f"method must be one of {sorted(_IMAGE_HASHES)}, got {method!r}"
        )

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.imagecodec import ImageDecodeError, decode_image

        for pdf in it:
            ids, oks, pxs = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                ids.append(int(mid))
                try:
                    px = decode_image(bytes(payload))
                except ImageDecodeError:
                    oks.append(False)
                    continue
                oks.append(True)
                pxs.append(px)
            batch = _dhash64_batch if method == "dhash" else _phash64_batch
            fps = iter(batch(pxs))  # bit-identical to the per-image hash
            hs = [next(fps) if ok else None for ok in oks]
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "decode_ok": oks,
                    "dhash": pd.array(hs, dtype="Int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        _batch, f"{id_col} long, decode_ok boolean, dhash long"
    )


def image_neardup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    num_bands: int = 4,
    method: str = "dhash",
) -> DataFrame:
    """Image near-duplicates by perceptual-hash hamming distance ≤
    ``max_hamming``: re-encoded/resized copies of the same picture
    land within a few bit flips while different pictures sit ~32 bits
    apart (random-ish structure). ``method``: "dhash" (default) or
    "phash" (`image_dhash`). Candidate generation and verification
    reuse the SimHash banding engine (`banded_hamming_pairs`):
    band-bucket equi-join, never all-pairs — at LAION scale the cost
    is the decode scan plus one bucket-keyed shuffle of 8-byte hashes.
    Non-decodable payloads drop (they have no hash); returns
    (id_a, id_b, hamming)."""
    sigs = (
        image_dhash(df, payload_col, id_col, method=method)
        .filter(F.col("decode_ok"))
        .select(F.col(id_col).alias("id"), F.col("dhash").alias("sig"))
    )
    return banded_hamming_pairs(sigs, max_hamming, num_bands)


def _audio_fp64(samples, rate: int) -> int:
    """64-bit spectral fingerprint of a PCM clip — dHash over the
    log-spectrogram: hann-windowed ~64 ms frames (50% hop) → 9
    log-spaced ABSOLUTE frequency bands (100 Hz … 4 kHz — fixed, NOT
    rate-relative, so the same clip fingerprints comparably across
    sample rates; content above the lower nyquist is invisible after a
    resample, so cross-rate matching assumes band-limited content —
    true for speech) → log band energies → 8(time)×9(band) area-mean
    grid (`_luma_grid` on the spectrogram \"image\") → horizontal
    gradient bits across BANDS. Adjacent-band comparisons in the log
    domain make the hash GAIN-INVARIANT up to PCM quantization
    (log(g·E) shifts every cell equally), and the relative-time grid
    absorbs moderate duration changes; silence (all cells equal)
    hashes to 0 — the flat contract the image hashes share."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)  # downmix
    # rate-proportional window (~64 ms) keeps the TIME grid and the
    # per-frame bandwidth comparable across sample rates
    win = max(256, int(2 ** round(np.log2(rate * 0.064))))
    hop = win // 2
    if len(x) < win:
        x = np.pad(x, (0, win - len(x)))
    n_frames = 1 + (len(x) - win) // hop
    idx = np.arange(win)[None, :] + hop * np.arange(n_frames)[:, None]
    hann = 0.5 - 0.5 * np.cos(2 * np.pi * np.arange(win) / win)
    spec = np.abs(np.fft.rfft(x[idx] * hann, axis=1)) ** 2
    freqs = np.fft.rfftfreq(win, 1.0 / rate)
    edges = np.logspace(np.log10(100.0), np.log10(4000.0), 10)
    bands = np.empty((n_frames, 9), dtype=np.float64)
    for b in range(9):
        sel = (freqs >= edges[b]) & (freqs < edges[b + 1])
        bands[:, b] = spec[:, sel].sum(axis=1) if sel.any() else 0.0
    grid = _luma_grid(np.log(bands + 1e-12), 8, 9)
    return _pack_bits(grid[:, 1:] > grid[:, :-1])


def _audio_fp64_batch(clips) -> list:
    """Batched `_audio_fp64` over ``[(samples, rate), ...]`` —
    BIT-IDENTICAL outputs (pinned by test_image_dedup.py's
    differential), ~5× fewer numpy dispatches per clip: windowed
    frames from every clip sharing a (win, rate) are stacked into ONE
    rfft call (pocketfft reduces each row independently, so per-row
    results equal the scalar path's), band energies come from the
    same per-band `.sum(axis=1)` on the stacked spec, and the hann
    window / band edges / log-spaced boundaries are computed once per
    (win, rate) instead of per clip. The per-clip tail (log + 8×9
    grid + bit pack) is unchanged scalar code on the clip's own rows,
    so reduction operand ORDER never changes anywhere."""
    import numpy as np

    # per-clip windowing metadata, frames grouped by (win, rate)
    groups: dict = {}  # (win, rate) -> [frames arrays]
    offsets: dict = {}  # (win, rate) -> running frame count
    meta = []  # (key, offset_in_group, n_frames)
    hann_cache: dict = {}
    for samples, rate in clips:
        x = np.asarray(samples, dtype=np.float64)
        if x.ndim == 2:
            x = x.mean(axis=1)
        win = max(256, int(2 ** round(np.log2(rate * 0.064))))
        hop = win // 2
        if len(x) < win:
            x = np.pad(x, (0, win - len(x)))
        n_frames = 1 + (len(x) - win) // hop
        idx = np.arange(win)[None, :] + hop * np.arange(n_frames)[:, None]
        hann = hann_cache.get(win)
        if hann is None:
            hann = hann_cache[win] = 0.5 - 0.5 * np.cos(
                2 * np.pi * np.arange(win) / win
            )
        key = (win, rate)
        off = offsets.get(key, 0)
        offsets[key] = off + n_frames
        groups.setdefault(key, []).append(x[idx] * hann)
        meta.append((key, off, n_frames))

    # one FFT + one band-sum pass per (win, rate) group
    band_rows: dict = {}
    for (win, rate), frames in groups.items():
        spec = np.abs(np.fft.rfft(np.vstack(frames), axis=1)) ** 2
        freqs = np.fft.rfftfreq(win, 1.0 / rate)
        edges = np.logspace(np.log10(100.0), np.log10(4000.0), 10)
        bands = np.empty((spec.shape[0], 9), dtype=np.float64)
        for b in range(9):
            sel = (freqs >= edges[b]) & (freqs < edges[b + 1])
            bands[:, b] = spec[:, sel].sum(axis=1) if sel.any() else 0.0
        band_rows[(win, rate)] = bands

    # vectorized log per group (elementwise — identical per value), then
    # the per-clip grid. Single-frame clips (every clip shorter than
    # ~win·1.5 — the common short-payload case) collapse EXACTLY: the
    # 8×9 area-mean grid of a 1-row image is that row repeated (a
    # one-element mean is the element), so the row-major 8×8 bit pack
    # is the 8-bit gradient pattern replicated at every byte.
    logb = {k: np.log(v + 1e-12) for k, v in band_rows.items()}
    out = []
    for key, off, n_frames in meta:
        rows = logb[key][off : off + n_frames]
        if n_frames == 1:
            r = rows[0]
            p = int(sum(1 << c for c in range(8) if r[c + 1] > r[c]))
            full = p * 0x0101010101010101
            out.append(full - (1 << 64) if full >= (1 << 63) else full)
        else:
            grid = _luma_grid(rows, 8, 9)
            out.append(_pack_bits(grid[:, 1:] > grid[:, :-1]))
    return out


def audio_fingerprint(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """(id_col, decode_ok, afp): 64-bit spectral fingerprint per audio
    payload (`_audio_fp64` over the native WAV/PCM decode) — the audio
    member of the perceptual-dedup family (image_dhash /
    video_signature). Re-encoded, volume-scaled, or resampled copies
    of the same clip land within a few bits; different clips sit ~32
    apart. One Arrow-batched ``mapInPandas`` pass; undecodable
    payloads survive as decode_ok=false / NULL-fp rows."""

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.audiocodec import AudioDecodeError, decode_wav

        for pdf in it:
            ids, oks, clips = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                ids.append(int(mid))
                try:
                    rate, arr = decode_wav(bytes(payload))
                except AudioDecodeError:
                    oks.append(False)
                    continue
                oks.append(True)
                clips.append((arr, rate))
            fps = iter(_audio_fp64_batch(clips))
            hs = [next(fps) if ok else None for ok in oks]
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "decode_ok": oks,
                    "afp": pd.array(hs, dtype="Int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        _batch, f"{id_col} long, decode_ok boolean, afp long"
    )


def audio_neardup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    num_bands: int = 4,
) -> DataFrame:
    """Audio near-duplicates by spectral-fingerprint hamming distance
    ≤ ``max_hamming``, through the shared banding engine
    (`banded_hamming_pairs`): bucket equi-join, never all-pairs.
    Returns (id_a, id_b, hamming)."""
    sigs = (
        audio_fingerprint(df, payload_col, id_col)
        .filter(F.col("decode_ok"))
        .select(F.col(id_col).alias("id"), F.col("afp").alias("sig"))
    )
    return banded_hamming_pairs(sigs, max_hamming, num_bands)


def video_signature(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_ms: int = 1000,
    method: str = "dhash",
) -> DataFrame:
    """(id_col, n_frames, vhash): a 64-bit perceptual signature per
    VIDEO — sampled frames (`multimodal.sample_frames`, native
    DIB/MJPEG AVI decode) are each perceptually hashed
    (`image_dhash`), then the video's bit k is the MAJORITY vote of
    its frames' bit k (strict majority; ties → 0). Majority voting is
    the SimHash aggregation idea lifted to frames: it is insensitive
    to a minority of differing frames (re-encodes, a changed intro,
    codec noise) and to the exact sample grid, while two unrelated
    videos agree per bit with probability ~1/2. Videos with no
    decodable frame survive as n_frames = 0 / NULL vhash — the
    corrupt-media contract.

    Plan shape: the decode/hash pass is one Arrow-batched pipeline per
    frame row; the vote is a single map-side-combined groupBy with 64
    codegen bit-sums (no Python, no window). At scale the shuffle
    carries 64 small ints per video — ~0.5 KB/video regardless of
    video length."""
    from .multimodal import sample_frames

    frames = sample_frames(
        df, payload_col=payload_col, id_col=id_col, every_ms=every_ms
    )
    voted = video_signature_from_frames(frames, id_col=id_col, method=method)
    base = df.select(F.col(id_col)).distinct()
    return (
        base.join(voted, id_col, "left")
        .withColumn("n_frames", F.coalesce("n_frames", F.lit(0)).cast("long"))
    )


def video_signature_from_frames(
    frames: DataFrame,
    id_col: str = "media_id",
    method: str = "dhash",
) -> DataFrame:
    """The hash + majority-vote stage of :func:`video_signature`, over
    an ALREADY-SAMPLED frames frame (`multimodal.sample_frames`
    output: id_col, decode_ok, frame_png, …) — split out so a pipeline
    that has the sampled frames persisted for other consumers (the q96
    single-scan discipline) can add the signature without a second
    decode pass over the videos. Returns (id_col, n_frames, vhash)
    for videos with ≥1 hashable frame only — callers that need the
    corrupt-media rows left-join against their own video universe
    (as `video_signature` does)."""
    fh = image_dhash(
        frames.filter(F.col("decode_ok") & F.col("frame_png").isNotNull())
        .select(F.col(id_col), F.col("frame_png").alias("__png")),
        payload_col="__png",
        id_col=id_col,
        method=method,
    ).filter(F.col("decode_ok"))
    bit = lambda k: F.shiftrightunsigned(  # noqa: E731
        F.col("dhash"), k
    ).bitwiseAND(F.lit(1))
    votes = fh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_frames"),
        *[F.sum(bit(k)).alias(f"__b{k}") for k in range(64)],
    )
    vhash = None
    for k in range(64):
        term = F.when(
            F.col(f"__b{k}") * 2 > F.col("n_frames"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long")) * F.lit(1 << k if k < 63 else -(1 << 63))
        vhash = term if vhash is None else vhash + term
    return votes.select(id_col, "n_frames", vhash.alias("vhash"))


def video_neardup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_ms: int = 1000,
    max_hamming: int = 3,
    num_bands: int = 4,
    method: str = "dhash",
) -> DataFrame:
    """Video near-duplicates by majority-vote perceptual signature
    (`video_signature`) at hamming ≤ ``max_hamming`` — catches the
    same footage re-encoded under a different codec (DIB ↔ MJPEG),
    re-sampled, or with a minority of frames altered. Candidates and
    verification ride the shared banding engine
    (`banded_hamming_pairs`): bucket equi-join, never all-pairs.
    Returns (id_a, id_b, hamming)."""
    sigs = (
        video_signature(df, payload_col, id_col, every_ms, method)
        .filter(F.col("vhash").isNotNull())
        .select(F.col(id_col).alias("id"), F.col("vhash").alias("sig"))
    )
    return banded_hamming_pairs(sigs, max_hamming, num_bands)


def dedup_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    num_bands: int = 4,
    method: str = "dhash",
    max_iter: int = 20,
    keep: str = "min_id",
    score_col: str | None = None,
) -> DataFrame:
    """One-call image deduplication — `dedup_corpus`'s media analog,
    cheapest stage first:

    1. **Exact**: collapse byte-identical payloads by md5 — one
       shuffle of 16-byte keys (catches straight copies before any
       pixel is decoded).
    2. **Perceptual pairs**: dHash/pHash near-dups over the exact
       survivors (`image_neardup_pairs` — the decode scan + a
       band-bucket join, never all-pairs).
    3. **Clusters**: pairs → connected components (min-label
       propagation over the tiny edge list).
    4. **Filter**: keep one representative per cluster — minimum id
       (``keep="min_id"``) or the highest-``score_col`` member, ties
       to min id (``keep="best"`` — e.g. resolution or a quality
       score, the retention policy real image pipelines run).

    Payloads that do not decode are untouchable by stages 2–4 and
    SURVIVE (they can still be exact-collapsed byte-wise) — the
    corrupt-media contract; route them to quarantine separately via
    `image_dhash`'s decode_ok if desired.

    Non-convergence contract (VERDICT r12): ``max_iter`` bounds the
    min-label-propagation rounds, which need the label-graph
    DIAMETER — tiny (2–4) for real near-dup clumps, which are dense,
    but unbounded for an adversarial CHAIN of pairwise-near images. A
    diameter past ``max_iter`` RAISES (`connected_components`'s
    pinned contract, tests/test_dedup.py) rather than silently
    emitting split clusters that would leak duplicate copies through
    the keep filter; raise ``max_iter`` for chain-shaped corpora —
    each extra round is one join+groupBy, so the cost is linear."""
    from .cluster import connected_components

    if keep not in ("min_id", "best"):
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    if (keep == "best") != (score_col is not None):
        raise ValueError(
            "keep='best' requires score_col (and score_col requires "
            "keep='best') — a half-specified retention policy would "
            "silently keep the wrong copies"
        )
    id_ = F.col(id_col)
    fp = F.md5(F.col(payload_col)).alias("__fp")
    if keep == "min_id":
        exact_keep = df.groupBy(fp).agg(F.min(id_).alias(id_col)).select(id_col)
    else:
        exact_keep = (
            df.groupBy(fp)
            .agg(
                F.min(
                    F.struct((-F.col(score_col)).alias("s"), id_.alias("i"))
                ).alias("k")
            )
            .select(F.col("k.i").alias(id_col))
        )
    # persist + eagerly fill the slim survivor-id list: `survivors` is
    # consumed by the perceptual-pair stage AND the final anti-join
    # (plus the keep='best' score join), and each consumer would
    # otherwise rebuild the exact-keep broadcast — re-running the
    # payload-md5 groupBy's full corpus read (the dedup_corpus r15
    # fix, same shape)
    exact_keep = exact_keep.persist()
    exact_keep.count()
    survivors = df.join(exact_keep, id_col, "semi")
    pairs = image_neardup_pairs(
        survivors, payload_col, id_col, max_hamming, num_bands, method
    )
    comp = connected_components(
        pairs.select(F.col("id_a"), F.col("id_b")), max_iter=max_iter
    )
    if keep == "min_id":
        # the cluster label IS the min member id — drop everyone else
        drop = comp.filter(F.col("node") != F.col("cluster_id")).select(
            F.col("node").alias(id_col)
        )
    else:
        scored = comp.join(
            survivors.select(id_, F.col(score_col).alias("__s")),
            comp["node"] == id_,
        )
        best = scored.groupBy("cluster_id").agg(
            F.min(
                F.struct((-F.col("__s")).alias("s"), F.col("node").alias("i"))
            ).alias("k")
        ).select(F.col("k.i").alias("__keep"))
        drop = (
            comp.join(best, comp["node"] == F.col("__keep"), "anti")
            .select(F.col("node").alias(id_col))
        )
    out = survivors.join(drop, id_col, "anti")
    # compose the survivor-id cache and the component loop's final
    # checkpoint releases (previously dropped — the comp blocks leaked
    # until session end); call cleanup() only after materializing
    return attach_cleanup(out, exact_keep, comp)


# ------------------------------------------------------ embedding near-dup


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.95,
    num_planes: int | None = None,
    num_tables: int = 8,
    seed: int = 42,
    target_bucket: int = 16,
) -> DataFrame:
    """Embedding near-duplicates: MULTI-TABLE sign-bit LSH (OR over
    ``num_tables`` independent tables of ``num_planes`` hyperplanes
    each), then exact cosine verification ≥ threshold on the candidate
    union. Returns (id_a, id_b, cos_sim).

    Why multi-table: a single b-plane table requires ALL sign bits to
    agree — P(candidate) = (1 − θ/π)^b, only ~28% recall for cosine 0.95
    with b=12. OR-ing L tables gives 1 − (1 − (1 − θ/π)^b)^L — e.g.
    b=8, L=8 is ≈0.99 recall at cosine 0.95. Same AND/OR construction
    as the MinHash band scheme.

    ``num_planes=None`` (default) auto-sizes b so expected bucket
    occupancy ≈ ``target_bucket``: b = max(8, ⌈log2(n / target_bucket)⌉).
    A FIXED b is a scale trap — bucket population n/2^b grows linearly
    with the corpus, so the within-bucket pair join goes quadratic (at
    10^9 vectors, b=8 → ~4M per bucket). Auto-sizing keeps verification
    cost ≈ L·n·target_bucket/2 cosine folds — linear in n. More planes
    lower per-table recall (at n=10k, b=10: ≈0.97 at cosine 0.95);
    raise ``num_tables`` to buy it back when hunting lower-similarity
    pairs. Costs one count() job — against the cached slim frame, not
    the source."""
    import math

    import numpy as np

    from ..functions.similarity import dot, l2_norm

    # ONE input pass (VERDICT r14 item 1 — was three: the auto-sizing
    # count(), the bucket-kernel materialization, and the verify join
    # each re-scanned the source). Persist the slim (id, v, nrm)
    # projection FIRST; the count, the bucket kernel, and both verify
    # sides all read the cache. dot()/l2_norm() cast to double
    # internally, so hoisting the cast here is value-identical.
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    ).persist()

    if num_planes is None:
        n = vecs.count()  # materializes the cache — the only source scan
        num_planes = max(8, math.ceil(math.log2(max(n, 2) / target_bucket)))

    # Bucket assignment as one Arrow-batched matmul: (batch × dim) @
    # (dim × tables·planes), sign bits packed per table. The equivalent
    # column-expression form (functions/similarity.py:
    # random_projection_buckets) evaluates tables·planes·dim interpreted
    # lambda steps PER ROW — HOFs sit outside whole-stage codegen — and
    # profiled 2.0 s vs ~0.2 s for this kernel on a 4k-vector corpus.
    # BLAS reorders the dot summation vs the fold, so a |dot| within
    # ~1e-13 of zero can bucket differently than the HOF form — harmless
    # for an OR-of-tables candidate generator and deterministic per
    # numpy build; the exactness story lives in the verify step.
    planes = np.array(
        lsh_hyperplanes(dim, num_planes, num_tables, seed)
    )  # (L, b, d)
    proj = planes.reshape(num_tables * num_planes, dim).T.copy()  # (d, L·b)
    weights = (1 << np.arange(num_planes, dtype=np.int64))
    tables = np.arange(num_tables, dtype=np.int64)

    def bucket_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bits = (V @ proj) >= 0  # (n, L·b)
            buckets = bits.reshape(len(V), num_tables, num_planes) @ weights
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), num_tables),
                    "table_idx": np.tile(tables, len(V)),
                    "bucket": buckets.reshape(-1),
                }
            )

    # persist: the self-join would otherwise recompute the buckets for
    # each side; result.cleanup() releases it (operators/cache.py).
    # Buckets carry only (id, table, bucket) — vectors stay out of the
    # candidate shuffle. Input = the cached slim frame, not the source.
    bucketed = (
        vecs.select("id", "v")
        .mapInPandas(
            bucket_kernel,
            # id type follows the input column (string/long/... ids all
            # valid — see minhash_signatures' matching derivation)
            schema=(
                f"id {df.schema[id_col].dataType.simpleString()},"
                " table_idx int, bucket long"
            ),
        )
        .persist()
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    # dedup candidate id-pairs BEFORE verification: a pair sharing
    # buckets in several tables must be cosine-verified once, not once
    # per table — the fold-based cosine is the expensive interpreted
    # step (measured 3.4x on the sf0.1 gate corpus, where the planted
    # twins collide in all 8 tables)
    cand_ids = (
        a.join(
            b,
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # norms once per VECTOR (n × dim), not twice per PAIR (2·|cands| ×
    # dim): the fold-based l2 is interpreted, and candidates outnumber
    # vectors ~100× at bucket-collision densities. Same expression tree
    # per value → bit-identical to the inline cosine(). Both sides read
    # the slim cache persisted above.
    va = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")
    )
    vb = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")
    )
    cands = (
        cand_ids.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6
            ).alias("cos_sim"),
        )
    )
    return attach_cleanup(cands.filter(F.col("cos_sim") >= threshold), bucketed, vecs)


def dedup_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.95,
    num_planes: int | None = None,
    num_tables: int = 8,
    seed: int = 42,
    max_iter: int = 20,
    keep: str = "min_id",
    score_col: str | None = None,
) -> DataFrame:
    """One-call semantic (embedding-space) deduplication: sign-bit-LSH
    candidates → exact cosine ≥ ``threshold`` → connected components →
    one representative per component. The embedding analog of
    `dedup_corpus`: same shuffle discipline (bucket joins and id lists,
    never the O(n²) pair space) and the same retention policies —
    ``keep="min_id"`` (default) or ``keep="best"`` + ``score_col``
    (highest score per component, ties to minimum id)."""
    from .cluster import connected_components

    if keep not in ("min_id", "best"):
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    if (keep == "best") != (score_col is not None):
        raise ValueError(
            "keep='best' requires score_col (and score_col requires "
            "keep='best') — a half-specified retention policy would "
            "silently keep the wrong copies"
        )
    pairs = embedding_neardup_pairs(
        df, vec_col, id_col, dim, threshold, num_planes, num_tables, seed
    )
    clusters = connected_components(pairs, max_iter=max_iter)
    if keep == "min_id":
        non_reps = clusters.filter(
            F.col("node") != F.col("cluster_id")
        ).select(F.col("node").alias(id_col))
    else:
        member_scores = clusters.join(
            df.select(
                F.col(id_col).alias("node"), F.col(score_col).alias("__sc")
            ),
            "node",
        )
        reps = (
            member_scores.groupBy("cluster_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__sc")).alias("s"), F.col("node").alias("n")
                    )
                ).alias("__best")
            )
            .select(F.col("__best.n").alias("__rep"))
        )
        non_reps = clusters.join(
            reps, clusters["node"] == reps["__rep"], "left_anti"
        ).select(F.col("node").alias(id_col))
    return attach_cleanup(df.join(non_reps, id_col, "anti"), pairs, clusters)


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    keep: str = "first",
    min_chars: int = 1,
) -> DataFrame:
    """Sub-document (line-level) exact dedup — the C4-style pass that
    strips boilerplate lines repeated across a crawl (nav bars, cookie
    banners, license blocks) while keeping the documents themselves.

    Splits each document on ``sep``, fingerprints every line (md5), and
    across the WHOLE corpus keeps:

    - ``keep="first"``: the first occurrence of each line — ordered by
      (id, position), so survival is deterministic;
    - ``keep="none"``: no copy of any line occurring more than once
      (the aggressive variant of the C4 paper's three-sentence rule).

    Lines shorter than ``min_chars`` bypass dedup entirely (empty lines
    and separators are structure, not content). Documents are then
    reassembled in original line order; a document whose every line was
    dropped survives as an empty string, never a lost row.

    Returns (id, text, n_kept, n_dropped).

    Scale shape (restructured after the round-7 review): bypass lines
    (< min_chars — e.g. every empty line of a newline-heavy corpus)
    NEVER enter the fingerprint shuffle, so there is no degenerate
    NULL-fp window partition; `keep="first"` is a row_number FILTER
    over the fp window — the exact shape Spark 4's WindowGroupLimit
    rule trims PARTIALLY below the exchange (plan-asserted in tests),
    so a boilerplate line occurring on billions of pages ships one
    candidate per input partition, not every copy; `keep="none"` is a
    partial-agg groupBy count joined back. Reassembly is one per-doc
    regroup of the SURVIVORS plus a narrow (id, total) join that
    resurrects fully-dropped documents. Line CONTENT crosses the fp
    shuffle once; at 100 TB swap the line for its fp + first-copy
    content join if lines are huge (not done here: lines are short by
    construction).
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if min_chars < 0:
        raise ValueError(f"min_chars must be >= 0, got {min_chars}")
    from pyspark.sql.window import Window

    lines = df.select(
        F.col(id_col).alias("id"),
        # F.split's pattern is a Java regex; \\Q...\\E quotes the
        # separator so sep="." or "|" splits literally, matching the
        # literal array_join on reassembly
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("pos", "line"),
    )
    dedupable = F.length("line") >= min_chars
    content = lines.filter(dedupable).withColumn("fp", F.md5(F.col("line")))
    if keep == "first":
        w = Window.partitionBy("fp").orderBy(F.col("id").asc(), F.col("pos").asc())
        winners = (
            content.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)  # rank filter => WindowGroupLimit
            .drop("__rn", "fp")
        )
    else:
        counts = content.groupBy("fp").agg(F.count(F.lit(1)).alias("__cnt"))
        winners = (
            content.join(counts, "fp")
            .filter(F.col("__cnt") == 1)
            .drop("__cnt", "fp")
        )
    kept_lines = winners.unionByName(lines.filter(~dedupable))
    reassembled = kept_lines.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("line")))),
                lambda st: st["line"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), "\\Q" + sep + "\\E"))
        .cast("long")
        .alias("__total"),
    )
    return (
        totals.join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("__total") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


#: window-fingerprint recipes shared by `substring_dedup` and the
#: streaming continuation (streaming/incremental.py): name → (column
#: fn over the window text, the matching empty-array cast type).
#: "xxhash128" = two independently-seeded xxhash64 halves in one
#: struct — a 16-byte JVM-side key (see the collision-budget note in
#: `substring_dedup`). Fold-order matters (ADVICE r12): Spark's
#: multi-arg xxhash64 folds children sequentially, each child hashed
#: with the RUNNING state as its seed — so the perturbing literal
#: must come FIRST. ``xxhash64(lit(1), c)`` hashes the content under
#: seed XXH64(1, 42) ≠ 42, giving a genuinely independent second
#: hash; the previous ``xxhash64(c, lit(1))`` hashed the literal
#: under seed h1, making h2 a pure function of h1 (any 64-bit
#: collision collided the whole struct).
_WINDOW_FP = {
    "md5": (F.md5, "array<string>"),
    "xxhash": (F.xxhash64, "array<bigint>"),
    "xxhash128": (
        lambda c: F.struct(
            F.xxhash64(c).alias("h1"), F.xxhash64(F.lit(1), c).alias("h2")
        ),
        "array<struct<h1:bigint,h2:bigint>>",
    ),
}


def window_fps(toks: Column | str, k: int, fingerprint: str) -> Column:
    """Fingerprints of every k-token window (starts 1..n-k+1, empty
    below k tokens) of a PROJECTED token-array column: the transform
    lambda reads it, and an unbound split would re-run per window."""
    fp_of, fp_arr_type = _WINDOW_FP[fingerprint]
    npos = F.size(toks) - F.lit(k) + F.lit(1)
    return F.when(
        npos >= 1,
        F.transform(
            F.sequence(F.lit(1), npos),
            lambda i: fp_of(F.array_join(F.slice(toks, i, k), " ")),
        ),
    ).otherwise(F.array().cast(fp_arr_type))


def merged_dup_intervals(dup_pos, k: int):
    """Fold a SORTED array of duplicate-window start positions (each
    covering ``[p, p+k)``) into merged disjoint ``[s, e)`` interval
    structs — one left-to-right ``aggregate``. Because the input is
    sorted ascending, an overlapping/touching window always extends the
    LAST interval's end (``p + k >= last.e`` whenever ``p <= last.e``),
    so the fold never looks back more than one element. n_intervals ≤
    n_tokens/k + 1 (disjoint intervals are each ≥ k long), which is
    what caps the splice filter at O(n_tokens²/k) worst-case instead of
    O(n_tokens · n_windows) (VERDICT r11)."""
    kk = F.lit(k)
    empty = F.array().cast("array<struct<s:int,e:int>>")

    def step(acc, p):
        last = F.element_at(acc, -1)
        return F.when(
            (F.size(acc) > 0) & (p <= last["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(last["s"].alias("s"), (p + kk).alias("e"))
                ),
            ),
        ).otherwise(
            F.concat(
                acc, F.array(F.struct(p.alias("s"), (p + kk).alias("e")))
            )
        )

    return F.aggregate(dup_pos, empty, step)


def substring_dedup(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprint: str = "md5",
    keep: str = "first",
) -> DataFrame:
    """Substring-granularity exact dedup — the Lee-et-al-style pass
    (\"Deduplicating Training Data Makes Language Models Better\",
    2021) that removes TOKEN SPANS repeated anywhere in the corpus,
    sitting between :func:`line_dedup` (structural lines) and document
    dedup: a license block pasted mid-paragraph into a million pages
    is invisible to both, but every one of its k-token windows repeats
    verbatim. The "fingerprint k-token windows" framing replaces the
    paper's suffix array (single-machine by construction) with one
    shuffle.

    Semantics (``keep="first"``, the paper's "remove all but one";
    ``keep="none"`` is the aggressive variant — EVERY occurrence of a
    window seen more than once corpus-wide is removed, canonical
    included):

    1. split each document on single spaces into tokens;
    2. fingerprint every k-token window (positions 0 … n_tokens−k);
    3. across the WHOLE corpus the first occurrence of each window —
       ordered by (id, position) — is canonical; every other
       occurrence is a duplicate span;
    4. per document, remove the tokens covered by the UNION of its
       duplicate-span windows and re-splice the survivors with single
       spaces. The canonical occurrence keeps its tokens, so exactly
       one copy of every duplicated passage survives corpus-wide.

    Documents shorter than ``k`` tokens have no windows and pass
    through verbatim. Returns (id, text, n_tokens, sub_dup_windows,
    sub_dup_tokens) — stats are pre-splice: window occurrences lost to
    a canonical elsewhere, and distinct token positions they cover.

    Scale shape: the reference algorithm is a suffix array over the
    concatenated corpus — inherently single-machine. Here the window
    fingerprints are the suffix array's moral equivalent with ONE
    shuffle: windows explode to (id, pos, fp) rows — n_tokens rows per
    doc, linear, never the O(n²) pair space — then canonical-occurrence
    selection is a map-side-combinable ``min(struct(id, pos))`` groupBy
    on fp joined back on the SAME key (both sides hash-partition on fp,
    and a boilerplate window occurring on a billion pages costs one
    partial-agg row per input partition, not a single-reducer window
    sort — the hot-fp reason this is an agg+join, not row_number).
    Duplicate positions regroup per doc (bounded by doc length) and the
    splice is a pure higher-order filter — zero Python anywhere.
    ``fingerprint="md5"`` (default) is engine-portable for the q88
    oracle; ``fingerprint="xxhash"`` ships 8-byte keys instead of
    32-hex strings — 4× less shuffle-key traffic. Window content
    itself never crosses the shuffle (only fp + id + pos), so k never
    multiplies shuffle bytes; the O(n·k) window re-hash stays inside
    whole-stage codegen (a rolling/polynomial hash over per-token
    hashes would make it O(n) — not worth Python until profiles say
    the scan is hash-bound).

    Collision budget (ADVICE r11): any exact-hash fingerprint turns a
    cross-window hash collision into a FALSE duplicate span — k real
    tokens silently spliced out of one document. With W corpus windows
    the expected number of colliding window pairs is ~W²/2^(b+1) for a
    b-bit hash. At 100 TB (~10¹¹–10¹² windows), 64-bit ``"xxhash"``
    expects ~10²–10⁴ such splices corpus-wide — bounded and usually
    acceptable against ~10¹² windows, but NOT zero; ``"xxhash128"``
    (two independently-seeded xxhash64 halves in one struct key, 16
    bytes — still JVM-side, still half md5's shuffle-key bytes) drops
    the expectation below 10⁻¹⁴, effectively exact at any feasible
    corpus size. The second half hashes a perturbing literal BEFORE
    the content — ``xxhash64(lit(1), c)`` — so the content is hashed
    under a different running seed; hashing the literal after would
    make h2 a pure function of h1 and collapse the budget back to
    64 bits (ADVICE r12, fixed r13). ``"md5"`` is also 128-bit but ships 32-hex-char
    string keys. All three paths produce identical output whenever no
    collision occurs (pinned by test_fingerprint_paths_agree).

    Splice cost: duplicate positions first fold into merged DISJOINT
    ``[start, end)`` intervals (one ``aggregate`` over the sorted
    array), and the token filter tests membership against intervals —
    O(n_tokens × n_intervals) with n_intervals ≤ n_tokens/k + 1,
    instead of O(n_tokens × n_dup_windows): a fully-duplicated
    10k-token doc costs ~2·10⁴ comparisons, not 10⁸ (VERDICT r11).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if fingerprint not in ("md5", "xxhash", "xxhash128"):
        raise ValueError(
            "fingerprint must be 'md5', 'xxhash', or 'xxhash128', "
            f"got {fingerprint!r}"
        )
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")

    base = df.select(F.col(id_col).alias("id"), F.col(text_col)).withColumn(
        "_toks", tokens(text_col)
    )
    # (id, pos, fp) — pos is the 0-BASED window start
    wins = base.select(
        "id", F.posexplode(window_fps("_toks", k, fingerprint)).alias("pos", "fp")
    )
    if keep == "first":
        firsts = wins.groupBy("fp").agg(
            F.min(F.struct("id", "pos")).alias("first")
        )
        dups = (
            wins.join(firsts, "fp")
            .filter(F.struct("id", "pos") != F.col("first"))
            .select("id", "pos")
        )
    else:  # keep == "none": every occurrence of a repeated window goes
        counts = wins.groupBy("fp").agg(F.count(F.lit(1)).alias("__cnt"))
        dups = (
            wins.join(counts, "fp")
            .filter(F.col("__cnt") > 1)
            .select("id", "pos")
        )
    dup_pos = dups.groupBy("id").agg(
        F.sort_array(F.collect_list("pos")).alias("_dup_pos"),
        F.count(F.lit(1)).cast("long").alias("sub_dup_windows"),
    )
    joined = base.join(dup_pos, "id", "left").withColumn(
        "_dup_pos", F.coalesce("_dup_pos", F.array().cast("array<int>"))
    )
    # let_bound is LOAD-BEARING: a plain withColumn("_ivs", …) collapses
    # into the filter lambda under projection collapse and re-runs the
    # interval fold PER TOKEN (measured 5× slower than the raw exists
    # at n=2000); binding it as a lambda variable evaluates it once per
    # kept-reference
    kept = let_bound(
        merged_dup_intervals("_dup_pos", k),
        lambda ivs: F.filter(
            "_toks",
            lambda x, i: ~F.exists(
                ivs, lambda iv: (i >= iv["s"]) & (i < iv["e"])
            ),
        ),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.coalesce("sub_dup_windows", F.lit(0))
        .cast("long")
        .alias("sub_dup_windows"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("sub_dup_tokens"),
    )

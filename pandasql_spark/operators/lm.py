"""Statistical language-model quality scoring (CCNet-style): train a
unigram model ON the corpus, score every document by its mean token
log-probability. Low scores flag gibberish / boilerplate / wrong-
language text; CCNet (Wenzek et al., arXiv:1911.00359) uses exactly
this signal (with a KenLM 5-gram) to tier CommonCrawl by quality —
the unigram variant keeps the same two-pass distributed shape with an
engine-portable oracle (q72).

Plan shape (two passes over the corpus, zero driver-side data):

1. **Count pass**: explode tokens → groupBy(token) count. Map-side
   partial aggregation does the heavy lifting — the shuffle carries
   one row per DISTINCT token per map partition, not per occurrence.
2. **Score pass**: explode again, attach each token's corpus count,
   per-doc mean of ln(count / N). The count table joins BROADCAST by
   default (a 1M-type vocab is ~20 MB); at web-scale vocabularies
   (hash-bucketed token counts > broadcast range) set
   ``broadcast_vocab=False`` for a shuffle join — token frequency
   skew is then AQE's problem, which splits the hot 'the'-partitions.

Every token scores > 0 occurrences by construction (the model is
trained on the scored corpus), so no smoothing is needed for the
self-scoring use; `score_against` scores one corpus under ANOTHER
corpus's model with add-one smoothing for unseen tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, cnt) over the whole corpus — single-space tokenization,
    same convention as every text operator here."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """(id_col, n_tokens, logprob): per-document mean ln(p(token))
    under the corpus's own unigram distribution, rounded to 6 places
    (cross-engine comparability). Higher is more typical; tail docs
    are quality-filter candidates.

    N = Σcnt is computed as a driver-side action against the PERSISTED
    counts table and embedded as a literal — the r14 shape derived N
    from the counts exchange so AQE ReusedExchange would serve the
    vocab join and the N aggregate from one shuffle, and the executed
    PLAN TEXT does show the reuse, but the r15 REST file-byte audit
    caught the runtime truth: the vocab broadcast and the N broadcast
    compile as INDEPENDENT AQE subplans whose jobs each re-ran the
    scan+explode+count map stage (3 real corpus reads, not the
    plan-pinned 2). The persist makes the count pass run exactly once
    (the N action fills the cache; the vocab broadcast reads it) —
    same integer N, same double division, bit-identical scores. The
    returned frame's ``cleanup()`` releases the counts cache."""
    from .cache import attach_cleanup

    counts = unigram_counts(df, text_col).persist()
    row = counts.agg(F.sum("cnt").alias("n")).first()
    n_total = int(row["n"]) if row["n"] is not None else 1  # empty corpus
    vocab = F.broadcast(counts) if broadcast_vocab else counts
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    out = (
        toks.join(vocab, on="token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("cnt") / F.lit(n_total).cast("double"))), 6
            ).alias("logprob"),
        )
    )
    return attach_cleanup(out, counts)


def score_against(
    df: DataFrame,
    model_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Score ``df`` under ``model_df``'s unigram model with add-one
    smoothing: p(t) = (c_t + 1) / (N + V), c_t = 0 for unseen tokens.
    The cross-corpus variant (e.g. score a crawl under a trusted
    corpus's model — the CCNet setup)."""
    counts = unigram_counts(model_df, text_col)
    stats = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"),
        F.count(F.lit(1)).alias("v"),
    )
    vocab = F.broadcast(counts) if broadcast_vocab else counts
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    return (
        toks.join(vocab, on="token", how="left")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                        / (F.col("n") + F.col("v"))
                    )
                ),
                6,
            ).alias("logprob"),
        )
    )


def _adjacent_pairs(toks: Column | str) -> Column:
    """array<struct<w1, w2>> of adjacent tokens, empty below two tokens.
    ``toks`` is a projected token-array column, so each row splits once."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"),
            F.slice(toks, 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array())


def bigram_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w1, w2) adjacent-token pairs, one row per occurrence — the
    JVM-side explode both bigram passes share.

    The coalesce wrappers are NULLABILITY declarations, not semantics:
    split-token array elements are never null, but Catalyst can't
    prove it, and nullable join keys made the model join inject
    isnotnull filters asymmetrically below the pair-counts exchange —
    its two consumers (context counts and the model probe) then
    canonicalized differently and AQE exchange reuse silently died,
    re-running the whole corpus explode+count for the context pass
    (caught r14 by reading the executed plan: 3 corpus scans where
    the docstring promised 2; the dsir.py bucket column hit the same
    trap). Plan-pinned in test_lm.py."""
    return (
        df.select(tokens(text_col).alias("__toks"))
        .select(F.explode(_adjacent_pairs("__toks")).alias("p"))
        .select(
            F.coalesce(F.col("p.w1"), F.lit("")).alias("w1"),
            F.coalesce(F.col("p.w2"), F.lit("")).alias("w2"),
        )
    )


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = False,
) -> DataFrame:
    """(id, n_bigrams, logprob): per-document mean conditional
    ln(p(w2 | w1)) under the corpus's own bigram model — the sharper
    CCNet-style quality signal (unigram scoring can't see scrambled
    word ORDER; a bag-of-frequent-words spam page scores high on
    unigrams and low here). Single-token documents carry n_bigrams=0
    and a NULL logprob (no conditional events), never a dropped row.

    p(w2|w1) = c(w1,w2) / c(w1,·) with both counts from the scored
    corpus itself — every numerator ≥ 1 by construction, no smoothing
    needed (the `score_against` cross-corpus variant is where
    smoothing lives). Plan shape mirrors the unigram op: one count
    pass with map-side combine (context counts reuse the bigram
    exchange: groupBy(w1) over the counted pairs, not a third corpus
    scan), then one score pass joining the model. Unlike the UNIGRAM
    vocabulary (bounded by the language), the bigram model grows with
    the corpus — hundreds of millions of distinct pairs on a web
    corpus — so ``broadcast_vocab`` defaults to FALSE here (shuffle
    join; skewed 'the'-contexts are AQE's problem); opt in to the
    broadcast only for bounded domains."""
    pair_counts = bigram_pairs(df, text_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ctx_counts = pair_counts.groupBy("w1").agg(F.sum("cnt").alias("ctx"))
    model = pair_counts.join(ctx_counts, "w1")
    if broadcast_vocab:
        model = F.broadcast(model)

    doc_pairs = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        id_col, F.explode_outer(_adjacent_pairs("__toks")).alias("p")
    ).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    return (
        doc_pairs.join(model, ["w1", "w2"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.col("w1")).cast("long").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("cnt") / F.col("ctx"))), 6
            ).alias("logprob"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    stratum_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    labels: tuple = ("head", "middle", "tail"),
    attach_input: bool = True,
) -> DataFrame:
    """CCNet-style corpus partition by LM quality (Wenzek et al. 2020:
    the head/middle/tail split that decides what gets kept, reviewed,
    or dropped): score every document with the corpus's own unigram
    model (mean token ln-probability — `unigram_logprob_scores`, the
    cheap in-corpus stand-in for an external LM's perplexity; lower
    perplexity == higher mean logprob), then split EACH stratum at its
    own exact score quantiles into ``n_buckets`` tiers. Returns the
    input columns + (logprob, ppl_tier, ppl_bucket): tier 0 is the
    stratum's best-scoring slice ("head"), tier n−1 its worst
    ("tail"). Per-stratum cut points are the point — raw logprobs are
    not comparable across languages/sources (different vocabularies,
    different base rates), which is exactly why CCNet buckets per
    language.

    Scale shape: one corpus count pass + a broadcast score join (the
    q72 machinery), then per-stratum cut points via
    `ranking.quantile_normalize` — a (strata × n_buckets−1) broadcast
    cut table and a codegen array-filter assignment; no per-stratum
    single-reducer window ever touches the data. A document whose
    score ties a cut point lands in the lower tier (strictly-below
    counting), deterministically.

    ``attach_input`` (default True) joins the tier columns back onto
    the full input — the profile-fold shape (q16 rides the output's
    text column). A caller that only needs the per-doc tier verdict
    (id → tier, e.g. to drive a downstream keep/drop filter joined on
    the id) should pass ``attach_input=False``: the wide input columns
    then never enter the tier join at all — at 100 TB that join is a
    full-corpus shuffle-or-broadcast of every payload column, paid for
    nothing (ADVICE r13).

    A lineage barrier (operators/cache.py) checkpoints the slim
    (id, stratum, logprob) frame before the quantile stage — without
    it Catalyst re-derives the whole scoring subtree (three corpus
    scans + two shuffles) once for the cut points and once for the
    assignment (the curation.py 4^k lesson, measured on q16's plan:
    9 → 6 parquet scans). The checkpointed frame is 2 narrow columns
    + the key; the returned frame carries ``result.cleanup()`` to
    release the blocks once materialized (not recomputable after).

    Oracle status: driver-gated since r13 via the q16 doc-profile fold
    (queries/_defs_a.py — logprob + ppl_tier + ppl_bucket columns;
    the oracle chains q72's scoring CTE with q91's per-stratum cut
    machinery and replays the strict-below tie rule). The r12 IOU,
    collected. The pure-Python differential in test_lm.py remains the
    adversarial-distribution coverage."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if len(labels) != n_buckets:
        raise ValueError(
            f"labels must have n_buckets={n_buckets} entries, got {len(labels)}"
        )
    from .cache import attach_cleanup, barrier
    from .ranking import quantile_normalize

    scored = unigram_logprob_scores(df, text_col=text_col, id_col=id_col)
    slim = barrier(
        df.select(id_col, stratum_col).join(
            scored.select(id_col, "logprob"), id_col, "left"
        )
    )
    q = quantile_normalize(
        slim, "logprob", [stratum_col], k=n_buckets, out_col="__pct"
    )
    # __pct = (#cuts strictly below)/n ∈ {0, 1/n, …, (n−1)/n} exactly;
    # round() recovers the integer before the cast (m/n·n can land a
    # half-ulp under m)
    below = F.round(F.col("__pct") * F.lit(n_buckets)).cast("int")
    tier = F.lit(n_buckets - 1) - below
    label = F.element_at(
        F.array(*[F.lit(x) for x in labels]), tier + F.lit(1)
    )
    tiers = (
        q.withColumn("ppl_tier", tier)
        .withColumn("ppl_bucket", label)
        .select(id_col, "logprob", "ppl_tier", "ppl_bucket")
    )
    out = df.join(tiers, id_col, "left") if attach_input else tiers
    # compose our own barrier's release with the scorer's counts cache
    return attach_cleanup(out, slim, scored)

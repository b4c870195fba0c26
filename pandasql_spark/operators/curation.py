"""One-call corpus curation: the standard pretraining prep pipeline as
a composition of this package's operators, in the canonical order —

    1. quality gate      (token-count bounds; cheap filters first so
                          every later stage scans less)
    2. repetition gate   (optional: Gopher top/dup n-gram thresholds)
    3. LM quality gate   (optional: unigram and/or bigram logprob
                          floors, CCNet-style — the bigram floor also
                          catches scrambled word ORDER that a
                          bag-of-words unigram score cannot)
    4. learned quality   (optional: hashed-feature linear classifier
                          probability floor — the fasttext-style
                          filter; pass trained weights via
                          classifier.weights_to_df, or none for the
                          seeded expression path)
    5. exact dedup       (normalized-text fingerprint, keep lowest id)
    6. substring dedup   (optional: Lee-et-al k-token-window span
                          removal — REWRITES text_col, removing spans
                          already seen elsewhere in the corpus)
    7. decontamination   (drop docs sharing word n-grams with the
                          held-out eval set)
    8. PII redaction     (optional: rewrite the text column)
    9. mixture resample  (optional: apply a domain-weight recipe to a
                          row budget)

Each stage is an operator that already carries its own oracle-gated
query (q16/q67/q72/q19/q66/q68/q70); the composition of the four
always-on/oracle-chained stages is gated end-to-end as q71, whose
DuckDB oracle chains the same stages in SQL (optional stages default
off there). Plan shape: stage 1 is a pushable scan filter; 2 a
zero-shuffle Arrow kernel + anti-join; 3 two corpus passes (count +
broadcast score); 4 one fingerprint shuffle; 5 a broadcast anti-join
(eval n-grams are tiny by nature); 6 a codegen projection; 7 one
stratum-key shuffle — nothing quadratic, nothing driver-bound, every
stage's 100 TB argument inherited from its operator's own SCALING.md
entry.

Lineage discipline (r11): every gate that computes a verdict FROM the
running corpus and joins it BACK (dedup's keep set, the LM floors, the
weight-table classifier, the substring splice, decontamination,
repetition) references the corpus on both sides of a join, so chaining
k such stages lazily multiplies the upstream plan ~4× per stage —
measured 4 → 16 → 64 → 256 base-table scans for 0 → 3 optional stages
on top of dedup. At 100 TB that is the difference between a pipeline
and a non-terminating job. `curate_corpus` therefore inserts a lazy
lineage ``barrier`` (operators/cache.py: a non-eager localCheckpoint)
before each self-joining stage: each stage's input materializes exactly
once and every downstream reference reuses it — scans stay LINEAR in
stage count. localCheckpoint over persist
is a MEASURED choice, not a stylistic one: lazy persist fails to
deduplicate these chained self-joins (6.2 s / 129-scan plan vs 0.24 s
/ 0 at sf0.001 with three optional stages). The cost is truncated
lineage — an executor loss fails the job and it reruns — which still
beats 4^k recompute. ``result.cleanup()`` releases every barrier; the
result is not recomputable afterwards.

Reference scope note: beyond-reference surface; the reference engine
has no curation pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, let_bound, token_count, tokens
from .cache import attach_cleanup, barrier
from .contamination import contaminated_docs
from .sampling import resample_to_mixture


def curate_corpus(
    df: DataFrame,
    eval_df: DataFrame | None = None,
    min_tokens: int = 1,
    max_tokens: int | None = None,
    max_top_gram_frac: float | None = None,
    max_dup_gram_frac: float | None = None,
    repetition_n: int = 2,
    min_logprob: float | None = None,
    min_bigram_logprob: float | None = None,
    ngram_n: int = 13,
    hashed: bool = True,
    redact: bool = False,
    mixture: dict[str, float] | None = None,
    total_n: int | None = None,
    stratum_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    contamination_prefilter: str | None = None,
    substring_k: int | None = None,
    substring_fingerprint: str = "xxhash",
    min_quality_prob: float | None = None,
    quality_weights: DataFrame | None = None,
    quality_bias: float = 0.0,
    quality_normalize: bool = True,
    quality_n_buckets: int = 1 << 18,
    unicode_normalize: bool = False,
) -> DataFrame:
    """Quality-gate, dedup, decontaminate, and (optionally) redact and
    resample a document corpus; returns surviving rows with the input
    columns (``text_col`` rewritten when ``redact=True``).

    Optional stages engage only when their parameter is set:
    repetition thresholds (``max_top_gram_frac``/``max_dup_gram_frac``),
    the unigram-LM floor (``min_logprob``) and/or the bigram-LM floor
    (``min_bigram_logprob`` — mean conditional ln p(w2|w1), which
    catches scrambled word order; single-token docs have no
    conditional events and pass) — both scored on the post-quality
    corpus, i.e. the model is trained on what survived the cheap
    gates — the substring-span rewrite (``substring_k`` — every
    k-token span already seen elsewhere in the corpus is removed from
    ``text_col``, the Lee-et-al pass; runs after exact dedup so
    identical docs collapse before they could shred each other), the
    LEARNED quality floor (``min_quality_prob`` — docs
    keep only when the hashed-feature linear classifier's sigmoid
    probability clears it; ``quality_weights`` takes a trained
    (bucket, weight) frame from
    :func:`~pandasql_spark.operators.classifier.weights_to_df` — ONE
    broadcast model join, the model moves, the corpus doesn't — and
    ``quality_normalize`` must match how the model was trained; with
    no weights the zero-shuffle seeded expression path scores), PII
    redaction (``redact=True``), Unicode normalization
    (``unicode_normalize=True`` — strip control/zero-width chars +
    NFC via functions/text.py:normalize_unicode, applied FIRST so
    every downstream fingerprint sees canonical bytes; q94 gates the
    op, the stage is pure composition), and mixture resampling
    (``mixture`` + ``total_n``). ``eval_df=None`` skips
    decontamination; ``hashed=False`` joins contamination n-grams as
    raw strings (engine-portable — what the q71 oracle uses) instead
    of xxhash64 keys."""
    if (mixture is None) != (total_n is None):
        raise ValueError(
            "mixture and total_n must be provided together — a "
            "half-specified recipe would silently skip resampling and "
            "return the unresampled corpus"
        )
    if quality_weights is not None and min_quality_prob is None:
        raise ValueError(
            "quality_weights without min_quality_prob would silently "
            "skip the learned-quality gate — set the probability floor"
        )
    if min_quality_prob is not None and not 0.0 <= min_quality_prob <= 1.0:
        raise ValueError(
            f"min_quality_prob must be in [0, 1], got {min_quality_prob}"
        )

    releases: list = []

    def _barrier(d: DataFrame) -> DataFrame:
        # truncate lineage before a self-joining stage (module
        # docstring: chained gate joins otherwise grow the plan 4^k).
        # localCheckpoint, not persist — MEASURED: lazy persist fails
        # to deduplicate these chained self-joins (sf0.001, 3 optional
        # stages: 6.2 s and a 129-scan plan vs localCheckpoint's
        # 0.24 s and 0), so the fault-tolerance tradeoff is real but
        # one-sided: truncated lineage means an executor loss fails
        # the job (rerun), which beats 4^k recompute every time. Each
        # barrier is kept so result.cleanup() can release the
        # intermediates once the result is materialized (ADVICE r11:
        # checkpointed blocks otherwise stay resident until driver GC).
        out = barrier(d)
        releases.append(out)
        return out

    if unicode_normalize:
        from ..functions.text import normalize_unicode

        # FIRST, before any fingerprint-bearing stage: the NFD/NFC
        # spellings of one paragraph must collapse before dedup,
        # decontamination, or substring splicing hash anything
        out = df.withColumn(text_col, normalize_unicode(text_col))
    else:
        out = df

    # both bounds read one token count per row: let_bound, because
    # filter pushdown would inline a projected count into each bound
    def _gate(tc: Column) -> Column:
        ok = tc >= min_tokens
        return ok if max_tokens is None else ok & (tc <= max_tokens)

    out = out.filter(let_bound(token_count(tokens(text_col)), _gate))

    if max_top_gram_frac is not None or max_dup_gram_frac is not None:
        from .repetition import repetition_filter

        out = _barrier(out)
        out = repetition_filter(
            out,
            n=repetition_n,
            text_col=text_col,
            id_col=id_col,
            max_top_gram_frac=(
                1.0 if max_top_gram_frac is None else max_top_gram_frac
            ),
            max_dup_gram_frac=(
                1.0 if max_dup_gram_frac is None else max_dup_gram_frac
            ),
        )

    if min_logprob is not None:
        from .lm import unigram_logprob_scores

        out = _barrier(out)
        scored = unigram_logprob_scores(out, text_col=text_col, id_col=id_col)
        releases.append(scored)
        ok = (
            scored.filter(F.col("logprob") >= min_logprob)
            .select(id_col)
        )
        out = out.join(ok, on=id_col, how="semi")

    if min_bigram_logprob is not None:
        from .lm import bigram_logprob_scores

        out = _barrier(out)

        # NULL logprob (single-token docs: no conditional events) passes
        # the floor — no evidence is not low quality
        ok = (
            bigram_logprob_scores(out, text_col=text_col, id_col=id_col)
            .filter(
                F.col("logprob").isNull()
                | (F.col("logprob") >= min_bigram_logprob)
            )
            .select(id_col)
        )
        out = out.join(ok, on=id_col, how="semi")

    if min_quality_prob is not None:
        from .classifier import linear_quality_score

        if quality_weights is not None:
            out = _barrier(out)  # the weight-table path joins back
        scored = linear_quality_score(
            out,
            quality_weights,
            n_buckets=quality_n_buckets,
            bias=quality_bias,
            text_col=text_col,
            id_col=id_col,
            normalize=quality_normalize,
        )
        out = scored.filter(
            F.col("clf_prob") >= F.lit(float(min_quality_prob))
        ).drop("clf_score", "clf_prob")

    # exact dedup, keep-lowest-id: one shuffle on the 16-byte fingerprint
    out = _barrier(out)
    keep = (
        out.groupBy(fingerprint(text_col).alias("__fp"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    out = out.join(keep, on=id_col, how="semi")

    if substring_k is not None:
        from .dedup import substring_dedup

        out = _barrier(out)

        # span rewrite AFTER exact dedup (so identical docs don't
        # shred each other) and BEFORE decontamination/redaction (so
        # they see the text that will actually be trained on)
        # "xxhash" default; pass substring_fingerprint="xxhash128" for
        # the collision-budget-free scale path (substring_dedup doc)
        spliced = substring_dedup(
            out, k=substring_k, text_col=text_col, id_col=id_col,
            fingerprint=substring_fingerprint,
        ).select(id_col, F.col(text_col).alias("__spliced"))
        out = (
            out.join(spliced, on=id_col, how="inner")
            .withColumn(text_col, F.col("__spliced"))
            .drop("__spliced")
        )

    if eval_df is not None:
        out = _barrier(out)
        flagged = contaminated_docs(
            out, eval_df, n=ngram_n, text_col=text_col, id_col=id_col,
            hashed=hashed, prefilter=contamination_prefilter,
        ).select(id_col)
        out = out.join(flagged, on=id_col, how="anti")

    if redact:
        from ..functions.pii import redact_pii

        out = out.withColumn(text_col, redact_pii(text_col))

    if mixture is not None and total_n is not None:
        out = resample_to_mixture(
            out, stratum_col=stratum_col, weights=mixture,
            total_n=total_n, id_col=id_col,
        )
    # result.cleanup() releases every barrier's checkpointed blocks
    # (operators/cache.py contract: call once the result is
    # materialized/written; the barriers are then unrecomputable)
    return attach_cleanup(out, *releases)

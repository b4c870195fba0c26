"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): pick raw-corpus documents that LOOK LIKE a target
corpus, by importance weights under two hashed-n-gram bag models.

The method (public paper, §3): featurize every document as counts over
B hash buckets of its unigrams+bigrams; fit bucket-probability models
p (target) and q (raw) with add-α smoothing; weight each raw document
by log w(d) = Σ_b c_d[b]·(ln p[b] − ln q[b]); resample the top of that
ranking (optionally Gumbel-perturbed for statistical resampling
rather than deterministic top-k). It's the standard cheap
"domain-match" selector for pretraining mixes — target = Wikipedia,
raw = CommonCrawl is the paper's flagship use.

Distributed shape (scale notes, 100 TB framing):

- **One scan of each corpus.** The raw corpus reduces to per-document
  bucket counts `(id, bucket, c)` — the SAME exchange then serves
  both consumers: the raw model's bucket marginal (Σc groupBy bucket,
  map-side combined, ≤ B rows out per map partition) and the scoring
  join. That is the r13/r14 `unigram_logprob_scores` lesson (derive
  the model from the counts exchange, never rescan the corpus)
  applied from birth. The target corpus aggregates straight to its
  ≤ B-row bucket table.
- **The model is tiny by construction.** λ = ln p − ln q lives on
  ≤ B rows (default 8192) regardless of corpus size — broadcast to
  the scoring join, so scoring is scan + broadcast-join + one
  groupBy(id) sum. No shuffle grows with the vocabulary (that's the
  point of hashing; contrast the bigram LM whose model grows with
  the corpus).
- **Selection is TakeOrderedAndProject** (orderBy + limit), the
  engine's distributed top-k — never a global single-reducer window.

Engine-portable determinism (the oracle contract): the bucket hash is
the first 8 hex digits of md5 (exact in both engines — the q61/q78
md5 recipe), ln/sum drift is absorbed by round-to-6 (the q72 recipe),
and `dsir_select` ranks on the ROUNDED weight with an id tiebreak so
both engines rank identical values. Gated via the q70 'dsir' stage
fold (r14); the Gumbel path is numpy-differential pytest-gated
(test_dsir.py) — its −ln(−ln u) noise is reproducible but sits too
close to rank boundaries to promise cross-engine bit-stability.

Reference scope note: the reference engine (pandasql, see
pandasql/core.py) has no text/selection surface at all; this operator
is part of the beyond-reference LLM-curation superset.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

_B_DEFAULT = 8192


def _hashed_grams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, g): one row per unigram+bigram occurrence. Bigrams join
    their tokens with a single space, so the gram string (and its md5)
    is reproducible verbatim in SQL."""
    toks = tokens(text_col)
    n = F.size(toks)
    grams = F.concat(
        toks,
        F.when(
            n >= 2,
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array()),
    )
    return df.select(F.col(id_col), F.explode(grams).alias("g"))


def _bucket(col: str, n_buckets: int):
    """Engine-portable hash bucket: first 8 md5 hex digits as an exact
    unsigned 32-bit integer, mod n_buckets. DuckDB computes the same
    value as CAST(concat('0x', substr(md5(g),1,8)) AS BIGINT).

    The coalesce is a NULLABILITY declaration, not a semantic: grams
    are never null (split/zip_with of a non-null text), but Catalyst
    can't prove it, and a nullable join key makes the scoring join
    inject an isnotnull filter BELOW the doc-counts exchange — the
    marginal's identical subtree then canonicalizes differently and
    AQE exchange reuse silently dies (a second full corpus scan).
    Plan-pinned in test_dsir.py."""
    return F.coalesce(
        F.conv(F.substring(F.md5(F.col(col)), 1, 8), 16, 10).cast("long")
        % n_buckets,
        F.lit(0).cast("long"),
    )


def hashed_ngram_doc_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = _B_DEFAULT,
) -> DataFrame:
    """(id, bucket, c): per-document hashed-n-gram feature counts —
    DSIR's featurizer. One corpus scan; the groupBy is map-side
    combined and its output is bounded by Σ_docs(distinct buckets per
    doc) ≤ Σ n_grams, typically ≪ the token explode."""
    g = _hashed_grams(df, text_col, id_col)
    return (
        g.select(id_col, _bucket("g", n_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def hashed_ngram_bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = _B_DEFAULT,
) -> DataFrame:
    """(bucket, cnt): corpus-level bucket marginal — the direct
    aggregation for corpora that only feed a MODEL (the target side;
    no per-doc stage, output ≤ n_buckets rows)."""
    g = _hashed_grams(df, text_col, id_col)
    return (
        g.select(_bucket("g", n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_importance_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = _B_DEFAULT,
    alpha: float = 1.0,
) -> DataFrame:
    """(id, logweight): per-raw-document hashed-n-gram importance
    log-weight, rounded to 6 places (cross-engine comparability — the
    q72 recipe). Higher = more target-like.

    log w(d) = Σ_b c_d[b] · λ[b], with
    λ[b] = ln(t_b + α) − ln(T + αB) − ln(r_b + α) + ln(R + αB),
    t/r the target/raw bucket counts and T/R their totals. T and R are
    window sums OVER the joined bucket frame itself (≤ 2B rows — a
    single-partition window is free at that size and keeps the totals
    inside the model subtree, so neither total spawns a re-derived
    corpus subquery; separate .agg() totals defeated AQE exchange
    reuse and re-scanned both corpora — executed-plan-pinned at two
    scans in test_dsir.py). Every raw doc with NON-NULL text appears
    in the output: the raw marginal covers every bucket any raw doc
    hits, and a non-null doc always holds ≥ 1 gram (`split` never
    returns an empty array). A NULL text row yields a NULL gram array,
    which `explode` drops — the doc is excluded from weighting and
    from any downstream selection, the same treat-NULL-as-absent
    convention as the rest of the text operators (ADVICE r14: this
    qualification IS the contract; filter upstream if NULL docs must
    be retained)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (smoothing), got {alpha}")
    from pyspark.sql import Window

    from .cache import attach_cleanup

    raw_counts = hashed_ngram_doc_counts(raw_df, text_col, id_col, n_buckets)
    r = raw_counts.groupBy("bucket").agg(F.sum("c").alias("rcnt"))
    # The t-table is ≤ B rows — persist it so T (its total, which must
    # count target mass in buckets NO raw doc hits, including the
    # zero-overlap corner where the left join carries no t row at all)
    # and the λ join share one target scan via the cache. R instead
    # rides the joined frame as a window sum (every r row is present
    # there by construction) — keeping R inside the main job is what
    # lets the raw doc-counts exchange serve both the marginal and the
    # scoring join (a separate R aggregate re-derived the whole raw
    # subtree; exchange reuse does not span jobs or pruned-copy
    # rewrites). Single-partition windows over ≤ B model rows are free.
    whole = Window.partitionBy()
    t = hashed_ngram_bucket_counts(
        target_df, text_col, id_col, n_buckets
    ).persist()
    T = t.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("t_total"))
    ab = float(alpha) * n_buckets
    lam = (
        r.join(t, "bucket", "left")
        .na.fill({"cnt": 0})
        .crossJoin(F.broadcast(T))  # 1-row frame
        .withColumn("r_total", F.sum("rcnt").over(whole))
        .select(
            "bucket",
            (
                F.log(F.col("cnt") + F.lit(float(alpha)))
                - F.log(F.col("t_total") + F.lit(ab))
                - F.log(F.col("rcnt") + F.lit(float(alpha)))
                + F.log(F.col("r_total") + F.lit(ab))
            ).alias("lam"),
        )
    )
    out = (
        raw_counts.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("c") * F.col("lam")), 6).alias("logweight"))
    )
    return attach_cleanup(out, t)


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = _B_DEFAULT,
    alpha: float = 1.0,
    gumbel_salt: str | None = None,
    temperature: float = 1.0,
) -> DataFrame:
    """(id, logweight): the k most target-like raw documents.

    Deterministic mode (gumbel_salt=None, the oracle-gated path):
    top-k by (logweight desc, id) over the ROUNDED weight — a
    rank-threshold cut both engines reproduce exactly, executed as
    TakeOrderedAndProject. The paper's statistical mode
    (gumbel_salt=str): Gumbel-top-k, key = logweight/temperature
    − ln(−ln u) with u a 52-bit md5(salt‖id) uniform (the hash_split
    recipe — deterministic, engine-portable BITS; the float key is
    pytest-gated against a numpy reference rather than promised
    cross-engine, see module doc). Equivalent to sampling k docs
    without replacement ∝ w^(1/temperature)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = dsir_importance_weights(
        raw_df, target_df, text_col, id_col, n_buckets, alpha
    )
    from .cache import attach_cleanup

    if gumbel_salt is None:
        # re-attach the weights table's release hook — orderBy/limit
        # return fresh frames and would otherwise drop it, leaving the
        # persisted target bucket table unreleasable (r16 review)
        return attach_cleanup(
            w.orderBy(F.col("logweight").desc(), F.col(id_col)).limit(k),
            w,
        )
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    # 52-bit md5 uniform in (0,1): +1 in the numerator and +2 in the
    # denominator keep u strictly inside the interval, so ln(-ln u) is
    # always finite. The bit extraction is sketch._hex13_to_double —
    # ONE definition of the md5-uniform recipe repo-wide (r16 review;
    # the cross-engine determinism contract hangs on this expression).
    from .sketch import _hex13_to_double

    bits = _hex13_to_double(
        F.md5(F.concat(F.lit(gumbel_salt), F.col(id_col).cast("string")))
    )
    u = (bits + F.lit(1.0)) / F.lit(float(2**52) + 2.0)
    key = F.col("logweight") / F.lit(float(temperature)) - F.log(-F.log(u))
    return attach_cleanup(
        w.withColumn("__gk", key)
        .orderBy(F.col("__gk").desc(), F.col(id_col))
        .limit(k)
        .drop("__gk"),
        w,
    )


def _py_bucket(g: str, n_buckets: int) -> int:
    """Pure-python reference bucket (tests only)."""
    import hashlib

    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets


def _py_logweight(
    text: str,
    t_counts: dict[int, int],
    r_counts: dict[int, int],
    t_total: int,
    r_total: int,
    n_buckets: int,
    alpha: float,
) -> float:
    """Pure-python reference weight (tests only)."""
    s = 0.0
    toks = text.split(" ")
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    for g in grams:
        b = _py_bucket(g, n_buckets)
        s += (
            math.log(t_counts.get(b, 0) + alpha)
            - math.log(t_total + alpha * n_buckets)
            - math.log(r_counts.get(b, 0) + alpha)
            + math.log(r_total + alpha * n_buckets)
        )
    return s

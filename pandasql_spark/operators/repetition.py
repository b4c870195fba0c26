"""Gopher-style repetition quality signals for pretraining corpora.

Rae et al. (Gopher, arXiv:2112.11446) filter web documents whose text
is dominated by repeated fragments: the fraction of content in the
single most-frequent n-gram, and the fraction covered by n-grams that
occur more than once. Dolma / RefinedWeb apply the same family of
rules. This module computes token-level analogs per document:

- ``n_grams``        — number of word n-grams in the doc
- ``top_gram_count`` — occurrences of the doc's most frequent n-gram
- ``top_gram_frac``  — top_gram_count / n_grams
- ``dup_gram_frac``  — (sum of counts of n-grams occurring >1 time) / n_grams

Plan shape: one Arrow-batched ``mapInPandas`` kernel that counts grams
per row with a hash map. ZERO shuffles — one scan, one Python
crossing. Same lesson as the MinHash kernel (SCALING.md "interpreted
HOFs"): Catalyst ``aggregate()`` lambdas over structs are interpreted
per-element, and the measured sf0.1 cost was ~3.9 s for a sorted-array
HOF fold vs ~0.6 s for the batched kernel. The q67 DuckDB oracle
(explode → count per gram → aggregate per doc) is the independent
check.

Reference scope note: the reference engine (pandaSQL) has no quality
filtering; this is part of the beyond-reference training-data-pipeline
surface (see SURVEY.md §2 addenda).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import let_bound, tokens


def word_ngrams(text_col: Column | str, n: int) -> Column:
    """Array of word n-grams: `text.tokens` tokens joined by single
    spaces — the n-grams contamination matches and the DuckDB oracles
    rebuild from string_split(text, ' '). Docs with fewer than ``n``
    tokens yield an empty array. The token array is a `let_bound`
    lambda variable: an unbound split inside the transform would re-run
    once per n-gram."""

    def _grams(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_bound(tokens(text_col), _grams)


def repetition_signals(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_grams, top_gram_count, top_gram_frac, dup_gram_frac)
    per document; documents with zero n-grams (< n tokens, or NULL
    text) are omitted, mirroring contamination.contaminated_docs.
    Fractions are rounded to 6 places for cross-engine comparability."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from collections import Counter

    # id schema derived from the input column, not hardcoded —
    # string/int doc ids both flow through (cf. dedup.py kernels)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, n_grams long, "
        "top_gram_count long, dup_gram_n long"
    )

    def kernel(batches):
        for pdf in batches:
            ids, ngs, tops, dups = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue  # NULL text ⇒ no grams
                toks = t.split(" ")
                m = len(toks) - n + 1
                if m < 1:
                    continue
                c = Counter(" ".join(toks[j : j + n]) for j in range(m))
                ids.append(i)
                ngs.append(m)
                tops.append(max(c.values()))
                dups.append(sum(v for v in c.values() if v > 1))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_grams": ngs,
                    "top_gram_count": tops,
                    "dup_gram_n": dups,
                }
            )

    agg = df.select(id_col, text_col).mapInPandas(kernel, out_schema)
    return agg.select(
        id_col,
        "n_grams",
        "top_gram_count",
        F.round(F.col("top_gram_count") / F.col("n_grams"), 6).alias("top_gram_frac"),
        F.round(F.col("dup_gram_n") / F.col("n_grams"), 6).alias("dup_gram_frac"),
    )


def repetition_filter(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_top_gram_frac: float = 0.20,
    max_dup_gram_frac: float = 0.60,
    min_grams: int = 16,
) -> DataFrame:
    """Drop documents whose repetition signals exceed the (Gopher-style)
    thresholds. Docs with fewer than ``min_grams`` n-grams are KEPT —
    the fractions are meaningless at tiny denominators (a 5-word doc of
    all-unique bigrams already has top_gram_frac 0.25); Gopher bounds
    short docs with a separate word-count rule, not this one. Returns
    the input columns."""
    sig = repetition_signals(df, n=n, text_col=text_col, id_col=id_col)
    bad = sig.filter(
        (F.col("n_grams") >= min_grams)
        & (
            (F.col("top_gram_frac") > max_top_gram_frac)
            | (F.col("dup_gram_frac") > max_dup_gram_frac)
        )
    ).select(id_col)
    return df.join(bad, on=id_col, how="left_anti")


def compression_ratio(text_col: Column | str = "text", level: int = 6) -> Column:
    """deflate(text) size / utf-8 size — the classic cheap proxy for
    templated/repetitive/boilerplate text (low ratio ≈ redundant;
    near-or-above 1.0 ≈ high-entropy or too short to compress): the
    document-level complement of the n-gram signals above, catching
    long-range redundancy n-grams miss. Arrow-batched pandas UDF over
    stdlib zlib at a FIXED level (deterministic bytes → deterministic
    ratio); ~100 MB/s/core, embarrassingly parallel, no shuffle. NULL
    text stays NULL; empty text reports ratio 0.0 (nothing to claim
    entropy for). Not SQL-oracle-expressible (no deflate in DuckDB) —
    pytest-differential coverage only, by design."""
    import zlib

    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _ratio(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return 0.0
            return len(zlib.compress(raw, level)) / len(raw)

        return texts.map(one)

    return _ratio(F.col(text_col) if isinstance(text_col, str) else text_col)

"""Distributed BPE subword-tokenizer induction (Sennrich et al.,
arXiv:1508.07909): learn a merge table by repeatedly fusing the most
frequent adjacent symbol pair, then encode text with it. Training a
tokenizer ON the corpus is a standard first step of an LLM data
pipeline, and its distributed shape is classic two-level:

1. **One corpus pass** collapses the corpus to a DISTINCT-WORD
   frequency table (``word_freq``). The vocabulary is bounded by the
   language while the corpus is not — the same observation lm.py
   leans on — so the 100 TB scan happens exactly once, as a groupBy
   with map-side combine.
2. **Each merge iteration runs over that small table only**: pair
   counts via an index-sequence explode (JVM-side, no Python), a
   1-row argmax collect (the merge rule IS driver state — that is the
   algorithm, not a shortcut), and a greedy left-to-right pair fusion
   expressed as an ``F.aggregate`` fold. An eager lineage ``barrier``
   (operators/cache.py) every few iterations truncates the growing
   lineage — the standard iterative-algorithm recipe (GraphX does the
   same) — and releases the round it supersedes.

The greedy fold is exact: scanning symbols left to right, fuse when
the accumulated tail equals ``a`` and the next symbol is ``b``. A
fused symbol ``a+b`` can never immediately re-fuse as the LEFT side
(``a+b != a`` since ``b`` is non-empty), which is precisely the
non-overlapping greedy scan ("aaa" + rule (a,a) -> ["aa","a"]).

``encode_bpe`` applies the learned rules IN LEARNED ORDER, each rule
exhaustively — which reproduces the training-time corpus state by
construction. (Priority-queue encoding à la GPT-2 differs only for
merge tables NOT learned from the corpus being encoded; documented
deviation.) The encoder is an Arrow-batched pandas UDF with a
per-batch word memo (natural-language vocab repeats — the dedup.py
cache trick); an expression encoder would grow its tree by one fold
per merge rule.

No reference counterpart: the reference engine (pandaSQL) has no
tokenizer induction; this is part of the training-pipeline surface
(SURVEY.md §6) on ``documents.parquet``.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..functions.text import tokens
from .cache import barrier

__all__ = [
    "word_freq",
    "pair_stats",
    "train_bpe",
    "encode_bpe",
    "encode_word",
]


def word_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, cnt): distinct-word frequencies — single-space tokenization,
    the repo-wide convention. Empty tokens are dropped."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _codepoints(col: Column) -> Column:
    """Split a string into an array of CODEPOINT characters.

    ``F.split(col, "")`` splits between Java UTF-16 code *units*, so a
    non-BMP codepoint (emoji, astral CJK) shatters into surrogate
    halves — diverging from DuckDB's codepoint-based ``substr`` (the
    q100 oracle) and Python's ``list(word)`` (``encode_word``). Java
    regex ``.`` matches one code *point* (surrogate pairs included), so
    a dotall extract-all is the codepoint-safe split, still JVM-side.
    """
    return F.regexp_extract_all(col, F.lit("(?s)."), 0)


def _adjacent_pairs(syms: Column) -> Column:
    """array of adjacent symbol pairs as (left, right) structs."""
    return F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("left"),
            F.element_at(syms, i + 1).alias("right"),
        ),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, pair_count) over a (syms, cnt) frame, each word's
    pairs weighted by its corpus frequency."""
    return (
        words.filter(F.size("syms") >= 2)
        .select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "cnt")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def pair_stats(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """(pair, pair_count, rank): the top-k most frequent adjacent
    CHARACTER pairs across the corpus, each word's pairs weighted by
    the word's frequency — iteration zero of BPE training, and a
    corpus statistic in its own right (digraph profiles drive the
    language-ID and gibberish heuristics). Deterministic total order:
    count desc, then pair asc. One corpus scan; everything after the
    word_freq groupBy runs on the vocabulary-sized table (q100)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    chars = word_freq(df, text_col).select(
        _codepoints(F.col("w")).alias("syms"), "cnt"
    )
    pairs = _pair_counts(chars).select(
        F.concat("left", "right").alias("pair"), "pair_count"
    )
    order = (F.desc("pair_count"), F.asc("pair"))
    return (
        pairs.orderBy(*order)
        .limit(k)
        .select(
            "pair",
            "pair_count",
            F.row_number().over(Window.orderBy(*order)).alias("rank"),
        )
    )


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right fusion of (left, right) -> left+right as a
    fold — exact per the module docstring argument."""
    fused = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    checkpoint_every: int = 4,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from the corpus; returns them
    in learned order. Ties break deterministically (count desc, left
    asc, right asc) so the result is reproducible across partitionings.
    Driver state is the merge table only (n_merges rows); all counting
    stays distributed on the vocabulary-sized word table."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    # eager: corpus scanned once, here
    cut = words = barrier(
        word_freq(df, text_col).select(
            _codepoints(F.col("w")).alias("syms"), "cnt"
        ),
        eager=True,
    )
    merges: list[tuple[str, str]] = []
    try:
        for i in range(n_merges):
            top = (
                _pair_counts(words)
                .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
                .limit(1)
                .collect()
            )
            if not top:  # vocabulary fully fused
                break
            left, right = top[0]["left"], top[0]["right"]
            merges.append((left, right))
            words = words.select(
                _merge_fold(F.col("syms"), left, right).alias("syms"), "cnt"
            )
            if (i + 1) % checkpoint_every == 0:
                words = barrier(words, eager=True)
                # the eager barrier was the superseded round's last read
                cut.cleanup()
                cut = words
    finally:
        # the merge table is driver-side: the last round is dead on return
        cut.cleanup()
    return merges


def encode_word(word: str, merges: Sequence[tuple[str, str]]) -> list[str]:
    """Pure-Python single-word encoder: apply each rule exhaustively in
    learned order (greedy left-to-right per rule). The per-word step of
    ``encode_bpe``."""
    syms = list(word)
    for left, right in merges:
        if len(syms) < 2:
            break
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def encode_bpe(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Add ``out_col``: the document's single-space-separated words
    (empty words dropped), each encoded with the merge table, flattened
    to one subword array; NULL text stays NULL. An Arrow-batched UDF
    with a per-batch word->tokens memo, so each distinct word's cost
    is paid once per batch."""
    merges = [tuple(m) for m in merges]

    @F.pandas_udf(ArrayType(StringType()))
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict[str, list[str]] = {}
        for texts in batches:
            out = []
            for text in texts:
                if text is None:
                    out.append(None)
                    continue
                toks: list[str] = []
                for w in text.split(" "):
                    if not w:
                        continue
                    enc = memo.get(w)
                    if enc is None:
                        enc = memo[w] = encode_word(w, merges)
                    toks.extend(enc)
                out.append(toks)
            yield pd.Series(out)

    return df.withColumn(out_col, _encode(F.col(text_col)))

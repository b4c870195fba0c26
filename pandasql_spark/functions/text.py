"""Text-analysis column functions for large-scale training-data pipelines.

All functions return `pyspark.sql.Column` built exclusively from JVM-side
builtins (split / filter / transform / aggregate / md5) — no Python UDFs
in the hot path, so they stay inside whole-stage codegen and scale
linearly with executors. Designed for the `documents` table
(doc_id, text, lang, source, n_chars) but schema-agnostic.

Tokenize once: `tokens` is the engine's one whitespace tokenizer, and
the token stats take its token ARRAY, not the text. Catalyst evaluates
a shared subexpression once only when it is bound to a column, so a
caller computing several stats projects ``tokens(text)`` once and
passes that column to each (q16: one split per row).

Determinism note: every function here is reproducible cross-engine (the
DuckDB oracles in __spark_entry__ mirror them expression-for-expression),
which is what makes them hash-checkable in the correctness gate.
"""

from __future__ import annotations

from typing import Iterator, Mapping, Sequence

import pandas as pd  # module scope: pandas_udf type-hint resolution
from pyspark.sql import Column
from pyspark.sql import functions as F

#: default stopword seed list — words present in common English text;
#: callers pass their own for real corpora.
DEFAULT_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")

#: tiny per-language marker profiles for the n-gram/stopword language-ID
#: heuristic. Real pipelines would plug fastText/CLD3 via a pandas UDF;
#: the heuristic keeps language-ID JVM-side and dependency-free.
DEFAULT_LANG_PROFILES: Mapping[str, Sequence[str]] = {
    "en": ("the", "and", "is", "of"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization: split the text on a single space (so
    runs of spaces yield empty tokens), the convention the DuckDB
    oracles' ``string_split(text, ' ')`` mirrors."""
    return F.split(col, " ")


def token_count(toks: Column | str) -> Column:
    """Number of tokens in a `tokens` array (project the array once
    when several stats read it)."""
    return F.size(toks)


def char_count(col: Column | str) -> Column:
    return F.length(col)


def uniq_token_count(toks: Column | str) -> Column:
    return F.size(F.array_distinct(toks))


def stopword_count(toks: Column | str, stopwords: Sequence[str] = DEFAULT_STOPWORDS) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(list(stopwords))))


def stopword_ratio(toks: Column | str, stopwords: Sequence[str] = DEFAULT_STOPWORDS) -> Column:
    return F.round(stopword_count(toks, stopwords) / token_count(toks), 6)


def type_token_ratio(toks: Column | str) -> Column:
    """Lexical diversity: distinct tokens / total tokens of a `tokens`
    array, rounded for cross-engine hash stability."""
    return F.round(uniq_token_count(toks) / token_count(toks), 6)


def quality_score(toks: Column | str, stopwords: Sequence[str] = DEFAULT_STOPWORDS) -> Column:
    """Heuristic document quality in [0,1] from a `tokens` array: length
    credit (saturating at 200 tokens) + lexical diversity + stopword
    presence. Deterministic, JVM-side, mirrors common quality filters
    (length/stopword ratios)."""
    tc = token_count(toks)
    length_credit = F.least(tc, F.lit(200)) / F.lit(200.0)
    diversity = uniq_token_count(toks) / tc
    stop_presence = F.least(stopword_count(toks, stopwords), F.lit(10)) / F.lit(10.0)
    return F.round(0.4 * length_credit + 0.4 * diversity + 0.2 * stop_presence, 6)


def lang_id(
    toks: Column | str,
    profiles: Mapping[str, Sequence[str]] = DEFAULT_LANG_PROFILES,
    default: str = "unk",
) -> Column:
    """Marker-word language ID over a `tokens` array: count hits per
    language profile, pick the argmax (ties broken by profile order),
    ``default`` when no profile scores. One pass over the token array
    per language — all JVM-side. The scores are `let_bound` as one
    array, so the plan filters once per profile however often the
    argmax reads a score."""

    def _hits(words: Sequence[str]):
        wl = list(words)
        # single-arg lambda: a two-arg lambda would be treated by
        # F.filter as (element, index) and silently misbehave.
        return F.size(F.filter(toks, lambda t: t.isin(wl)))

    langs = list(profiles)

    def _argmax(scores: Column) -> Column:
        # deterministic argmax: fold back-to-front with >= so that
        # earlier profiles win ties; a language needs at least one hit.
        best = F.lit(default)
        best_score = F.lit(0)
        for i in reversed(range(len(langs))):
            s = scores[i]
            best = F.when((s >= F.lit(1)) & (s >= best_score), F.lit(langs[i])).otherwise(best)
            best_score = F.greatest(best_score, s)
        return best

    return let_bound(F.array(*(_hits(profiles[lang]) for lang in langs)), _argmax)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


#: characters stripped by `strip_invisible`: C0/C1 controls (keeping
#: \t \n \r) plus the default-ignorable zero-width set (soft hyphen,
#: ZWSP/ZWNJ/ZWJ, word joiner, BOM). Java regex \x{...} syntax; the
#: oracle mirrors the same class in RE2.
_INVISIBLE_CLASS = (
    r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F"
    r"\x{00AD}\x{200B}-\x{200D}\x{2060}\x{FEFF}]"
)


def strip_invisible(col: Column | str) -> Column:
    """Remove control and zero-width characters — the invisible bytes
    that make visually identical crawl text fingerprint differently
    (a ZWSP inside a duplicated paragraph defeats `exact_dedup` and
    `substring_dedup`, whose hashes are byte-sensitive). Pure codegen
    `regexp_replace`; keeps tab/newline/CR."""
    return F.regexp_replace(col, _INVISIBLE_CLASS, "")


def normalize_unicode(col: Column | str, strip: bool = True) -> Column:
    """Unicode canonicalization for crawl text — the standard C4/CCNet
    pre-dedup stage this engine's fingerprints assume: (1) strip
    control/zero-width characters (`strip_invisible`, JVM codegen;
    ``strip=False`` skips it), then (2) NFC-normalize, so the NFD and
    NFC spellings of the same paragraph collapse to one byte sequence
    and dedup/decontamination see ONE document, not two.

    Spark has no built-in NFC (SPARK-47356 area; `lower`/`upper` are
    locale maps, not normalization), so step 2 is an Arrow-batched
    pandas UDF over Python's `unicodedata` — the documented exception
    to this module's JVM-only rule. The kernel short-circuits pure-
    ASCII strings (`str.isascii`, an O(n) C check — the overwhelmingly
    common case in web text), so the per-row Python cost is one
    predicate for most rows; stripping stays codegen either way.
    Normalization runs BEFORE dedup so order it early in a pipeline.
    NFC is stability-guaranteed for assigned codepoints, which is what
    keeps Python's unicodedata and DuckDB's utf8proc `nfc_normalize`
    (the q94 oracle) in exact agreement."""
    c = strip_invisible(col) if strip else col

    @F.pandas_udf("string")
    def _nfc(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import unicodedata

        for s in batches:
            yield s.map(
                lambda t: t
                if t is None or t.isascii()
                else unicodedata.normalize("NFC", t)
            )

    return _nfc(c)


def fingerprint(col: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text. md5 is stable
    across engines (oracle parity) and across Spark versions — do not
    swap for xxhash64 without updating the oracles."""
    return F.md5(normalize_text(col))


def let_bound(value: Column, body) -> Column:
    """Let-binding for array expressions: evaluate ``value`` ONCE per row
    and pass it to ``body`` as a bound lambda variable.

    Rationale: inside a higher-order-function lambda, a reference to an
    outer expression is RE-EVALUATED on every element (Catalyst binds
    lambda variables, not arbitrary subtrees), so e.g.
    ``transform(idx, i -> slice(split(text), i, k))`` re-splits the text
    once per shingle — O(tokens²) work per row. Wrapping the value in a
    one-element array and transforming over it makes it a lambda
    variable, which IS bound once. Measured on the sf0.1 documents
    corpus this turned the minhash/winnowing queries from minutes into
    seconds."""
    return F.transform(F.array(value), body)[0]


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (n-grams) of the token stream — the input
    to MinHash / Jaccard dedup. Documents shorter than k tokens yield a
    single shingle of the whole text."""

    def _shingle(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - (k - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, k)))

    return let_bound(tokens(col), _shingle)


def winnowing_fingerprints(col: Column | str, k: int = 3, w: int = 4) -> Column:
    """Rolling-hash document fingerprints by winnowing (Schleimer et al.,
    SIGMOD'03): hash every k-token shingle, slide a w-hash window over
    the sequence, keep each window's minimum, dedup. Guarantees any
    shared run of ≥ w+k-1 tokens between two docs yields at least one
    shared fingerprint — the standard plagiarism/near-dup sketch.

    Hashes are md5 hex strings (lexicographic min): stable across
    engines (DuckDB-oracle parity, same rationale as ``fingerprint``)
    and across Spark versions. Entirely JVM-side array expressions —
    no UDF, no shuffle; cost is O(tokens) per row.
    """
    def _winnow(grams: Column) -> Column:
        n_win = F.greatest(F.size(grams) - (w - 1), F.lit(1))
        wins = F.transform(
            F.sequence(F.lit(1), n_win), lambda j: F.array_min(F.slice(grams, j, w))
        )
        return F.array_distinct(wins)

    return let_bound(F.transform(word_shingles(col, k), F.md5), _winnow)


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
):
    """Per-document top-k TF-IDF terms — the classic keyword-extraction
    pass of a corpus pipeline. Returns (id, term, tf, df_ct, tfidf, rank).

    Plan: explode tokens → TF per (doc, term) [one shuffle, slim
    (id, term, count) rows, map-side combined] → localCheckpoint
    barrier → DF per term + the scoring join both read the barrier →
    smooth-idf score → per-doc window top-k. Ties broken
    lexicographically for determinism. All JVM-side.

    The barrier is load-bearing, not a cache hint: the DF branch
    prunes the unused tf count out of ITS copy of the TF aggregate,
    so the two subtrees canonicalize differently and exchange reuse
    can never unify them — without the barrier the plan re-ran the
    full corpus scan+explode just to count document frequencies
    (caught r14 by reading the executed plan; the retrieval.py BM25
    df-count had the identical bug). Plan-pinned in
    test_retrieval.py.

    tfidf = tf * ln((N + 1) / (df + 1)) (smooth idf, sklearn-style
    minus the +1 floor), rounded to 6 for cross-engine comparison.

    Cleanup contract (ADVICE r14): the returned frame's ``cleanup()``
    releases a localCheckpoint, which TRUNCATED lineage — the frame is
    NOT recomputable afterwards (unlike persist-backed cleanups;
    re-execution fails once the async unpersist lands — immediately
    under ``cleanup(blocking=True)``), and executor loss before
    release has no lineage fallback. Materialize (collect/write)
    before calling cleanup(); rerun the operator if the result is
    needed again. Pinned in test_retrieval.py.
    """
    from pyspark.sql.window import Window

    from ..operators.cache import attach_cleanup, barrier

    n_docs = df.count()
    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = barrier(tf)
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_ct"))
    scored = tf.join(dfq, "term").select(
        "id",
        "term",
        "tf",
        "df_ct",
        F.round(
            F.col("tf") * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df_ct") + 1.0)),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    return attach_cleanup(out, tf)

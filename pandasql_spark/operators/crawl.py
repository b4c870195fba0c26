"""Crawl → training-corpus ingestion pipeline — the composition that
turns raw (url, html) crawl records into a deduplicated, quality-
gated, split-assigned text corpus in one call. The crawl-side
counterpart to operators/curation.py (which starts from clean text).

Stages, each backed by its own gated operator:

1. extract   — html_to_text / html_title (functions/html.py, q92)
2. canonical — url_normalize / url_host (functions/url.py, q93)
3. dedup     — exact URL dedup: first (min id) document per canonical
               URL; a crawl's repeat fetches and tracking-param
               variants collapse here (16-byte-key groupBy, q19 shape)
4. quality   — minimum token count on the EXTRACTED text
5. split     — leakage-safe hash split BY HOST (q84): all documents
               from one site land in one split, so near-duplicate
               pages can never straddle train/eval

Every stage is a codegen column transform except URL dedup; the whole
pipeline is ONE shuffle (the url_norm rank window — WindowGroupLimit
trims it partial below the exchange; split is a pure projection),
asserted in tests. Stage knobs are explicit arguments; the q94 gate
chains the same stages in SQL and hash-compares the full output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.html import html_title, html_to_text
from ..functions.text import token_count, tokens
from ..functions.url import url_host, url_normalize


def extract_crawl_columns(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stages 1+2 (extract + canonicalize) as one stateless projection:
    (id, url_norm, host, title, text, n_tokens). Shared verbatim by the
    batch pipeline below and the streaming ingest
    (streaming/crawl_ingest.py), so the two surfaces extract
    identically by construction."""
    return df.select(
        F.col(id_col),
        url_normalize(url_col).alias("url_norm"),
        url_host(url_col).alias("host"),
        html_title(html_col).alias("title"),
        html_to_text(html_col).alias("text"),
    ).withColumn(
        # split('') yields [''] (1 token); an EMPTY extraction is zero
        # tokens, so a tags-only page can actually be gated out
        "n_tokens",
        F.when(F.col("text") == "", F.lit(0))
        .otherwise(token_count(tokens("text")))
        .cast("long"),
    )


def crawl_to_corpus(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
    min_tokens: int = 1,
    split_weights: dict[str, float] | None = None,
    split_salt: str = "",
) -> DataFrame:
    """(id, url_norm, host, title, text, n_tokens[, split]) — see
    module doc. ``split_weights=None`` skips split assignment.
    Rows whose extracted text falls under ``min_tokens`` are dropped
    AFTER dedup (so a thin duplicate can't shadow a richer page at the
    same URL: dedup keeps the min-id fetch, quality judges the text)."""
    if min_tokens < 0:
        raise ValueError(f"min_tokens must be >= 0, got {min_tokens}")
    extracted = extract_crawl_columns(df, html_col, url_col, id_col)

    w = Window.partitionBy("url_norm").orderBy(F.col(id_col).asc())
    deduped = (
        extracted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    gated = deduped.filter(F.col("n_tokens") >= min_tokens)
    if split_weights is None:
        return gated
    from .sampling import hash_split

    return hash_split(gated, split_weights, "host", salt=split_salt)

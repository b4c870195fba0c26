"""Sequence packing: concatenate-and-chunk documents into fixed-size
token windows — the shard layout an LLM pretraining pipeline actually
feeds the trainer.

Semantics (the standard "concat then chunk" packing): documents are
laid end-to-end in a deterministic order (default: id order) into one
global token stream, which is cut into chunks of exactly
``chunk_tokens`` tokens (the last chunk may be short). A document whose
span crosses a boundary is SPLIT across the adjacent chunks; every
token lands in exactly one chunk and no chunk has padding except the
tail. This maximizes token utilization (zero padding waste), vs.
greedy no-split bin packing which trades waste for document
contiguity.

Scale shape: the only global coordination is the running token offset,
computed by `ranking.with_global_running_sum` (range shuffle +
per-partition window + one scalar-per-partition driver prefix — no
single-reducer window). Chunk assignment is then pure per-row
arithmetic: doc with global span [start, end) overlaps chunks
floor(start/L) … floor((end-1)/L), exploded JVM-side via
`sequence()`; the explode factor per doc is ceil(len/L)+1, bounded.
Everything is closed-form, so the q64 gate value-checks the full
output against a DuckDB window recomputation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .cache import attach_cleanup, barrier
from .ranking import with_global_running_sum


def pack_chunks(
    df: DataFrame,
    chunk_tokens: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    order_by: list[str | Column] | None = None,
) -> DataFrame:
    """Chunk-assignment table: one row per (document, chunk) overlap.

    Returns (id_col, chunk_id, piece_start, piece_end, chunk_pos):
    tokens ``[piece_start, piece_end)`` of the document (0-based,
    doc-relative) land in chunk ``chunk_id`` starting at offset
    ``chunk_pos`` within the chunk. Zero-token documents contribute no
    rows. Invariants (property-tested): pieces partition each document;
    every chunk except the last holds exactly ``chunk_tokens`` tokens;
    within a chunk, (chunk_pos, piece length) tile it exactly."""
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    order_by = order_by or [id_col]
    L = F.lit(chunk_tokens)
    # prune to the needed columns when the order keys are string-named;
    # a Column-typed key may reference anything, so skip pruning then
    if all(isinstance(c, str) for c in order_by):
        keep = list(dict.fromkeys([id_col, token_col, *order_by]))
        pruned = df.select(*keep)
    else:
        pruned = df
    ranked = with_global_running_sum(
        pruned.filter(F.col(token_col) > 0),
        order_by,
        token_col,
        out_col="cend",
    )
    spans = ranked.withColumn("cstart", F.col("cend") - F.col(token_col))
    out = spans.select(
        id_col,
        F.col(token_col),
        "cstart",
        F.explode(
            F.sequence(
                F.floor(F.col("cstart") / L),
                F.floor((F.col("cend") - 1) / L),
            )
        ).alias("chunk_id"),
    )
    piece_start = F.greatest(F.lit(0), F.col("chunk_id") * L - F.col("cstart"))
    piece_end = F.least(
        F.col(token_col), (F.col("chunk_id") + 1) * L - F.col("cstart")
    )
    chunk_pos = F.greatest(F.lit(0), F.col("cstart") - F.col("chunk_id") * L)
    result = out.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        piece_start.cast("long").alias("piece_start"),
        piece_end.cast("long").alias("piece_end"),
        chunk_pos.cast("long").alias("chunk_pos"),
    )
    # pass through the running sum's persisted-frame release hook
    # (operators/cache.py contract) — call once materialized
    return attach_cleanup(result, ranked)


def chunk_utilization(packed: DataFrame, chunk_tokens: int) -> DataFrame:
    """Per-chunk fill stats from a `pack_chunks` table: (chunk_id,
    n_pieces, n_tokens, fill_ratio). All chunks except the last must
    show fill_ratio = 1.0 — the zero-padding-waste property."""
    return (
        packed.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_pieces"),
            F.sum(F.col("piece_end") - F.col("piece_start")).alias("n_tokens"),
        )
        .withColumn(
            "fill_ratio", F.round(F.col("n_tokens") / F.lit(chunk_tokens), 6)
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document sliding-window chunking — the RAG/embedding-prep
    counterpart to :func:`pack_chunks`. Where packing concatenates docs
    into a global stream (trainer shards), chunking stays WITHIN each
    document: windows of ``chunk_tokens`` tokens advancing by
    ``chunk_tokens - overlap``, so consecutive chunks share ``overlap``
    tokens of context.

    Returns (id, chunk_idx, start_tok, end_tok, chunk_text): token span
    ``[start_tok, end_tok)`` (0-based, doc-relative, whitespace tokens)
    and the re-joined chunk text. Chunk starts are 0, s, 2s, …; the
    LAST chunk is the first window reaching the document's end (it may
    be short, but a tail fully contained in the previous window is
    never emitted): n_chunks = 1 + floor((n - w + s - 1)/s) for n > w,
    else 1. NULL-text documents are ABSENT from the output (split(NULL)
    is NULL and the sequence explode drops the row — the dsir.py
    treat-NULL-as-absent convention); a pipeline reconciling chunk
    counts against document counts must exclude NULL-text rows first.

    Scale shape: pure per-row arithmetic + a JVM-side
    ``explode(sequence())`` — ZERO shuffles, no Python. The explode
    factor per doc is ~n/s, the output's inherent size. At 100 TB this
    is scan-bound; write the result partitioned however the retriever
    shards.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not (0 <= overlap < chunk_tokens):
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got overlap={overlap}"
        )
    stride = chunk_tokens - overlap
    n = F.size("__toks")
    w, s = F.lit(chunk_tokens), F.lit(stride)
    n_chunks = F.when(n <= w, F.lit(1)).otherwise(
        F.lit(1) + F.floor((n - w + s - F.lit(1)) / s)
    )
    # one projected token array feeds the chunk count and every slice
    base = df.select(F.col(id_col), tokens(text_col).alias("__toks")).select(
        id_col,
        "__toks",
        n.alias("__n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * s
    end = F.least(start + w, F.col("__n"))
    return base.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long").alias("start_tok"),
        end.cast("long").alias("end_tok"),
        F.array_join(
            F.slice(F.col("__toks"), start + 1, end - start), " "
        ).alias("chunk_text"),
    )


def pack_bpe_corpus(
    df: DataFrame,
    merges,
    chunk_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Text corpus → fixed-length training sequences in one call: BPE-
    encode every document with the (driver-held) merge table
    (`bpe.encode_bpe`), assign token spans to chunks with the
    distributed prefix-sum packer (`pack_chunks`), then materialize
    each chunk's actual subword sequence. Returns
    (chunk_id, tokens array<string>, n_tokens) — every chunk except
    the last holds exactly ``chunk_tokens`` subwords, and concatenating
    chunks in chunk_id order reproduces the corpus's subword stream in
    ``id_col`` order exactly (invariant-tested).

    Plan shape: the encoded frame is the expensive pass (Arrow-batched
    encoder, one scan); it localCheckpoints before packing because the
    assignment table both DERIVES from it and JOINS back to it — the
    curation lineage-barrier lesson (4^k plan growth), plus encode is
    exactly what you never want to run twice. The slice+regroup is one
    shuffle on chunk_id with bounded per-chunk state (``chunk_tokens``
    subwords); the reassembly is the line_dedup sort-struct shape.

    The barrier TRUNCATES lineage — the curate_corpus caveat applies
    verbatim: under executor loss the checkpointed encode is
    unrecomputable and the job fails for a rerun (still cheaper than
    re-encoding per downstream reference). ``result.cleanup()`` releases
    the checkpointed blocks once the packed output is materialized
    (ADVICE r11); the result is not recomputable afterwards."""
    from .bpe import encode_bpe

    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    enc = encode_bpe(df, merges, text_col=text_col).select(
        id_col,
        F.col("bpe_tokens"),
        F.size("bpe_tokens").cast("long").alias("__nt"),
    )
    # result.cleanup() releases the checkpointed encode once the packed
    # output is materialized (ADVICE r11)
    enc = barrier(enc)
    assign = pack_chunks(enc, chunk_tokens, token_col="__nt", id_col=id_col)
    # Re-attach the chunk plan to the token payload with a SHUFFLED HASH
    # join built on the ASSIGN (metadata) side. Left to its estimates,
    # Catalyst broadcast-hash-joined with the ENCODED CORPUS as the
    # build side (checkpointed-RDD stats undersell it): the whole token
    # table was collected to the driver and rebuilt as a broadcast —
    # measured 230 MB at a 50x probe SF, with the probe side coalesced
    # to 2 tasks — and at real scale that is a driver OOM, not a plan
    # choice. The scale-honest shape is the guide-§8 one: the payload
    # crosses the network exactly once (hash exchange by id), the
    # per-partition hash table is built from the metadata slice, and
    # nothing is ever driver-resident. Execution-only: join inputs,
    # keys and type are unchanged.
    pieces = assign.hint("shuffle_hash").join(
        enc.select(id_col, "bpe_tokens"), id_col
    ).select(
        "chunk_id",
        "chunk_pos",
        F.slice(
            "bpe_tokens",
            F.col("piece_start").cast("int") + 1,
            (F.col("piece_end") - F.col("piece_start")).cast("int"),
        ).alias("piece"),
    )
    out = pieces.groupBy("chunk_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("chunk_pos"), F.col("piece")))
                ),
                lambda st: st["piece"],
            )
        ).alias("tokens")
    )
    result = out.select(
        "chunk_id",
        "tokens",
        F.size("tokens").cast("long").alias("n_tokens"),
    )
    return attach_cleanup(result, assign, enc)

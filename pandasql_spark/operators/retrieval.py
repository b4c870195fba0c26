"""BM25 full-text retrieval scoring — the classic sparse-retrieval
baseline a training-data pipeline needs for query-based corpus audits
("which documents talk about X?") and for building retrieval eval sets.

Scale design (the 100 TB shape):
- The query is a handful of terms — a LITERAL in the plan, not a
  table. Filtering the exploded token stream to the query terms
  happens BEFORE the (doc, term) aggregation, so the big intermediate
  is |matching tokens|, not |all tokens|. Non-matching documents never
  leave the map side.
- Document length (dl) is `size(split(text))` computed in the same
  scan that explodes the tokens and carried THROUGH the explode —
  no second corpus scan, no dl join.
- Corpus stats (N, total token count → avgdl) are one tiny aggregate.
  dl sums are exact int64, so avgdl = sum/N is the same correctly-
  rounded double on every engine — safe to embed in row arithmetic.
- Scoring is pure codegen column arithmetic; the only shuffle is the
  (doc, term) partial→final aggregation; top-k compiles to
  TakeOrderedAndProject (no global sort).

Reference: the reference engine has no retrieval surface at all
(SURVEY.md §2 — `pandasql/core.py` ends at joins/aggregates); this is
part of the beyond-reference LLM-pipeline inventory. BM25 parameters
and the +1 idf floor follow Lucene's practical variant
(idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive, so a
term occurring in >half the corpus still contributes).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandasql_spark.functions.text import tokens

from .cache import attach_cleanup, barrier


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document matching ≥1 query term.

    Returns (doc_id, hit_terms, bm25): `hit_terms` is the number of
    distinct query terms present; `bm25` is the summed per-term score,
    rounded to 6 (aggregated doubles drift in the last ulp across
    partition orders/engines).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

    A lineage barrier (operators/cache.py) checkpoints the query-pruned
    (doc, term, tf) table so the df-count branch and the scoring join
    share one computation — see the inline note; without it the df
    counts cost a second corpus scan.

    Cleanup contract (ADVICE r14): the returned frame's ``cleanup()``
    releases a localCheckpoint, which TRUNCATED lineage — unlike the
    persist-backed cleanups elsewhere, the frame is NOT recomputable
    after ``cleanup()``: re-executing it fails
    with a checkpoint-block-not-found error once the async unpersist
    lands (immediately under ``cleanup(blocking=True)``), and an
    executor loss before release has no lineage fallback either
    (acceptable here: the checkpointed table is query-pruned and the
    operator is a terminal scoring pass — rerun the OPERATOR, not the
    frame). Materialize (collect/write) BEFORE calling cleanup().
    Pinned in test_retrieval.py.
    """
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    if k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1} b={b}")

    toks = tokens(text_col)
    # one corpus scan: N and Σdl (exact int64 → avgdl division is the
    # same correctly-rounded double everywhere)
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(toks).cast("long")).alias("s"),
    ).first()
    n_docs = stats["n"] if stats is not None else 0
    if not n_docs:
        id_type = next(
            f.dataType.simpleString() for f in df.schema.fields
            if f.name == id_col
        )
        return df.sparkSession.createDataFrame(
            [], f"doc_id {id_type}, hit_terms long, bm25 double"
        )
    avgdl = float(stats["s"]) / float(n_docs)

    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("dl"),
        F.explode(toks).alias("term"),
    ).filter(F.col("term").isin(terms))  # prune BEFORE the shuffle

    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # Barrier: tf feeds BOTH the df-count aggregate and the scoring
    # join, but exchange reuse CANNOT unify them — column pruning
    # rewrites the df-count branch's copy of the tf aggregate (the
    # unused tf count is pruned out of it), so the two subtrees
    # genuinely differ and the plan re-ran the whole corpus
    # scan+explode for a |terms|-row count table (caught r14 by
    # reading the executed plan; plan-pinned in test_retrieval.py).
    # The checkpointed frame is the QUERY-PRUNED (doc, term) table —
    # proportional to matching documents, never the corpus.
    tf = barrier(tf)
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_ct"))

    n = F.lit(float(n_docs))
    idf = F.log(
        F.lit(1.0)
        + (n - F.col("df_ct") + 0.5) / (F.col("df_ct") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    per_term = idf * (F.col("tf") * (k1 + 1.0)) / denom

    out = (
        tf.join(dfq, "term")  # |query| rows — broadcast by AQE
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("hit_terms"),
            F.round(F.sum(per_term), 6).alias("bm25"),
        )
    )
    return attach_cleanup(out, tf)


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25, ties broken by doc_id ascending so the
    row set is deterministic. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    scored = bm25_scores(df, query_terms, text_col, id_col, k1=k1, b=b)
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(k)

"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine is the correctness baseline: a broadcast of the query
vector against a distributed scan — one pass, no shuffle, scales to any
corpus size (the top-k is a TakeOrderedAndProject, i.e. per-partition
heap + driver merge of k rows, not a global sort).

The scale path for *many* queries or pair-mining is LSH bucketing
(`random_projection_buckets`): sign-bit buckets shrink the candidate set
from O(n²) to near-linear; see operators/dedup.py for the pair-join.

All math is `F.aggregate`/`F.zip_with` fold — JVM-side, deterministic
left-to-right summation (this exact fold order is mirrored by the DuckDB
`list_reduce` oracle, giving bit-identical doubles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-to-right fold dot product of two double arrays."""
    prods = F.zip_with(_col(a).cast("array<double>"), _col(b).cast("array<double>"),
                       lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    sq = F.aggregate(_col(a).cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x)
    return F.sqrt(sq)


def cosine(a: Column | str, b: Column | str, digits: int | None = 6) -> Column:
    c = dot(a, b) / (l2_norm(a) * l2_norm(b))
    return F.round(c, digits) if digits is not None else c


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k of ``df`` rows against ONE query vector.

    ``query_df`` must be a single-row frame with columns (``q_id``,
    ``qv``). The cross join broadcasts the single query row; the scan
    stays fully parallel and the top-k avoids a global sort. Ties broken
    by ``id_col`` for determinism."""
    q = F.broadcast(query_df)
    out = df.crossJoin(q).select(
        F.col(id_col),
        F.col("q_id"),
        cosine(vec_col, "qv").alias("cos_sim"),
    )
    if exclude_self:
        # q_id rides the broadcast row — a filter, not another join
        out = out.filter(F.col(id_col) != F.col("q_id"))
    return (
        out.select(id_col, "cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_pairs_exact(
    df: DataFrame,
    k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k most-similar PAIRS by brute-force all-pairs cosine:
    (id_a, id_b, cos_sim). O(n²) — the exactness baseline and the
    oracle shape; the routed :func:`cosine_topk_pairs` is the default
    entry point. Deterministic: ties broken by (id_a, id_b)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("va", "vb").alias("cos_sim"))
        # zero-norm vectors have undefined cosine (NULL under the
        # engine's non-ANSI divide); drop those pairs so this branch
        # ranks the SAME pair set as the LSH branch, whose cos_sim >=
        # threshold filter drops NULLs implicitly — without this the
        # two branches of cosine_topk_pairs would disagree on corpora
        # containing zero vectors.
        .where(F.col("cos_sim").isNotNull())
        .orderBy(F.col("cos_sim").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


def cosine_topk_pairs(
    df: DataFrame,
    k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_below: int = 20_000,
    num_tables: int = 8,
    seed: int = 42,
    exact: bool | None = None,
) -> DataFrame:
    """Top-k most-similar pairs, routed by corpus size (round-6: this is
    the registered default; the O(n²) join no longer runs above
    ``exact_below`` rows).

    ``exact`` is the explicit escape hatch over the size routing:
    ``exact=True`` forces the all-pairs branch regardless of corpus
    size (callers who need guaranteed recall and accept O(n²) cost);
    ``exact=False`` forces the LSH branch (e.g. to test it small);
    ``None`` (default) routes by ``exact_below``. Both branches rank
    the same pair set: pairs with undefined cosine (a zero-norm side)
    are excluded everywhere.

    - n ≤ ``exact_below``: exact all-pairs (:func:`cosine_topk_pairs_exact`).
      At 20k rows that is ≤ 2·10⁸ cosine folds — cheap, and exactness is
      free.
    - n > ``exact_below``: multi-table sign-bit LSH candidates + exact
      cosine verify (operators/dedup.embedding_neardup_pairs with no
      cosine floor), then top-k. Near-linear in n. APPROXIMATE recall:
      a pair that collides in none of the ``num_tables`` tables is
      missed — ≥99% likely per pair at cosine ≥0.95, lower for
      mid-similarity pairs; raise ``num_tables`` when hunting a top-k
      that lives below ~0.9 cosine. The one count() for routing doubles
      as the LSH auto-sizing count.

    The result of the LSH branch carries the candidate frames'
    ``cleanup()`` hook (operators/cache.py)."""
    if exact is None:
        exact = df.count() <= exact_below
    if exact:
        return cosine_topk_pairs_exact(df, k, id_col, vec_col)

    from ..operators.dedup import embedding_neardup_pairs

    dim = len(df.select(vec_col).first()[0])
    pairs = embedding_neardup_pairs(
        df,
        vec_col=vec_col,
        id_col=id_col,
        dim=dim,
        threshold=-1.0,  # no cosine floor: rank ALL verified candidates
        num_tables=num_tables,
        seed=seed,
    )
    out = pairs.orderBy(
        F.col("cos_sim").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)
    from ..operators.cache import attach_cleanup

    return attach_cleanup(out, pairs)


def random_projection_buckets(
    vec_col: Column | str,
    planes: list[list[float]],
) -> Column:
    """SimHash-style LSH bucket id: sign bit of the dot product with each
    hyperplane, packed into a long. Vectors in the same bucket are
    near-neighbor candidates; at 100 TB this turns all-pairs similarity
    into a groupBy on the bucket id (near-linear). ``planes`` must be
    fixed/seeded for reproducibility."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(_col(vec_col).cast("array<double>"),
                       F.array(*[F.lit(float(p)) for p in plane]),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket

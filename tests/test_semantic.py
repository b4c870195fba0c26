"""SemDeDup semantic dedup (operators/semantic.py): clustering
correctness on separable data, tie/empty-cell edges, the keep-lowest
dedup rule, determinism, the zero-shuffle assignment plan, and the
BLAS kernels against a left-to-right Python fold."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pandasql_spark.operators.semantic import (
    assign_cells,
    lloyd_kmeans,
    semantic_dedup,
)

SF = "/root/testdata/sf0.001"


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def _fold_reference(vecs, k, n_iter, tau):
    """{id: (cid, kept)} by the q69 DuckDB oracle's recipe, folded left
    to right in Python: lowest-id init, squared-distance argmin with
    ties to the lowest cid, centroids rounded to 6 decimals (empty
    cells carry forward), then drop x when a lower-id same-cell y has
    round(cosine, 6) >= tau. Zero-norm rows are never dropped and never
    drop another row."""
    ids = sorted(vecs)
    cents = [vecs[i] for i in ids[:k]]

    def assign(cents):
        out = {}
        for i in ids:
            d = [sum((a - b) * (a - b) for a, b in zip(vecs[i], c)) for c in cents]
            out[i] = d.index(min(d))
        return out

    for _ in range(n_iter):
        cid = assign(cents)
        for c in range(k):
            members = [vecs[i] for i in ids if cid[i] == c]
            if members:
                cents[c] = [
                    round(sum(m[d] for m in members) / len(members), 6)
                    for d in range(len(members[0]))
                ]
    cid = assign(cents)
    norm = {i: math.sqrt(sum(x * x for x in vecs[i])) for i in ids}

    def similar(x, y):
        if norm[x] == 0 or norm[y] == 0:
            return False
        dot = sum(a * b for a, b in zip(vecs[x], vecs[y]))
        return round(dot / (norm[x] * norm[y]), 6) >= tau

    return {
        x: (
            cid[x],
            not any(cid[y] == cid[x] and similar(x, y) for y in ids if y < x),
        )
        for x in ids
    }


def test_kmeans_separates_blobs(spark):
    pts = [(i, [0.0 + i * 0.01, 0.0]) for i in range(5)] + [
        (10 + i, [100.0, 100.0 + i * 0.01]) for i in range(5)
    ]
    assigned, cents = lloyd_kmeans(_vecs(spark, pts), k=2, n_iter=3)
    rows = {r.vec_id: r.cid for r in assigned.collect()}
    low = {rows[i] for i in range(5)}
    high = {rows[10 + i] for i in range(5)}
    assert len(low) == 1 and len(high) == 1 and low != high
    assert len(cents) == 2 and len(cents[0]) == 2


def test_assign_ties_go_to_lowest_cid(spark):
    df = _vecs(spark, [(0, [1.0, 1.0])])
    # two identical centroids -> equal distance -> cid 0
    out = assign_cells(df, [[0.0, 0.0], [0.0, 0.0]]).first()
    assert out.cid == 0


def test_empty_cell_carries_centroid_forward(spark):
    # both init centroids identical; every point ties to cid 0, so
    # cell 1 is empty after the update and must keep its init centroid
    df = _vecs(spark, [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [3.0, 0.0])])
    assigned, cents = lloyd_kmeans(df, k=2, n_iter=1)
    # after the tie-heavy first assignment cell 1 is empty; its update
    # must carry the init centroid (vec 1's vector) forward, not crash
    assert cents[1] == [1.0, 0.0]
    assert assigned.count() == 3


def test_kmeans_k_exceeds_corpus_raises(spark):
    with pytest.raises(ValueError, match="exceeds corpus"):
        lloyd_kmeans(_vecs(spark, [(0, [1.0, 0.0])]), k=3)


def test_dedup_keep_lowest_rule(spark):
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),        # dup of 0 -> dropped
            (2, [1.0, 0.001]),      # near-dup of 0 -> dropped
            (3, [-1.0, 0.0]),       # opposite -> kept
        ],
    )
    out = {r.vec_id: r.kept for r in semantic_dedup(df, k=2, n_iter=1, tau=0.95).collect()}
    assert out == {0: True, 1: False, 2: False, 3: True}


def test_planted_dups_dropped_on_real_corpus(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    planted = e.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    out = semantic_dedup(e.unionByName(planted), k=4, n_iter=2, tau=0.99)
    planted_kept = out.filter((F.col("vec_id") >= 100000) & F.col("kept")).count()
    assert planted_kept == 0
    # originals of the planted rows are still kept (no lower twin)
    orig_dropped = out.filter(
        (F.col("vec_id") < 100000) & (F.col("vec_id") % 20 == 0) & ~F.col("kept")
    ).count()
    assert orig_dropped == 0


def test_numpy_pair_stage_matches_expr_fold(spark):
    # BLAS-order vs fold-order arithmetic, in BOTH the assignment and
    # the pair stage: verdicts must agree with the Python fold on the
    # full corpus incl. planted exact dups
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    planted = e.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = e.unionByName(planted).select("vec_id", "embedding")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in corpus.collect()}
    got = {
        r.vec_id: (r.cid, r.kept)
        for r in semantic_dedup(corpus, k=4, n_iter=2, tau=0.35).collect()
    }
    assert got == _fold_reference(vecs, k=4, n_iter=2, tau=0.35)
    assert not all(kept for _, kept in got.values())


def test_zero_norm_vectors_never_dropped_either_impl(spark):
    # cosine vs a zero vector is 0/0; the kernel defines it as 0, so
    # zero vectors are KEPT and never drop another row
    df = _vecs(
        spark,
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
    )
    out = {
        r.vec_id: r.kept
        for r in semantic_dedup(df, k=1, n_iter=0, tau=0.5).collect()
    }
    assert out == {0: True, 1: True, 2: True, 3: False}


def test_dedup_string_ids(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    out = {r.vec_id: r.kept for r in semantic_dedup(df, k=1, n_iter=1, tau=0.95).collect()}
    assert out == {"a": True, "b": False, "c": True}


def test_dedup_deterministic_across_runs(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(map(tuple, semantic_dedup(e, k=4, n_iter=2, tau=0.3).collect()))
    b = sorted(map(tuple, semantic_dedup(e, k=4, n_iter=2, tau=0.3).collect()))
    assert a == b


def test_property_vs_python_bruteforce(spark):
    """Full-pipeline differential on random small corpora: Python
    re-implements init/assign/update/dedup with the same quantization
    and tie rules; verdicts must match exactly."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tests.conftest import soak_examples

    # quarters in [-2, 2]: exact in float32/double, so fold-vs-BLAS
    # arithmetic agrees bit-for-bit and ties are REAL ties (and the
    # no-tie analysis for the 6-dp centroid rounding holds: a mean of
    # quarters over <=12 members can never land on a .5e-6 boundary)
    quarter = st.integers(-8, 8).map(lambda i: i / 4)

    @settings(
        max_examples=soak_examples(10),
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(
        data=st.lists(
            st.tuples(quarter, quarter, quarter),
            min_size=3,
            max_size=12,
        ),
        k=st.integers(1, 3),
        tau=st.sampled_from([0.3, 0.7, 0.95]),
    )
    def inner(data, k, tau):
        rows = [(i, list(v)) for i, v in enumerate(data)]
        vecs = {i: [float(np.float32(x)) for x in v] for i, v in rows}
        expected = _fold_reference(vecs, k=k, n_iter=2, tau=tau)

        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {
            r.vec_id: (r.cid, r.kept)
            for r in semantic_dedup(df, k=k, n_iter=2, tau=tau).collect()
        }
        assert got == expected

    inner()


def test_assignment_is_shuffle_free(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [[0.0] * 64, [1.0] * 64]
    plan = (
        assign_cells(e, cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_kmeans_does_not_hijack_caller_cache(spark):
    """ADVICE r15: lloyd_kmeans persists a DERIVED frame, never the
    caller's object — a pre-persisted input at a non-default storage
    level must not raise 'cannot change storage level', and the
    caller's own cache must survive the returned frame's cleanup()."""
    from pyspark import StorageLevel

    from pandasql_spark.operators.semantic import lloyd_kmeans

    e = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .limit(50)
        .persist(StorageLevel.DISK_ONLY)
    )
    try:
        e.count()
        out, cents = lloyd_kmeans(e, k=2, n_iter=1)  # must not raise
        assert out.count() == 50
        out.cleanup()
        # the caller's cache is untouched by the operator's cleanup
        assert e.storageLevel.useDisk and not e.storageLevel.useMemory
    finally:
        e.unpersist()


def test_kmeans_respects_plan_equivalent_cache(spark):
    """r16 review finding: the ownership check must see a cache the
    caller registered on a DIFFERENT but plan-equivalent DataFrame
    object (CacheManager lookup, not the object-local is_cached flag)
    — cleanup() must not evict it."""
    from pandasql_spark.operators.semantic import lloyd_kmeans

    src = f"{SF}/embeddings.parquet"
    cached = spark.read.parquet(src).limit(30).persist()
    try:
        cached.count()
        other = spark.read.parquet(src).limit(30)  # new object, same plan
        assert not other.is_cached  # the local flag misses it...
        out, _ = lloyd_kmeans(other, k=2, n_iter=1)
        assert out.count() == 30
        out.cleanup()
        # ...but the caller's cache survived cleanup()
        assert cached.storageLevel.useMemory
    finally:
        cached.unpersist()


def test_plan_is_cached_failed_lookup_is_unknown():
    """ADVICE r16 + r17 review: a failed CacheManager lookup answers
    None (UNKNOWN) — never the object-local is_cached flag, which goes
    stale (True after clearCache()) and would skip the persist; and
    never plain False, which would let the caller attach an unpersist
    to a frame it may not own (evicting the caller's cache). Callers
    persist on None but leave the lifecycle to LRU."""
    from py4j.protocol import Py4JError

    from pandasql_spark.operators.semantic import _plan_is_cached

    class _RaisingJSession:
        def sharedState(self):
            raise Py4JError("py4j surface shift")

    class _FakeSession:
        _jsparkSession = _RaisingJSession()

    class _FakeDF:
        sparkSession = _FakeSession()
        is_cached = True  # the stale flag the fallback must NOT trust
        _jdf = None

    assert _plan_is_cached(_FakeDF()) is None

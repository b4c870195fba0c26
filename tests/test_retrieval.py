"""BM25 retrieval tests: differential vs a from-first-principles Python
oracle, plan shape (filter before shuffle, TakeOrderedAndProject top-k),
and parameter/edge validation."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from pandasql_spark.operators.retrieval import bm25_scores, bm25_topk


def _py_bm25(docs: dict[int, str], terms: list[str], k1=1.2, b=0.75):
    """Textbook BM25 (Lucene idf) computed doc-at-a-time in Python."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    df_ct = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    out = {}
    for d, v in toks.items():
        s, hits = 0.0, 0
        for t in set(terms):
            tf = v.count(t)
            if tf == 0:
                continue
            hits += 1
            idf = math.log(1.0 + (n - df_ct[t] + 0.5) / (df_ct[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(v) / avgdl))
        if hits:
            out[d] = (hits, round(s, 6))
    return out


CORPUS = {
    0: "spark join hash join vector",
    1: "vector vector vector scan",
    2: "scan filter filter agg merge sort window",
    3: "join",
    4: "the a of row row row row row row row row row row",
}


@pytest.fixture(scope="module")
def corpus_df(spark):
    pdf = pd.DataFrame(
        {"doc_id": list(CORPUS), "text": list(CORPUS.values())}
    )
    return spark.createDataFrame(pdf)


def test_scores_match_python_oracle(corpus_df):
    terms = ["join", "vector", "scan"]
    got = {
        r["doc_id"]: (r["hit_terms"], r["bm25"])
        for r in bm25_scores(corpus_df, terms).collect()
    }
    assert got == _py_bm25(CORPUS, terms)


def test_nonmatching_docs_absent(corpus_df):
    rows = bm25_scores(corpus_df, ["join"]).collect()
    assert {r["doc_id"] for r in rows} == {0, 3}


def test_duplicate_query_terms_counted_once(corpus_df):
    once = bm25_scores(corpus_df, ["join"]).collect()
    twice = bm25_scores(corpus_df, ["join", "join"]).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))


def test_topk_order_and_tiebreak(corpus_df):
    rows = bm25_topk(corpus_df, ["join", "vector", "scan"], k=3).collect()
    assert len(rows) == 3
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # adjacent equal scores must be doc_id-ascending
    for a, b_ in zip(rows, rows[1:]):
        if a["bm25"] == b_["bm25"]:
            assert a["doc_id"] < b_["doc_id"]


def test_bm25_params_change_ranking(corpus_df):
    # b=0 removes length normalization: the long row-spam doc ties the
    # short one on pure tf; b=1 penalizes it maximally.
    terms = ["row"]
    b0 = {r["doc_id"]: r["bm25"] for r in bm25_scores(corpus_df, terms, b=0.0).collect()}
    b1 = {r["doc_id"]: r["bm25"] for r in bm25_scores(corpus_df, terms, b=1.0).collect()}
    assert b1[4] < b0[4]


def test_validation(corpus_df):
    with pytest.raises(ValueError, match="non-empty"):
        bm25_scores(corpus_df, [])
    with pytest.raises(ValueError, match="k1"):
        bm25_scores(corpus_df, ["join"], k1=-1.0)
    with pytest.raises(ValueError, match="k1"):
        bm25_scores(corpus_df, ["join"], b=1.5)
    with pytest.raises(ValueError, match="positive"):
        bm25_topk(corpus_df, ["join"], k=0)


def test_topk_plan_is_take_ordered(corpus_df):
    sdf = bm25_topk(corpus_df, ["join"], k=5)
    phys = sdf._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys


def test_filter_precedes_aggregation(corpus_df, monkeypatch):
    # the isin prune must sit below the (doc, term) aggregate: the
    # optimized plan filters the exploded stream, so non-query terms
    # never reach the shuffle.
    # an identity barrier keeps full lineage so the optimized plan is
    # inspectable below the (doc, term) aggregate
    from pandasql_spark.operators import retrieval

    monkeypatch.setattr(retrieval, "barrier", lambda df: df)
    sdf = bm25_scores(corpus_df, ["join"])
    opt = sdf._jdf.queryExecution().optimizedPlan().toString()
    agg_pos = opt.find("Aggregate")
    filt_pos = opt.find("Filter")
    assert agg_pos != -1 and filt_pos != -1 and filt_pos > agg_pos


def test_empty_corpus_returns_empty_frame(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_scores(empty, ["join"])
    assert out.count() == 0
    assert out.columns == ["doc_id", "hit_terms", "bm25"]
    assert bm25_topk(empty, ["join"], k=3).count() == 0


def test_df_count_branches_run_one_corpus_scan(spark):
    """The df-count branch prunes the unused tf aggregate out of its
    copy of the TF subtree, so exchange reuse can never unify it with
    the scoring branch — the localCheckpoint barrier is what keeps
    BM25 and TF-IDF at ONE corpus scan in the returned plan (r14
    regression pin; without it both re-ran the full scan+explode to
    count document frequencies). `Scan ExistingRDD` is the barrier."""
    from pandasql_spark.functions.text import tfidf_top_terms
    from pandasql_spark.operators.retrieval import bm25_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for out in (
        bm25_scores(docs, ["the", "data", "model"]),
        tfidf_top_terms(docs, k=3),
    ):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        # the corpus scan runs exactly once, INSIDE the checkpoint
        # materialization (RDD semantics); the returned plan reads the
        # barrier on both branches and touches parquet zero times
        assert final.count("Scan parquet") == 0, final
        assert final.count("Scan ExistingRDD") == 2, final
        out.cleanup()


def test_cleanup_truncates_lineage_unrecomputable_after(spark):
    """The documented barrier-cleanup contract (ADVICE r14): cleanup()
    on bm25_scores releases a localCheckpoint whose lineage was
    TRUNCATED — after a blocking release, re-executing the returned
    frame must FAIL (checkpoint blocks gone, nothing to rebuild from),
    unlike the persist-backed cleanups elsewhere which fall back to
    recomputation. Materialize before cleanup; rerun the operator if
    needed again."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " * (i % 3 + 1)) for i in range(12)],
        "doc_id long, text string",
    )
    out = bm25_scores(docs, ["alpha", "gamma"])
    assert out.count() == 12  # materialized while blocks live
    out.cleanup(blocking=True)
    with pytest.raises(Exception, match="[Cc]heckpoint|block"):
        out.collect()

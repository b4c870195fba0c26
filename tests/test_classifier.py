"""Hashed-feature linear classifier (operators/classifier.py):
pure-Python fold differential, expression-path vs weight-table-path
equality, bias/empty-text contracts, and sigmoid sanity."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandasql_spark.functions.text import tokens
from pandasql_spark.operators.classifier import (
    _MIX,
    _MOD,
    linear_quality_score,
    score_column,
    seeded_weight,
    token_bucket,
)

M = 1 << 18


def _py_bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:13], 16) % M


def _py_weight(b: int, seed: int = 0) -> float:
    return ((b + seed) * _MIX % _MOD) / 1_000_000.0 - 1.0


def test_seeded_weight_interval_is_closed(spark):
    """The pseudo-weight interval is [-1, 1] CLOSED (ADVICE r10):
    gcd(_MIX, _MOD) = 1 makes every remainder reachable, including
    _MOD - 1 = 2_000_000 → weight exactly 1.0. Pin the documented
    contract with the exact witness bucket (the modular preimage of
    2_000_000 under b ↦ b·_MIX mod _MOD; < 2^20 so all arithmetic
    stays exact)."""
    import pyspark.sql.functions as F

    from pandasql_spark.operators.classifier import seeded_weight

    witness = (2_000_000 * pow(_MIX, -1, _MOD)) % _MOD
    assert witness < (1 << 20) and _py_weight(witness) == 1.0
    row = (
        spark.range(1)
        .select(seeded_weight(F.lit(witness)).alias("w"))
        .collect()[0]
    )
    assert row.w == 1.0


def _py_score(text: str, seed: int = 0, bias: float = 0.0) -> float:
    s = bias
    for t in text.split(" "):  # left-to-right, like the F.aggregate fold
        s += _py_weight(_py_bucket(t), seed)
    return s


TEXTS = [
    "the quick brown fox",
    "the the the",
    "",            # split('') == [''] — one empty-string token, by contract
    "a  b",        # double space → empty middle token
    "solo",
]


def _docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(TEXTS)), "text": TEXTS})
    )


def test_expression_path_matches_python_fold_exactly(spark):
    out = linear_quality_score(_docs(spark), seed=7, bias=0.25).collect()
    for r in sorted(out, key=lambda r: r.doc_id):
        want = _py_score(TEXTS[r.doc_id], seed=7, bias=0.25)
        assert r.clf_score == want, (r.doc_id, r.clf_score, want)  # bit-exact
        assert r.clf_prob == 1.0 / (1.0 + math.exp(-want))


def test_weight_table_path_matches_expression_path(spark):
    docs = _docs(spark)
    buckets = sorted({_py_bucket(t) for x in TEXTS for t in x.split(" ")})
    wdf = spark.createDataFrame(
        pd.DataFrame(
            {"bucket": buckets, "weight": [_py_weight(b, 3) for b in buckets]}
        )
    )
    a = {
        r.doc_id: r.clf_score
        for r in linear_quality_score(docs, seed=3, bias=0.5).collect()
    }
    b = {
        r.doc_id: r.clf_score
        for r in linear_quality_score(docs, wdf, bias=0.5).collect()
    }
    # groupBy sum order is partition-dependent → compare at 1e-9, not ==
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9, (k, a[k], b[k])


def test_sparse_weight_table_scores_bias_for_unknown_tokens(spark):
    docs = _docs(spark)
    wdf = spark.createDataFrame(
        pd.DataFrame({"bucket": [_py_bucket("solo")], "weight": [2.0]})
    )
    got = {
        r.doc_id: (r.clf_score, r.clf_prob)
        for r in linear_quality_score(docs, wdf, bias=-1.0).collect()
    }
    assert got[4] == (1.0, 1.0 / (1.0 + math.exp(-1.0)))
    # a doc with zero table hits scores exactly the bias
    assert got[0] == (-1.0, 1.0 / (1.0 + math.exp(1.0)))
    assert len(got) == len(TEXTS)  # never drops rows


def test_custom_weight_fn_and_validation(spark):
    docs = _docs(spark)
    out = linear_quality_score(docs)  # defaults run
    assert {"clf_score", "clf_prob"} <= set(out.columns)
    # constant weight fn: score == bias + n_tokens * c
    col = score_column(tokens("text"), weight_fn=lambda b: F.lit(0.5))
    got = {
        r.doc_id: r.s
        for r in docs.select("doc_id", col.alias("s")).collect()
    }
    assert got[0] == 0.5 * 4 and got[2] == 0.5  # '' is one token
    with pytest.raises(ValueError, match="n_buckets"):
        score_column(tokens("text"), n_buckets=0)


def _py_train(texts, ys, n_buckets, epochs, lr, l2=0.0, normalize=True):
    """Pure-numpy full-batch logistic GD reference (same math, same
    hashing) — the trainer differential."""
    import numpy as np

    feats = []
    for t in texts:
        bks = np.array([_py_bucket(x) % n_buckets for x in t.split(" ")])
        b, c = np.unique(bks, return_counts=True)
        c = c.astype(float)
        if normalize:
            c /= c.sum()
        feats.append((b, c))
    w = np.zeros(n_buckets)
    bias = 0.0
    n = len(texts)
    for _ in range(epochs):
        g = np.zeros(n_buckets)
        gb = 0.0
        for (bks, cts), y in zip(feats, ys):
            z = bias + w[bks] @ cts
            err = 1.0 / (1.0 + np.exp(-z)) - y
            np.add.at(g, bks, err * cts)
            gb += err
        w -= lr * (g / n + l2 * w)
        bias -= lr * (gb / n)
    return w, bias


def test_trainer_matches_numpy_reference(spark):
    import numpy as np

    from pandasql_spark.operators.classifier import train_quality_classifier

    texts = [
        "great clean prose with varied words",
        "spam spam spam buy now buy now",
        "thoughtful essay about the sea",
        "click here click here free free",
        "measured careful analysis of data",
    ]
    ys = [1.0, 0.0, 1.0, 0.0, 1.0]
    df = spark.createDataFrame(
        pd.DataFrame({"text": texts, "label": ys})
    )
    m = 1 << 10
    for norm in (True, False):
        w, b = train_quality_classifier(
            df, n_buckets=m, epochs=4, lr=0.7, l2=0.01, normalize=norm
        )
        w_ref, b_ref = _py_train(
            texts, ys, m, epochs=4, lr=0.7, l2=0.01, normalize=norm
        )
        # groupBy float-sum order differs from np.add.at → tolerance
        assert abs(b - b_ref) < 1e-9
        assert float(abs(w - w_ref).max()) < 1e-9


def test_trained_model_separates_planted_signal(spark):
    import numpy as np

    from pandasql_spark.operators.classifier import (
        train_quality_classifier,
        weights_to_df,
    )

    rng = np.random.default_rng(5)
    filler = ["w%d" % i for i in range(40)]
    rows = []
    for i in range(120):
        body = " ".join(rng.choice(filler, 8))
        if i % 2:
            rows.append((f"signal {body}", 1.0))
        else:
            rows.append((f"noise {body}", 0.0))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["text", "label"]).assign(
            doc_id=range(len(rows))
        )
    )
    m = 1 << 12
    w, b = train_quality_classifier(df, n_buckets=m, epochs=8, lr=1.0)
    scored = linear_quality_score(
        df, weights_to_df(spark, w), n_buckets=m, bias=b, normalize=True
    )
    got = scored.select("label", "clf_prob").collect()
    pos = [r.clf_prob for r in got if r.label == 1.0]
    neg = [r.clf_prob for r in got if r.label == 0.0]
    assert min(pos) > max(neg)  # perfectly separable planted token
    assert min(pos) > 0.5 > max(neg)


def test_trainer_validation(spark):
    from pandasql_spark.operators.classifier import train_quality_classifier

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["a"], "label": [1.0]})
    )
    with pytest.raises(ValueError, match="epochs"):
        train_quality_classifier(df, epochs=0)
    with pytest.raises(ValueError, match="empty"):
        train_quality_classifier(df.filter("label < 0"), n_buckets=8)


def test_seeded_weight_range_and_bucket_domain(spark):
    row = (
        _docs(spark)
        .select(
            F.explode(F.split("text", " ")).alias("t")
        )
        .select(
            token_bucket(F.col("t"), M).alias("b"),
        )
        .select(
            F.min("b").alias("lo"),
            F.max("b").alias("hi"),
            F.min(seeded_weight(F.col("b"))).alias("wlo"),
            F.max(seeded_weight(F.col("b"))).alias("whi"),
        )
        .collect()[0]
    )
    assert 0 <= row.lo <= row.hi < M
    assert -1.0 <= row.wlo <= row.whi < 1.0

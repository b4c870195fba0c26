"""End-to-end curation pipeline (operators/curation.py): per-stage
behavior on a handcrafted corpus, optional-stage skipping, and the
pipeline's composition against a pandas-computed expectation."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandasql_spark.operators.curation import curate_corpus

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    rows = [
        (0, "alpha beta gamma delta", "en"),      # 4 tokens
        (1, "alpha beta gamma delta", "en"),      # exact dup of 0
        (2, "Alpha  beta gamma delta", "en"),     # normalized dup of 0
        (3, "one two three", "en"),               # too short (min 4)
        (4, "eval overlap trigram here now", "en"),  # contaminated
        (5, "clean text body stays here", "es"),
        (6, "w x y z p q r s t u v a b c d e f g h i j k", "en"),  # too long
        (7, "another clean en document four", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _eval(spark):
    return spark.createDataFrame(
        [(100, "eval overlap trigram payload")], "doc_id long, text string"
    )


def test_stages_compose(spark):
    out = curate_corpus(
        _corpus(spark),
        eval_df=_eval(spark),
        min_tokens=4,
        max_tokens=10,
        ngram_n=3,
        hashed=False,
    )
    kept = sorted(r.doc_id for r in out.collect())
    # 1,2 exact/normalized dups of 0; 3 short; 4 contaminated
    # ("eval overlap trigram"); 6 long
    assert kept == [0, 5, 7]


def test_stages_optional(spark):
    df = _corpus(spark)
    # no eval set, no mixture: only quality + dedup run
    kept = sorted(
        r.doc_id
        for r in curate_corpus(df, min_tokens=4, max_tokens=10).collect()
    )
    assert kept == [0, 4, 5, 7]
    # no bounds at all: dedup only
    kept = sorted(r.doc_id for r in curate_corpus(df).collect())
    assert kept == [0, 3, 4, 5, 6, 7]


def test_mixture_stage_applies_budget(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = curate_corpus(
        docs,
        mixture={"en": 1, "de": 1},
        total_n=20,
        stratum_col="lang",
    )
    got = dict(out.groupBy("lang").count().collect())
    assert got == {"en": 10, "de": 10}


def test_optional_repetition_stage(spark):
    varied = " ".join(f"w{i}" for i in range(20))  # 19 distinct bigrams
    df = spark.createDataFrame(
        [(0, "x y " * 40, "en"), (1, varied, "en")],
        "doc_id long, text string, lang string",
    )
    kept = sorted(
        r.doc_id
        for r in curate_corpus(df, max_top_gram_frac=0.20).collect()
    )
    # doc 0's top bigram is half its mass -> dropped; doc 1 all-unique
    assert kept == [1]


def test_optional_lm_floor(spark):
    texts = ["common common common common"] * 3 + ["weird rare junk tokens"]
    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    kept = sorted(r.doc_id for r in curate_corpus(df, min_logprob=-1.0).collect())
    # 'common' dominates (12/16 tokens): ln(12/16) ≈ -0.29 passes;
    # the rare-token doc averages ln(1/16) ≈ -2.77 and is dropped.
    # dedup then keeps one of the three identical common docs.
    assert kept == [0]


def test_optional_redaction_stage(spark):
    df = spark.createDataFrame(
        [(0, "mail me at bob@example.com today", "en")],
        "doc_id long, text string, lang string",
    )
    out = curate_corpus(df, redact=True).first()
    assert out.text == "mail me at [EMAIL] today"


def test_all_stages_together(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    out = curate_corpus(
        tr,
        eval_df=ev,
        min_tokens=30,
        max_tokens=80,
        max_top_gram_frac=0.5,
        max_dup_gram_frac=0.95,
        min_logprob=-4.5,
        ngram_n=3,
        hashed=False,
        redact=True,
        mixture={"en": 1, "es": 1},
        total_n=40,
    ).cache()
    try:
        got = dict(out.groupBy("lang").count().collect())
        assert set(got) <= {"en", "es"} and sum(got.values()) <= 40
        assert out.count() > 0
        # redaction ran (idempotent on this clean corpus: text unchanged
        # in shape) and every survivor satisfies the quality gate
        from pandasql_spark.functions.text import token_count, tokens

        assert out.filter(token_count(tokens("text")) < 30).count() == 0
    finally:
        out.unpersist()


def test_pipeline_on_real_corpus_monotone(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    n_tr = tr.count()
    curated = curate_corpus(
        tr, eval_df=ev, min_tokens=40, max_tokens=65, ngram_n=3, hashed=False
    )
    n_cur = curated.count()
    assert 0 < n_cur < n_tr
    # survivors still satisfy the quality gate
    from pandasql_spark.functions.text import token_count, tokens

    tc = token_count(tokens("text"))
    bad = curated.filter((tc < 40) | (tc > 65))
    assert bad.count() == 0


def test_half_specified_mixture_raises(spark):
    import pytest

    df = spark.createDataFrame([(0, "a b", "en")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="together"):
        curate_corpus(df, mixture={"en": 1})
    with pytest.raises(ValueError, match="together"):
        curate_corpus(df, total_n=10)


def test_bloom_prefiltered_decontamination_stage(spark):
    base = curate_corpus(
        _corpus(spark), eval_df=_eval(spark),
        min_tokens=4, max_tokens=10, ngram_n=3, hashed=False,
    )
    bloomed = curate_corpus(
        _corpus(spark), eval_df=_eval(spark),
        min_tokens=4, max_tokens=10, ngram_n=3, hashed=False,
        contamination_prefilter="bloom",
    )
    assert sorted(r.doc_id for r in bloomed.collect()) == sorted(
        r.doc_id for r in base.collect()
    )


def test_learned_quality_stage(spark):
    """The learned-classifier gate composes like every other stage:
    train on a labeled frame, pass weights_to_df output + a probability
    floor, and exactly the docs the scorer clears survive (validated
    against linear_quality_score run standalone)."""
    import pytest

    from pandasql_spark.operators.classifier import (
        linear_quality_score,
        train_quality_classifier,
        weights_to_df,
    )

    # trainable signal: 'signal' marks the good class
    rows = [(i, ("signal good doc %d" % i) if i % 2 else ("junk doc %d" % i),
             float(i % 2)) for i in range(60)]
    train = spark.createDataFrame(rows, "doc_id long, text string, label double")
    w, b = train_quality_classifier(
        train, n_buckets=1 << 12, epochs=8, lr=1.0
    )
    wdf = weights_to_df(spark, w)

    corpus = _corpus(spark)
    scored = linear_quality_score(
        corpus, wdf, n_buckets=1 << 12, bias=b, normalize=True
    )
    want = sorted(
        r.doc_id for r in scored.filter(F.col("clf_prob") >= 0.5).collect()
    )
    got = curate_corpus(
        corpus,
        min_quality_prob=0.5,
        quality_weights=wdf,
        quality_bias=b,
        quality_n_buckets=1 << 12,
    )
    # quality gate ran before dedup: compare against the scorer's keep
    # set minus the dup that exact-dedup removes (doc 1 dups doc 0)
    got_ids = sorted(r.doc_id for r in got.collect())
    assert set(got_ids) <= set(want)
    assert set(want) - set(got_ids) <= {1, 2}  # only dedup may drop more
    # clf columns never leak into the output schema
    assert "clf_prob" not in got.columns and "clf_score" not in got.columns

    # half-specified gate is loud
    with pytest.raises(ValueError, match="probability floor"):
        curate_corpus(corpus, quality_weights=wdf)
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        curate_corpus(corpus, min_quality_prob=1.5)


def test_learned_quality_seeded_path(spark):
    """min_quality_prob with NO weights uses the zero-shuffle seeded
    expression path — prob floor 0.0 keeps everything, 1.0 drops
    everything (sigmoid never reaches 1.0 exactly)."""
    corpus = _corpus(spark)
    assert (
        curate_corpus(corpus, min_quality_prob=0.0).count() < corpus.count()
    )  # dedup still ran
    assert curate_corpus(corpus, min_quality_prob=1.0).count() == 0


def test_optional_bigram_floor(spark):
    """The bigram floor drops scrambled-order docs a unigram floor
    passes; single-token docs (no conditional events) pass the floor."""
    from pandasql_spark.operators.lm import bigram_logprob_scores

    rows = [(i, "the quick brown fox jumps over the lazy dog", "en")
            for i in range(8)]
    rows.append((8, "dog the over quick lazy brown the jumps fox", "en"))
    rows.append((9, "solo", "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    scores = {
        r.doc_id: r.logprob
        for r in bigram_logprob_scores(df).collect()
    }
    floor = scores[0] - 1e-9  # the repeated doc's own score
    assert scores[8] < floor  # scrambled order scores strictly lower
    out = curate_corpus(df, min_bigram_logprob=floor)
    ids = set(r.doc_id for r in out.collect())
    assert 8 not in ids          # scrambled doc gated
    assert 9 in ids              # single-token doc passes (NULL score)
    assert 0 in ids and len(ids & set(range(8))) == 1  # dedup kept one


def test_optional_substring_stage(spark):
    """substring_k rewrites text: the duplicated passage survives only
    in its canonical doc; downstream columns/rows are intact."""
    passage = " ".join(f"p{i}" for i in range(6))
    rows = [
        (0, f"first doc {passage} tail words here", "en"),
        (1, f"second doc {passage} other tail words", "en"),
        (2, "unrelated clean document body four five", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = curate_corpus(df, substring_k=6).toPandas().set_index("doc_id")
    assert passage in out.loc[0, "text"]
    assert passage not in out.loc[1, "text"]
    assert out.loc[2, "text"] == rows[2][1]
    assert set(out.index) == {0, 1, 2}
    assert set(out.columns) == {"text", "lang"}


def test_every_stage_on_including_r11(spark):
    """The three r11 stages (bigram floor, learned classifier floor,
    substring rewrite) engaged TOGETHER with the always-on stages and
    decontamination — the cross-stage interaction the per-stage tests
    can't see. (Bloom prefilter, redaction, and mixture each have
    their own composition tests; leaving them off keeps this inside
    the per-test budget.)

    NOTE on the substring stage's interaction with the token gate: the
    span rewrite runs AFTER min/max_tokens, so a heavily-deduped doc
    can leave with fewer tokens than min_tokens — by design (the gate
    is an input-quality filter, not an output contract)."""
    from pandasql_spark.operators.classifier import (
        train_quality_classifier,
        weights_to_df,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    # 200 docs keep the nine-stage composition under the per-test
    # budget; every stage still binds on this corpus
    tr = docs.filter((F.col("doc_id") % 50 != 0) & (F.col("doc_id") < 205))
    labeled = tr.limit(100).withColumn(
        "label", (F.col("doc_id") % 2).cast("double")
    )
    w, b = train_quality_classifier(
        labeled, n_buckets=1 << 12, epochs=1, lr=0.5
    )
    out = curate_corpus(
        tr,
        eval_df=ev,
        min_tokens=30,
        max_tokens=80,
        max_top_gram_frac=0.5,
        max_dup_gram_frac=0.95,
        min_logprob=-4.5,
        min_bigram_logprob=-6.0,
        substring_k=20,
        min_quality_prob=0.0,  # engage the scorer, keep everything it sees
        quality_weights=weights_to_df(spark, w),
        quality_bias=b,
        quality_n_buckets=1 << 12,
        ngram_n=3,
        hashed=False,
    ).cache()
    try:
        n = out.count()
        assert 0 < n <= 200
        assert set(out.columns) >= {"doc_id", "text", "lang"}
    finally:
        out.unpersist()

"""Repetition quality signals (operators/repetition.py) and PII
hygiene (functions/pii.py): known-value checks, the kernel against a
Python oracle (corpus-wide and as a property test), and the
zero-shuffle plan guarantee the docstring claims."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from tests.conftest import soak_examples

from pandasql_spark.functions import pii
from pandasql_spark.operators.repetition import (
    repetition_filter,
    repetition_signals,
    word_ngrams,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _py_signals(text: str, n: int = 2):
    toks = text.split(" ")  # single-space convention, like the engine
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    if not grams:
        return None
    c = Counter(grams)
    total = len(grams)
    top = max(c.values())
    dup = sum(v for v in c.values() if v > 1)
    return (total, top, round(top / total, 6), round(dup / total, 6))


def test_known_values(spark):
    # "a b a b a" bigrams: [a b, b a, a b, b a] -> top 2/4, dup 4/4
    out = repetition_signals(_docs(spark, ["a b a b a"]), n=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_grams, r.top_gram_count) == (4, 2)
    assert r.top_gram_frac == 0.5 and r.dup_gram_frac == 1.0


def test_short_docs_omitted(spark):
    out = repetition_signals(_docs(spark, ["solo", "", "two tokens"]), n=2)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {2}
    assert rows[2].n_grams == 1 and rows[2].dup_gram_frac == 0.0


def test_null_text_omitted_by_every_impl(spark):
    df = spark.createDataFrame(
        [(0, None), (1, "a b")], "doc_id long, text string"
    )
    for n in (1, 2):
        ids = {r.doc_id for r in repetition_signals(df, n=n).collect()}
        assert ids == {1}, n


def test_all_impls_agree_on_corpus(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        r.doc_id: (r.n_grams, r.top_gram_count, r.top_gram_frac, r.dup_gram_frac)
        for r in repetition_signals(docs, n=2).collect()
    }
    expected = {
        r.doc_id: sig
        for r in docs.select("doc_id", "text").collect()
        if r.text is not None and (sig := _py_signals(r.text, 2)) is not None
    }
    assert got == expected
    assert len(got) > 0


def test_numpy_kernel_string_ids(spark):
    # id schema is derived from the input column (ADVICE r4: no
    # hardcoded "id long" in mapInPandas schemas)
    df = spark.createDataFrame(
        [("a", "x y x y"), ("b", "p q r")], "doc_id string, text string"
    )
    rows = {
        r.doc_id: r.n_grams
        for r in repetition_signals(df, n=2).collect()
    }
    assert rows == {"a": 3, "b": 2}


@settings(
    max_examples=soak_examples(18),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=1, max_value=3),
)
def test_property_vs_python(spark, texts, n):
    out = {
        r.doc_id: (r.n_grams, r.top_gram_count, r.top_gram_frac, r.dup_gram_frac)
        for r in repetition_signals(_docs(spark, texts), n=n).collect()
    }
    expected = {
        i: sig
        for i, t in enumerate(texts)
        if (sig := _py_signals(t, n)) is not None
    }
    assert out == expected


def test_filter_drops_repetitive_keeps_short(spark):
    df = _docs(spark, ["x y " * 40, "one two three four five", "tiny"])
    kept = {r.doc_id for r in repetition_filter(df, n=2).collect()}
    # doc 0 is 50% top-bigram mass -> dropped; doc 2 too short -> kept
    assert kept == {1, 2}


def test_zero_shuffle_paths_have_no_exchange(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        repetition_signals(docs, n=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_ngrams_edge_cases(spark):
    row = spark.range(1).select(
        word_ngrams(F.lit("a b c"), 2).alias("g2"),
        word_ngrams(F.lit("a"), 2).alias("empty"),
        word_ngrams(F.lit("a b"), 1).alias("g1"),
    ).first()
    assert row.g2 == ["a b", "b c"]
    assert row.empty == []
    assert row.g1 == ["a", "b"]


# --- PII ---


def test_pii_counts_and_redaction(spark):
    t = (
        "mail bob.smith+x@mail.example.org or call 12-345-678-9012 "
        "from 192.168.0.1 twice: jane@ex.co"
    )
    r = spark.range(1).select(
        pii.email_count(F.lit(t)).alias("e"),
        pii.phone_count(F.lit(t)).alias("p"),
        pii.ipv4_count(F.lit(t)).alias("i"),
        pii.pii_count(F.lit(t)).alias("n"),
        pii.redact_pii(F.lit(t)).alias("red"),
    ).first()
    assert (r.e, r.p, r.i, r.n) == (2, 1, 1, 4)
    assert r.red == (
        "mail [EMAIL] or call [PHONE] from [IP] twice: [EMAIL]"
    )


def test_pii_email_domain_not_double_counted_as_ip(spark):
    # a dotted-quad inside an email domain is consumed by the email
    # redaction first and never counted/redacted as an IP
    t = "x user@10.0.0.1.example.com y"
    r = spark.range(1).select(
        pii.redact_pii(F.lit(t)).alias("red"),
        pii.ipv4_count(F.lit(t)).alias("i"),
    ).first()
    assert r.red == "x [EMAIL] y"
    # counting happens on the raw text, where the quad DOES match; the
    # documented contract is counts-before-redaction
    assert r.i == 1


def test_pii_clean_text_untouched(spark):
    t = "no personal data here, just words and 12 numbers"
    r = spark.range(1).select(pii.redact_pii(F.lit(t)).alias("red")).first()
    assert r.red == t


@st.composite
def _pii_texts(draw):
    import string

    words = ["call", "me", "at", "x", "data", "10.1", "a.b", "1-2", "99"]
    frags = []
    for _ in range(draw(st.integers(1, 8))):
        kind = draw(st.integers(0, 4))
        if kind == 0:
            frags.append(draw(st.sampled_from(words)))
        elif kind == 1:  # email
            local = draw(st.text(string.ascii_lowercase + "._%+-0123456789",
                                 min_size=1, max_size=8))
            frags.append(f"{local}@ex{draw(st.integers(0, 9))}.org")
        elif kind == 2:  # phone
            a, b, c, d = (draw(st.integers(0, 99)), draw(st.integers(0, 999)),
                          draw(st.integers(0, 999)), draw(st.integers(0, 9999)))
            frags.append(f"{a:02d}-{b:03d}-{c:03d}-{d:04d}")
        elif kind == 3:  # ip
            frags.append(".".join(str(draw(st.integers(0, 999))) for _ in range(4)))
        else:  # near-miss: too-long phone group / trailing dot
            frags.append("123-456-789-01234")
    return " ".join(frags)


@settings(
    max_examples=soak_examples(25),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(texts=st.lists(_pii_texts(), min_size=1, max_size=6))
def test_pii_property_vs_python_re(spark, texts):
    """Java regex (Spark) vs Python re on the same patterns: these
    pattern features (classes, bounded reps, \\b) behave identically in
    both engines — planted PII, near-misses, and noise all agree."""
    import re

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    got = {
        r.i: (r.e, r.p, r.ip, r.red)
        for r in df.select(
            "i",
            pii.email_count("t").alias("e"),
            pii.phone_count("t").alias("p"),
            pii.ipv4_count("t").alias("ip"),
            pii.redact_pii("t").alias("red"),
        ).collect()
    }
    for i, t in enumerate(texts):
        exp_e = len(re.findall(pii.EMAIL_RE, t))
        exp_p = len(re.findall(pii.PHONE_RE, t))
        exp_ip = len(re.findall(pii.IPV4_RE, t))
        red = re.sub(pii.EMAIL_RE, "[EMAIL]", t)
        red = re.sub(pii.PHONE_RE, "[PHONE]", red)
        red = re.sub(pii.IPV4_RE, "[IP]", red)
        assert got[i] == (exp_e, exp_p, exp_ip, red), (t, got[i])


# --- compression-ratio quality signal -------------------------------------


def test_compression_ratio_known_and_nulls(spark):
    from pandasql_spark.operators.repetition import compression_ratio

    df = spark.createDataFrame(
        [(0, "abc " * 50), (1, None), (2, "")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.r
        for r in df.select("doc_id", compression_ratio("text").alias("r")).collect()
    }
    import zlib

    raw = ("abc " * 50).encode()
    assert got[0] == len(zlib.compress(raw, 6)) / len(raw)
    assert got[1] is None and got[2] == 0.0


def test_compression_ratio_differential_on_corpus(spark):
    import zlib

    from pandasql_spark.operators.repetition import compression_ratio

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    got = {
        r.doc_id: r.r
        for r in docs.repartition(7)
        .select("doc_id", compression_ratio("text").alias("r"))
        .collect()
    }
    for row in docs.select("doc_id", "text").collect():
        raw = row.text.encode("utf-8")
        assert got[row.doc_id] == len(zlib.compress(raw, 6)) / len(raw)


def test_compression_ratio_orders_redundancy(spark):
    from pandasql_spark.operators.repetition import compression_ratio

    df = spark.createDataFrame(
        [
            (0, "spam " * 200),                          # templated
            (1, ("the quick brown fox jumps over the lazy dog and "
                 "then discusses query engines at length ") * 10),  # prose-ish
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.r
        for r in df.select("doc_id", compression_ratio("text").alias("r")).collect()
    }
    assert got[0] < got[1] < 1.0

"""Property-based differential tests for functions/text.py vs
pure-Python reference implementations of the same specs.

The text functions are Catalyst higher-order-function pipelines
(split/filter/transform/slice/md5) whose edge behavior — empty strings,
repeated separators producing empty tokens, docs shorter than the
shingle width — is exactly where an expression rewrite silently changes
semantics. ASCII-only corpus by construction: Java's regex ``\\s`` is
ASCII while Python's is unicode, a known (documented-here) divergence
outside the testdata's alphabet.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import soak_examples

from pandasql_spark.functions import text as tx

WORDS = ["the", "a", "of", "and", "cat", "dog", "runs", "x1", "Zeta", "le", "la"]


@st.composite
def texts(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    parts = [draw(st.sampled_from(WORDS)) for _ in range(n)]
    s = " ".join(parts)
    # inject edge shapes: double spaces (empty tokens), leading/trailing
    # space, or the empty string
    if draw(st.booleans()) and s:
        s = s.replace(" ", "  ", 1)
    if draw(st.integers(0, 9)) == 0:
        s = " " + s
    return s


def _py_tokens(s: str) -> list[str]:
    return s.split(" ")


def _py_shingles(s: str, k: int) -> list[str]:
    t = _py_tokens(s)
    return [" ".join(t[i : i + k]) for i in range(max(len(t) - k + 1, 1))]


def _py_winnow(s: str, k: int, w: int) -> list[str]:
    grams = [hashlib.md5(g.encode()).hexdigest() for g in _py_shingles(s, k)]
    wins = [min(grams[j : j + w]) for j in range(max(len(grams) - w + 1, 1))]
    return list(dict.fromkeys(wins))


def _py_fingerprint(s: str) -> str:
    return hashlib.md5(re.sub(r"[ \t\n\r\f\v]+", " ", s.lower()).strip().encode()).hexdigest()


def _py_lang(s: str, profiles) -> str:
    toks = _py_tokens(s)
    best, best_score = "unk", 0
    for lang, words in profiles.items():  # earlier profiles win ties
        score = sum(1 for t in toks if t in words)
        if score >= 1 and score > best_score:
            best, best_score = lang, score
    return best


@settings(
    max_examples=soak_examples(25),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(docs=st.lists(texts(), min_size=1, max_size=8), k=st.integers(1, 4))
def test_text_functions_match_python_reference(spark, docs, k):
    sdf = spark.createDataFrame(pd.DataFrame({"text": docs}))
    toks = tx.tokens("text")
    got = sdf.select(
        "text",
        tx.token_count(toks).alias("tc"),
        tx.uniq_token_count(toks).alias("utc"),
        tx.stopword_count(toks).alias("sc"),
        tx.fingerprint("text").alias("fp"),
        tx.lang_id(toks).alias("lang"),
        tx.word_shingles("text", k).alias("sh"),
        tx.winnowing_fingerprints("text", k, 4).alias("wf"),
        tx.quality_score(toks).alias("q"),
    ).toPandas()

    sw = set(tx.DEFAULT_STOPWORDS)
    for _, row in got.iterrows():
        s = row["text"]
        t = _py_tokens(s)
        assert row["tc"] == len(t), s
        assert row["utc"] == len(set(t)), s
        assert row["sc"] == sum(1 for x in t if x in sw), s
        assert row["fp"] == _py_fingerprint(s), s
        assert row["lang"] == _py_lang(s, tx.DEFAULT_LANG_PROFILES), s
        assert list(row["sh"]) == _py_shingles(s, k), (s, k)
        assert list(row["wf"]) == _py_winnow(s, k, 4), (s, k)
        # quality: compare pre-round value with rounding slack (Spark
        # rounds HALF_UP, Python banker's — don't test the tiebreak)
        exp = (
            0.4 * (min(len(t), 200) / 200.0)
            + 0.4 * (len(set(t)) / len(t))
            + 0.2 * (min(sum(1 for x in t if x in sw), 10) / 10.0)
        )
        assert abs(row["q"] - exp) <= 5.1e-7, (s, row["q"], exp)

"""BPE tokenizer induction (operators/bpe.py): pure-Python reference
trainer and encoder differentials, greedy-overlap fold semantics, and
reconstruction / monotonicity invariants on the real corpus."""

from __future__ import annotations

from collections import Counter

import pytest

from pandasql_spark.operators.bpe import (
    encode_bpe,
    encode_word,
    pair_stats,
    train_bpe,
    word_freq,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# --- pure-Python reference (test-local, deliberately naive) ---------------


def _ref_word_freq(texts):
    wf = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                wf[w] += 1
    return wf


def _ref_pair_counts(symfreq):
    pc = Counter()
    for syms, cnt in symfreq.items():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += cnt
    return pc


def _ref_merge(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_encode(text, merges):
    """Document encoder built on _ref_merge: single-space words, empty
    words dropped, every rule applied in learned order; NULL stays
    NULL."""
    if text is None:
        return None
    out = []
    for w in text.split(" "):
        if not w:
            continue
        syms = tuple(w)
        for left, right in merges:
            syms = _ref_merge(syms, left, right)
        out.extend(syms)
    return out


def _ref_train_full(texts, n_merges):
    symfreq = {tuple(w): c for w, c in _ref_word_freq(texts).items()}
    merges = []
    for _ in range(n_merges):
        pc = _ref_pair_counts(symfreq)
        if not pc:
            break
        # count desc, then (left, right) asc — the operator's tiebreak
        (left, right), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((left, right))
        nxt = Counter()
        for syms, cnt in symfreq.items():
            nxt[_ref_merge(syms, left, right)] += cnt
        symfreq = dict(nxt)
    return merges


# --- tests ----------------------------------------------------------------


def test_word_freq_known(spark):
    wf = {r.w: r.cnt for r in word_freq(_docs(spark, ["a b a", "b  c"])).collect()}
    # double space yields an empty token — dropped
    assert wf == {"a": 2, "b": 2, "c": 1}


def test_pair_stats_known(spark):
    # words: low:1 lower:2, pairs lo/ow ×3, we/er ×2
    df = _docs(spark, ["low lower", "lower"])
    got = [(r.pair, r.pair_count, r.rank) for r in pair_stats(df, k=3).collect()]
    assert got == [("lo", 3, 1), ("ow", 3, 2), ("er", 2, 3)]


def test_non_bmp_codepoints(spark):
    # astral-plane chars (surrogate PAIRS in UTF-16) must split as ONE
    # symbol each — F.split(w, "") would shatter them into surrogate
    # halves and diverge from DuckDB substr / Python list(word)
    # (ADVICE r9; _codepoints is the fix). "🌊🌊x" words: pairs are
    # (🌊,🌊) and (🌊,x), never lone surrogates.
    texts = ["🌊🌊x 🌊🌊x", "🌊🌊x"]
    got = [(r.pair, r.pair_count, r.rank) for r in pair_stats(_docs(spark, texts), k=5).collect()]
    # tiebreak: pair ASC in UTF-8 byte order == codepoint order, on
    # which Spark (UTF8String), DuckDB, and Python all agree
    assert got == [("🌊x", 3, 1), ("🌊🌊", 3, 2)]
    assert train_bpe(_docs(spark, texts), n_merges=2) == _ref_train_full(texts, 2)
    m = [("🌊", "🌊")]
    a = {r.doc_id: r.bpe_tokens for r in encode_bpe(_docs(spark, texts), m).collect()}
    assert a == {i: _ref_encode(t, m) for i, t in enumerate(texts)}
    assert a[1] == ["🌊🌊", "x"]


def test_train_matches_reference_trainer(spark):
    texts = ["low lower lowest newest new", "wider wide new lower", "low low"]
    got = train_bpe(_docs(spark, texts), n_merges=8)
    assert got == _ref_train_full(texts, 8)


def test_train_on_real_corpus_prefix(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    texts = [r.text for r in docs.select("text").collect()]
    got = train_bpe(docs, n_merges=5, checkpoint_every=2)
    assert got == _ref_train_full(texts, 5)


def test_train_exhausts_and_stops_early(spark):
    # one word "ab": exactly one mergeable pair, then nothing
    assert train_bpe(_docs(spark, ["ab ab"]), n_merges=5) == [("a", "b")]


def test_greedy_overlap_semantics(spark):
    # "aaa" + rule (a,a): greedy left-to-right -> ["aa", "a"], never ["a","aa"]
    assert encode_word("aaa", [("a", "a")]) == ["aa", "a"]
    assert encode_word("aaaa", [("a", "a")]) == ["aa", "aa"]
    out = (
        encode_bpe(_docs(spark, ["aaa aaaa"]), [("a", "a")])
        .select("bpe_tokens")
        .first()[0]
    )
    assert out == ["aa", "a", "aa", "aa"]


def test_encoder_paths_agree_on_corpus(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    merges = train_bpe(docs, n_merges=6)
    rows = encode_bpe(docs, merges).select("text", "bpe_tokens").collect()
    assert rows
    for r in rows:
        assert r.bpe_tokens == _ref_encode(r.text, merges), r.text


def test_encode_reconstructs_and_shrinks(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    merges = train_bpe(docs, n_merges=6)
    rows = (
        encode_bpe(docs, merges)
        .select("text", "bpe_tokens")
        .collect()
    )
    for r in rows:
        words = [w for w in r.text.split(" ") if w]
        # lossless: concatenating subwords reproduces the words in order
        assert "".join(r.bpe_tokens) == "".join(words)
        # compression: more merges never yields more symbols than chars
        assert len(r.bpe_tokens) <= sum(len(w) for w in words)
    # monotone in merge count, per document
    shorter = {
        r.doc_id: len(r.bpe_tokens)
        for r in encode_bpe(docs, merges[:3]).select("doc_id", "bpe_tokens").collect()
    }
    longer = {
        r.doc_id: len(r.bpe_tokens)
        for r in encode_bpe(docs, merges).select("doc_id", "bpe_tokens").collect()
    }
    assert all(longer[d] <= shorter[d] for d in shorter)


def test_encode_null_and_empty(spark):
    df = spark.createDataFrame([(0, None), (1, ""), (2, "ab")], "doc_id long, text string")
    got = {
        r.doc_id: r.bpe_tokens
        for r in encode_bpe(df, [("a", "b")]).collect()
    }
    assert got[0] is None and got[1] == [] and got[2] == ["ab"]


def test_validation():
    with pytest.raises(ValueError, match="n_merges"):
        train_bpe(None, n_merges=-1)


# --- pure-Python properties (no Spark; cheap at any example count) --------

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import soak_examples


@st.composite
def _word_and_merges(draw):
    word = draw(st.text(alphabet="abc", min_size=0, max_size=12))
    n = draw(st.integers(0, 4))
    merges, alphabet = [], ["a", "b", "c"]
    for _ in range(n):
        left = draw(st.sampled_from(alphabet))
        right = draw(st.sampled_from(alphabet))
        merges.append((left, right))
        alphabet.append(left + right)  # later rules may use fused symbols
    return word, merges


@given(_word_and_merges())
@settings(max_examples=soak_examples(100), deadline=None)
def test_property_encode_word(case):
    word, merges = case
    out = encode_word(word, merges)
    # lossless reconstruction
    assert "".join(out) == word
    # applying one more rule never grows the encoding
    for k in range(len(merges)):
        assert len(encode_word(word, merges[: k + 1])) <= len(
            encode_word(word, merges[:k])
        )
    # idempotence: re-encoding the fused sequence symbol-wise via the
    # reference merge leaves it fixed (every rule already exhausted
    # in order implies the LAST rule finds nothing left to fuse)
    if merges:
        assert _ref_merge(tuple(out), *merges[-1]) == tuple(out)


def test_encoder_paths_agree_on_messy_whitespace(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "a  b"), (2, " ab "), (3, "ab  ab")],
        "doc_id long, text string",
    )
    m = [("a", "b")]
    a = {r.doc_id: r.bpe_tokens for r in encode_bpe(df, m).collect()}
    assert a == {0: [], 1: ["a", "b"], 2: ["ab"], 3: ["ab", "ab"]}
    assert a == {i: _ref_encode(t, m) for i, t in enumerate(["", "a  b", " ab ", "ab  ab"])}


@given(
    st.lists(
        st.lists(st.sampled_from(["ab", "aab", "ba", "abc", "ca", "a"]), min_size=1, max_size=6).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    st.integers(0, 5),
)
@settings(max_examples=soak_examples(5), deadline=None)
def test_property_train_matches_reference(spark, texts, n_merges):
    got = train_bpe(_docs(spark, texts), n_merges=n_merges, checkpoint_every=2)
    assert got == _ref_train_full(texts, n_merges)


def test_pair_stats_k_guard(spark):
    with pytest.raises(ValueError, match="k must be"):
        pair_stats(_docs(spark, ["ab"]), k=0)

"""Contamination-detection tests: planted n-gram overlaps + a pure-
Python oracle, hashed/string join parity, and decontaminate round-trip."""

from __future__ import annotations

import pandas as pd
import pytest

from pandasql_spark.operators.contamination import (
    contaminated_docs,
    decontaminate,
)


@pytest.fixture(scope="module")
def corpora(spark):
    evald = pd.DataFrame(
        {
            "doc_id": [1000, 1001],
            "text": [
                "the capital of france is paris everyone knows",
                "two plus two equals four in base ten",
            ],
        }
    )
    train = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                # contains a 5-gram of eval doc 1000 (twice)
                "q: the capital of france is what answer the capital of france is",
                # contains a 5-gram of eval doc 1001
                "we know two plus two equals four obviously",
                # clean
                "completely unrelated content about distributed query engines",
                # shares words but no 5-gram
                "paris france capital the of is",
            ],
        }
    )
    return spark.createDataFrame(train), spark.createDataFrame(evald), train


def _py_oracle(train_pdf, eval_texts, n):
    def grams(t):
        w = t.split(" ")
        return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]

    ev = {g for t in eval_texts for g in grams(t)}
    out = {}
    for r in train_pdf.itertuples():
        hits = [g for g in grams(r.text) if g in ev]
        if hits:
            out[r.doc_id] = (len(hits), len(set(hits)))
    return out


@pytest.mark.parametrize("hashed", [True, False])
def test_contaminated_docs_matches_python(corpora, spark, hashed):
    train, evald, train_pdf = corpora
    got = {
        r.doc_id: (r.n_hits, r.n_distinct_hits)
        for r in contaminated_docs(train, evald, n=5, hashed=hashed).collect()
    }
    exp = _py_oracle(
        train_pdf, [r.text for r in evald.select("text").collect()], 5
    )
    assert got == exp
    assert 0 in got and 1 in got and 2 not in got and 3 not in got
    assert got[0] == (2, 1)  # the eval 5-gram appears twice, once distinct


def test_decontaminate(corpora, spark):
    train, evald, _ = corpora
    clean = decontaminate(train, evald, n=5)
    assert sorted(r.doc_id for r in clean.select("doc_id").collect()) == [2, 3]
    # n larger than any doc: nothing flagged, everything survives
    assert decontaminate(train, evald, n=50).count() == train.count()


def test_n_guard(corpora, spark):
    train, evald, _ = corpora
    with pytest.raises(ValueError, match="n must be"):
        contaminated_docs(train, evald, n=0)


import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import soak_examples


@settings(
    max_examples=soak_examples(15),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    seed=st.integers(min_value=0, max_value=10**6),
    n=st.sampled_from([1, 2, 3]),
    n_train=st.integers(min_value=1, max_value=12),
    n_eval=st.integers(min_value=1, max_value=4),
)
def test_property_matches_python_oracle(spark, seed, n, n_train, n_eval):
    """Tiny vocab forces heavy overlap; tiny docs force the len<n empty
    case; n=1 degenerates to token overlap."""
    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d"]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 8)))

    train_pdf = pd.DataFrame(
        {"doc_id": range(n_train), "text": [doc() for _ in range(n_train)]}
    )
    eval_texts = [doc() for _ in range(n_eval)]
    evald = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(1000, 1000 + n_eval), "text": eval_texts})
    )
    got = {
        r.doc_id: (r.n_hits, r.n_distinct_hits)
        for r in contaminated_docs(
            spark.createDataFrame(train_pdf), evald, n=n
        ).collect()
    }
    assert got == _py_oracle(train_pdf, eval_texts, n)


# --- bloom prefilter (the beyond-broadcast scale path) --------------------


def test_bloom_prefilter_identical_results(corpora, spark):
    train, evald, train_pdf = corpora
    base = sorted(map(tuple, contaminated_docs(train, evald, n=5).collect()))
    for broadcast_eval in (True, False):
        bloomed = sorted(
            map(
                tuple,
                contaminated_docs(
                    train, evald, n=5,
                    prefilter="bloom", broadcast_eval=broadcast_eval,
                ).collect(),
            )
        )
        assert bloomed == base
    assert base  # the fixture plants real contamination


def test_bloom_prefilter_on_real_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train, evald = docs.limit(80), docs.limit(95).subtract(docs.limit(80))
    base = sorted(map(tuple, contaminated_docs(train, evald, n=7).collect()))
    bloomed = sorted(
        map(tuple, contaminated_docs(train, evald, n=7, prefilter="bloom").collect())
    )
    assert bloomed == base


def test_bloom_tiny_filter_still_exact(corpora, spark):
    # a deliberately saturated 64-bit filter: every gram passes the
    # prefilter, exactness must come from the confirm join alone
    train, evald, _ = corpora
    base = sorted(map(tuple, contaminated_docs(train, evald, n=5).collect()))
    got = sorted(
        map(
            tuple,
            contaminated_docs(
                train, evald, n=5, prefilter="bloom", bloom_bits=64, bloom_k=2
            ).collect(),
        )
    )
    assert got == base


def test_bloom_empty_eval(corpora, spark):
    train, evald, _ = corpora
    empty = evald.filter("doc_id < 0")
    assert contaminated_docs(train, empty, n=5, prefilter="bloom").count() == 0


def test_bloom_validation(corpora, spark):
    train, evald, _ = corpora
    with pytest.raises(ValueError, match="prefilter"):
        contaminated_docs(train, evald, n=5, prefilter="cuckoo")
    from pandasql_spark.operators.contamination import build_eval_bloom

    with pytest.raises(ValueError, match="m_bits"):
        build_eval_bloom(evald, n=5, m_bits=12)


def test_bloom_bitmap_selectivity(corpora, spark):
    # the bitmap rejects unrelated grams: membership of train grams that
    # are NOT in eval should be (nearly always) false at 1M bits
    from pyspark.sql import functions as F

    from pandasql_spark.operators.contamination import (
        bloom_member_column,
        build_eval_bloom,
    )

    train, evald, _ = corpora
    bm = build_eval_bloom(evald, n=5, m_bits=1 << 20, k=5)
    member = bloom_member_column(spark.sparkContext, bm, 1 << 20, 5)
    from pandasql_spark.operators.repetition import word_ngrams

    grams = train.select(F.explode(word_ngrams("text", 5)).alias("g")).select(
        "g", member(F.xxhash64("g")).alias("m")
    )
    got = {r.g: r.m for r in grams.collect()}
    eval_grams = {
        r.g
        for r in evald.select(F.explode(word_ngrams("text", 5)).alias("g")).collect()
    }
    for g, m in got.items():
        if g in eval_grams:
            assert m  # no false negatives, ever
    # at 2^20 bits for ~10 grams, a false positive is ~impossible
    assert sum(m for g, m in got.items() if g not in eval_grams) == 0


# ---------------------------------------------------------------------------
# fuzzy (near-dup) contamination
# ---------------------------------------------------------------------------


def _fdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fuzzy_flags_edited_copies_not_strangers(spark):
    ev = _fdocs(spark, [(0, "the cat sat on the warm mat today"),
                        (1, "a dog ran across the green park fast")])
    tr = _fdocs(spark, [
        (10, "the cat sat on the warm mat today folks"),  # edited copy of 0
        (11, "a dog ran across the green park fast zz"),  # edited copy of 1
        (12, "completely different words about spark engines here"),
    ])
    from pandasql_spark.operators.contamination import (
        decontaminate_fuzzy,
        fuzzy_contaminated_docs,
    )

    got = {(r.doc_id, r.eval_id): r.jaccard
           for r in fuzzy_contaminated_docs(tr, ev, threshold=0.5).collect()}
    assert set(got) == {(10, 0), (11, 1)}
    assert all(0.5 <= j <= 1.0 for j in got.values())
    kept = {r.doc_id for r in decontaminate_fuzzy(tr, ev, threshold=0.5).collect()}
    assert kept == {12}


def test_fuzzy_jaccard_matches_python(spark):
    # true jaccard of hashed 3-shingle sets vs the reported value
    ev = _fdocs(spark, [(0, "w x y z w x y z q r s t")])
    tr = _fdocs(spark, [(5, "w x y z w x y z q r s u")])
    from pandasql_spark.operators.contamination import fuzzy_contaminated_docs

    def sh(t):
        toks = t.split(" ")
        return {" ".join(toks[i:i+3]) for i in range(max(len(toks) - 2, 1))}

    a, b = sh("w x y z w x y z q r s t"), sh("w x y z w x y z q r s u")
    exp = round(len(a & b) / len(a | b), 6)
    rows = fuzzy_contaminated_docs(tr, ev, threshold=0.1).collect()
    assert len(rows) == 1 and rows[0].jaccard == exp


def test_fuzzy_threshold_validation(spark):
    from pandasql_spark.operators.contamination import fuzzy_contaminated_docs

    ev = _fdocs(spark, [(0, "a b c")])
    with pytest.raises(ValueError):
        fuzzy_contaminated_docs(ev, ev, threshold=0.0)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_fuzzy_gate_margin_guard(sf):
    """ADVICE r14: fuzzy_contaminated_docs is LSH-probabilistic
    (P(miss) ≈ 1e-4 at exactly J=0.5) while the q66 oracle is
    brute-force, so the gate's soundness rests on the DATA keeping a
    wide margin around the threshold. Guard it: recompute true
    Jaccard over ALL cross pairs of the q66 fuzzy corpus in DuckDB
    and assert the min-above / max-below margins stay wide — a
    testdata regeneration that erodes them fails HERE, loudly, not as
    an oracle flake. (Documented r14 margins: 0.909 / 0.049.)"""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('/root/testdata/{sf}/documents.parquet')"
    )
    lo, hi = con.execute(
        """
        WITH ftr AS (
          SELECT doc_id AS id, text FROM documents WHERE doc_id % 50 <> 0
          UNION ALL
          SELECT -(doc_id + 1), text || ' zz' FROM documents
          WHERE doc_id % 50 = 0
        ),
        fev AS (
          SELECT doc_id AS eval_id, text FROM documents WHERE doc_id % 50 = 0
        ),
        tsh AS (
          SELECT id, unnest(list_distinct(list_transform(
              range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
              i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
          FROM ftr
        ),
        esh AS (
          SELECT eval_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
              i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
          FROM fev
        ),
        ts AS (SELECT id, count(*) AS n FROM tsh GROUP BY id),
        es AS (SELECT eval_id, count(*) AS n FROM esh GROUP BY eval_id),
        common AS (
          SELECT t.id, e.eval_id, count(*) AS c
          FROM tsh t JOIN esh e USING (sh) GROUP BY 1, 2
        ),
        j AS (
          SELECT c.c / (ts.n + es.n - c.c) AS jac
          FROM common c JOIN ts ON c.id = ts.id
          JOIN es ON c.eval_id = es.eval_id
        )
        SELECT min(jac) FILTER (jac >= 0.5), max(jac) FILTER (jac < 0.5)
        FROM j
        """
    ).fetchone()
    assert lo is not None, "no above-threshold pair — planted twins missing?"
    # above-threshold pairs must stay far above 0.5 (LSH miss ~1e-30
    # at J≥0.8); below-threshold pairs far below (no borderline pair
    # whose brute-force oracle row the banding could plausibly miss)
    assert lo >= 0.8, f"min above-threshold Jaccard eroded to {lo}"
    assert hi is None or hi <= 0.2, f"max below-threshold Jaccard rose to {hi}"

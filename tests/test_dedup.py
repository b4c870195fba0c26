"""Dedup operator tests: planted near-duplicates + pure-Python oracles.

The MinHash/Jaccard oracles recompute shingle-set Jaccard in plain
Python; LSH results are checked for recall on planted dups and precision
via the est_jaccard filter. Seeded → fully deterministic."""

from __future__ import annotations

import itertools

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandasql_spark.operators import dedup, multimodal


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) <= k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = _shingles(a, k), _shingles(b, k)
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def corpus(spark):
    """20 base docs + 5 planted near-dups (1-word edits) + 2 exact dups."""
    import random

    rng = random.Random(7)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    base = [" ".join(rng.choice(vocab) for _ in range(40)) for _ in range(20)]
    docs = list(base)
    for i in range(5):  # near-dups of docs 0..4: change one token
        toks = base[i].split(" ")
        toks[10] = "CHANGED"
        docs.append(" ".join(toks))
    docs.append(base[0])  # exact dup of 0
    docs.append(base[1])  # exact dup of 1
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    return spark.createDataFrame(pdf), pdf


def test_exact_dedup(corpus, spark):
    sdf, pdf = corpus
    out = dedup.exact_dedup(sdf).toPandas()
    # 27 docs, 2 exact dups → 25 fingerprint groups, two of size 2
    assert len(out) == 25
    assert sorted(out["n_copies"])[-2:] == [2, 2]
    dup_groups = out[out["n_copies"] == 2]
    assert set(dup_groups["first_id"]) == {0, 1}


def test_minhash_neardup_recall_and_precision(corpus, spark):
    sdf, pdf = corpus
    pairs = dedup.minhash_neardup_pairs(
        sdf, num_hashes=64, num_bands=16, threshold=0.5
    ).toPandas()
    found = {(int(r.id_a), int(r.id_b)) for r in pairs.itertuples()}
    # recall: planted near-dups (docs i & i+20 share all but ~3 shingles)
    # and exact dups must be found
    for i in range(5):
        true_j = _jaccard(pdf.text[i], pdf.text[i + 20])
        assert true_j > 0.8
        assert (i, i + 20) in found, f"planted near-dup ({i},{i+20}) missed"
    assert (0, 25) in found and (1, 26) in found
    # precision: every reported pair must have true jaccard ≥ ~threshold/2
    # (minhash estimate of 64 hashes has ~1/8 stderr)
    for a, b in found:
        assert _jaccard(pdf.text[a], pdf.text[b]) > 0.2, (a, b)


def test_minhash_estimate_tracks_true_jaccard(corpus, spark):
    sdf, pdf = corpus
    pairs = dedup.minhash_neardup_pairs(sdf, threshold=0.5).toPandas()
    for r in pairs.itertuples():
        true_j = _jaccard(pdf.text[int(r.id_a)], pdf.text[int(r.id_b)])
        assert abs(r.est_jaccard - true_j) < 0.25, (r.id_a, r.id_b, r.est_jaccard, true_j)


def test_ngram_jaccard_exact(corpus, spark):
    sdf, pdf = corpus
    out = dedup.ngram_jaccard_pairs(sdf, threshold=0.3).toPandas()
    got = {(int(r.id_a), int(r.id_b)): r.jaccard for r in out.itertuples()}
    # oracle: brute-force every pair
    expected = {}
    for a, b in itertools.combinations(range(len(pdf)), 2):
        j = _jaccard(pdf.text[a], pdf.text[b])
        if j >= 0.3:
            expected[(a, b)] = round(j, 6)
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-6)


def test_simhash_deterministic_and_neardup(corpus, spark):
    sdf, pdf = corpus
    s1 = dedup.simhash(sdf).toPandas().set_index("id")["simhash"].sort_index()
    s2 = dedup.simhash(sdf).toPandas().set_index("id")["simhash"].sort_index()
    pd.testing.assert_series_equal(s1, s2)  # deterministic
    # exact dups → identical simhash
    assert s1[0] == s1[25] and s1[1] == s1[26]
    pairs = dedup.simhash_neardup_pairs(sdf, max_hamming=8, num_bands=16).toPandas()
    found = {(int(r.id_a), int(r.id_b)) for r in pairs.itertuples()}
    assert (0, 25) in found and (1, 26) in found
    ham = pairs.set_index(["id_a", "id_b"])["hamming"]
    assert ham[(0, 25)] == 0 and ham[(1, 26)] == 0


def test_embedding_neardup(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(10, 64))
    vecs = list(base)
    vecs.append(base[0] + rng.normal(scale=0.01, size=64))  # near-dup of 0
    vecs.append(base[3] * 2.0)  # scaled copy of 3 → cosine 1.0
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [[float(x) for x in v] for v in vecs],
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = dedup.embedding_neardup_pairs(sdf, dim=64, threshold=0.95).toPandas()
    found = {(int(r.id_a), int(r.id_b)) for r in out.itertuples()}
    assert (0, 10) in found
    assert (3, 11) in found
    # random gaussian pairs shouldn't hit 0.95
    assert all(a in (0, 3) or b in (10, 11) for a, b in found)


def test_multimodal_plumbing(spark):
    """Mixed real-PNG + garbage corpus through the full pipeline: real
    decode where possible (see test_imagecodec.py for codec coverage),
    deterministic fallback with decode_ok=false where not."""
    import numpy as np

    from pandasql_spark.functions.imagecodec import encode_png

    payloads = [bytes([i]) * (100 + i) for i in range(8)]
    payloads += [
        encode_png(np.full((3 + i, 5, 3), 40 * i, dtype=np.uint8), filter_type=i % 5)
        for i in range(4)
    ]
    pdf = pd.DataFrame({"media_id": range(12), "payload": payloads})
    sdf = spark.createDataFrame(pdf)
    with_meta = multimodal.attach_media_meta(sdf, "payload", "image", "png")
    meta = with_meta.select("media_meta.*").toPandas()
    assert list(meta["size_bytes"]) == [len(p) for p in payloads]
    # JVM header dims populated exactly for the four real PNGs
    assert list(meta["width"].dropna()) == [5.0] * 4
    assert list(meta["height"].dropna()) == [3.0, 4.0, 5.0, 6.0]

    feats = multimodal.extract_image_features(sdf).toPandas().sort_values("media_id")
    assert len(feats) == 12
    assert all(len(f) == 16 for f in feats["feature"])
    assert list(feats["decode_ok"]) == [False] * 8 + [True] * 4
    # deterministic: same payload → same feature
    f2 = multimodal.extract_image_features(sdf).toPandas().sort_values("media_id")
    assert feats["sha256"].tolist() == f2["sha256"].tolist()
    assert [list(f) for f in feats["feature"]] == [list(f) for f in f2["feature"]]

    # none of these payloads is an AVI: each survives as ONE
    # decode_ok=false row (real decode now — stub era over)
    frames = multimodal.sample_frames(sdf).toPandas()
    assert len(frames) == 12
    assert not frames["decode_ok"].any()
    assert frames["frame_png"].isna().all()


def test_connected_components(spark):
    from pandasql_spark.operators.cluster import connected_components

    # two clusters {1,2,3,4} (chain) and {10,11}, singleton edges absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r.node: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keep_representative(spark):
    import pandas as pd

    from pandasql_spark.operators.cluster import dedup_keep_representative

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 99], "text": list("abcdef")})
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = sorted(
        r.doc_id for r in dedup_keep_representative(df, pairs).collect()
    )
    # cluster mins 1 and 10 survive; untouched 99 survives
    assert kept == [1, 10, 99]


def test_jaccard_verified_matches_exact(spark):
    """LSH-candidates + exact verification returns the same pairs with
    the same TRUE Jaccard values as the all-pairs exact operator (the
    16x4 band curve has ~0.99+ recall at J>=0.5)."""
    from pandasql_spark.operators.dedup import (
        jaccard_verified_neardup_pairs,
        ngram_jaccard_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    ver = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_verified_neardup_pairs(d, threshold=0.5).collect()
    }
    assert ver == exact


def test_embedding_lsh_recall_non_identical(spark):
    """Multi-table OR-banding must find near (NOT identical) duplicate
    vectors — a single AND-only table misses ~70% at cosine 0.95."""
    import math
    import random

    import pandas as pd

    from pandasql_spark.operators.dedup import embedding_neardup_pairs

    rng = random.Random(3)
    dim = 64
    rows = []
    true_pairs = set()
    for i in range(30):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        # perturbed copy at cosine ~0.95-0.99 (not identical)
        noise_scale = 0.18 + 0.1 * rng.random()
        pert = [b + noise_scale * rng.gauss(0, 1) for b in base]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, pert))
        dot = sum(x * y for x, y in zip(base, pert))
        na = math.sqrt(sum(x * x for x in base))
        nb = math.sqrt(sum(x * x for x in pert))
        if dot / (na * nb) >= 0.9:
            true_pairs.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    )
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(df, dim=dim, threshold=0.9).collect()
    }
    found = len(got & true_pairs)
    assert found / len(true_pairs) >= 0.9, (
        f"recall {found}/{len(true_pairs)} below 0.9"
    )


def test_connected_components_raises_on_nonconvergence(spark):
    from pandasql_spark.operators.cluster import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    import pytest as _pytest

    base = {
        rid for rid in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # the failure path must release its tracked checkpoints — no cleanup
    # handle escapes to the caller on a raise
    leaked = {
        rid for rid in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    } - base
    assert not leaked, f"non-convergence leaked persisted RDDs: {leaked}"
    # and converges fine with enough rounds
    ok = connected_components(chain, max_iter=20)
    assert ok.filter("cluster_id != 0").count() == 0


def test_dedup_corpus_end_to_end(corpus, spark):
    """The one-call pipeline: exact dups AND near-dups collapse to their
    min-id representative; unrelated docs all survive."""
    sdf, pdf = corpus
    survivors = dedup.dedup_corpus(sdf, threshold=0.5).toPandas()
    ids = set(survivors["doc_id"])
    # exact dups (25=copy of 0, 26=copy of 1) and near-dups (20..24 are
    # 1-token edits of 0..4, jaccard >> 0.5) all collapse to base ids
    assert ids == set(range(20)), ids
    # text column intact (representative rows are original rows)
    assert set(survivors.columns) == {"doc_id", "text"}
    row0 = survivors.set_index("doc_id").loc[0, "text"]
    assert row0 == pdf.set_index("doc_id").loc[0, "text"]


def test_dedup_corpus_no_dups_is_identity(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                f"totally distinct document number {i} with unique words w{i}a w{i}b w{i}c"
                for i in range(6)
            ],
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = dedup.dedup_corpus(sdf).toPandas()
    assert set(out["doc_id"]) == set(range(6))


def test_dedup_embeddings_end_to_end(spark):
    """Planted near-identical vectors collapse to the min id; the rest
    survive."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(10, 64))
    vecs = list(base)
    vecs.append(base[0] + rng.normal(scale=0.01, size=64))  # 10: near-dup of 0
    vecs.append(base[3] * 2.0)  # 11: scaled copy of 3 (cosine 1.0)
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [[float(x) for x in v] for v in vecs],
        }
    )
    out = dedup.dedup_embeddings(spark.createDataFrame(pdf)).toPandas()
    assert set(out["vec_id"]) == set(range(10))


def test_dedup_corpus_tiny_inputs(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    empty = spark.createDataFrame([], schema)
    assert dedup.dedup_corpus(empty).count() == 0
    one = spark.createDataFrame([(7, "just one document here")], schema)
    out = dedup.dedup_corpus(one).toPandas()
    assert list(out["doc_id"]) == [7]


def test_minhash_string_ids_numpy_path(corpus, spark):
    """The numpy mapInPandas kernel must carry non-long id types through
    its output schema (regression: the schema was hardcoded "id long",
    Arrow-crashing string-id callers on the default path)."""
    sdf, pdf = corpus
    named = sdf.withColumn("doc_id", F.concat(F.lit("doc-"), F.col("doc_id")))
    sigs = dedup.minhash_signatures(named).toPandas()
    assert sigs["id"].map(lambda s: s.startswith("doc-")).all()
    # signatures identical to the long-id run — id type is metadata only
    base = dedup.minhash_signatures(sdf).toPandas()
    base_map = {f"doc-{r.id}": list(r.signature) for r in base.itertuples()}
    for r in sigs.itertuples():
        assert list(r.signature) == base_map[r.id]
    # end-to-end: pairs still found with string ids
    pairs = dedup.minhash_neardup_pairs(named, threshold=0.5).toPandas()
    found = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert ("doc-0", "doc-25") in found and ("doc-1", "doc-26") in found


def test_embedding_neardup_string_ids(spark):
    """Same regression for the embedding bucket kernel's id column."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=(8, 64))
    vecs = list(base) + [base[2] + rng.normal(scale=0.005, size=64)]
    pdf = pd.DataFrame(
        {
            "vec_id": [f"v{i:03d}" for i in range(len(vecs))],
            "embedding": [[float(x) for x in v] for v in vecs],
        }
    )
    out = dedup.embedding_neardup_pairs(
        spark.createDataFrame(pdf), threshold=0.9
    ).toPandas()
    got = {(r.id_a, r.id_b) for r in out.itertuples()}
    assert ("v002", "v008") in got


def test_lsh_bucket_cap_adversarial_boilerplate(spark):
    """Adversarial corpus: a 1,000-copy boilerplate clique must not send
    LSH quadratic.

    Every boilerplate doc lands in the SAME bucket in all 16 bands; an
    uncapped bucket-join would emit ~499,500 candidate pairs from the
    clique alone — quadratic in clique size, the exact failure mode a
    boilerplate-heavy web corpus triggers at 100 TB. ``max_bucket_size``
    must (a) keep the candidate count near-linear, (b) preserve recall
    on planted near-dups outside the degenerate bucket, and (c) lose
    nothing overall, because capped-away members are byte-identical and
    the exact-dup path catches them for the price of one 16-byte-key
    shuffle (measured counts in SCALING.md)."""
    import random

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(500)]
    boiler = " ".join(rng.choice(vocab) for _ in range(40))
    docs = {i: boiler for i in range(1000)}
    uniq = {2000 + i: " ".join(rng.choice(vocab) for _ in range(40)) for i in range(50)}
    docs.update(uniq)
    planted = []
    for i in range(5):  # near-dups of 5 unique docs: one-token edit
        toks = uniq[2000 + i].split(" ")
        toks[7] = "EDITED"
        docs[3000 + i] = " ".join(toks)
        planted.append((2000 + i, 3000 + i))
    pdf = pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    sdf = spark.createDataFrame(pdf)

    sigs = dedup.minhash_signatures(sdf).persist()
    try:
        capped = dedup.lsh_candidate_pairs(sigs, max_bucket_size=100)
        got = {
            tuple(sorted(t))
            for t in capped.toPandas().itertuples(index=False, name=None)
        }
        # (a) bounded: nowhere near the clique's ~499,500 pairs
        assert len(got) < 1000, f"bucket cap failed: {len(got)} candidates"
        # (b) recall outside the degenerate bucket is untouched
        for pair in planted:
            assert pair in got
    finally:
        sigs.unpersist()

    # (c) the capped-away clique is exact-duplicate territory
    groups = dedup.exact_dedup(sdf).toPandas()
    clique = groups[groups["n_copies"] == 1000]
    assert len(clique) == 1 and clique.iloc[0]["first_id"] == 0

    # end-to-end: dedup_corpus runs exact-first, so the clique never even
    # reaches LSH; survivors = 1 boilerplate rep + the 50 unique docs
    # (each planted near-dup collapsed onto its lower id)
    out = dedup.dedup_corpus(sdf, threshold=0.5)
    survivors = set(out.select("doc_id").toPandas()["doc_id"])
    assert survivors == {0} | set(uniq)


# ---------------------------------------------------------------------------
# line-level dedup (C4-style boilerplate strip)


def _py_line_dedup(docs, keep="first", min_chars=1, sep="\n"):
    from collections import Counter

    cnt = Counter()
    order = []
    for did in sorted(docs):
        for pos, line in enumerate(docs[did].split(sep)):
            order.append((did, pos, line))
            if len(line) >= min_chars:
                cnt[line] += 1
    seen = set()
    out = {did: ([], 0, 0) for did in docs}
    for did, pos, line in order:
        kept_lines, k, d = out[did]
        if len(line) < min_chars:
            kept = True
        elif keep == "first":
            kept = line not in seen
            seen.add(line)
        else:
            kept = cnt[line] == 1
        if kept:
            kept_lines.append(line)
            out[did] = (kept_lines, k + 1, d)
        else:
            out[did] = (kept_lines, k, d + 1)
    return {
        did: (sep.join(ls), k, d) for did, (ls, k, d) in out.items()
    }


@pytest.fixture(scope="module")
def lined_docs(spark):
    docs = {
        1: "nav\nalpha\nbeta",
        2: "nav\ngamma\n\nbeta",
        3: "nav\nalpha",
        4: "unique only\n\n",
    }
    return docs, spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )


@pytest.mark.parametrize("keep", ["first", "none"])
def test_line_dedup_matches_python(lined_docs, keep):
    from pandasql_spark.operators.dedup import line_dedup

    docs, df = lined_docs
    got = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
        for r in line_dedup(df, keep=keep).collect()
    }
    assert got == _py_line_dedup(docs, keep=keep)


def test_line_dedup_counts_conserve(lined_docs):
    from pandasql_spark.operators.dedup import line_dedup

    docs, df = lined_docs
    for r in line_dedup(df).collect():
        assert r["n_kept"] + r["n_dropped"] == len(docs[r["doc_id"]].split("\n"))


def test_line_dedup_min_chars_bypass(lined_docs, spark):
    from pandasql_spark.operators.dedup import line_dedup

    # min_chars=6 exempts every line <6 chars from dedup: nav/alpha/beta
    # all survive everywhere
    docs, df = lined_docs
    got = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
        for r in line_dedup(df, min_chars=6, keep="first").collect()
    }
    assert got == _py_line_dedup(docs, keep="first", min_chars=6)
    assert got[3] == ("nav\nalpha", 2, 0)


def test_line_dedup_validation(lined_docs):
    from pandasql_spark.operators.dedup import line_dedup

    _, df = lined_docs
    with pytest.raises(ValueError, match="keep"):
        line_dedup(df, keep="last")
    with pytest.raises(ValueError, match="min_chars"):
        line_dedup(df, min_chars=-1)


def test_line_dedup_partitioning_independent(lined_docs):
    from pandasql_spark.operators.dedup import line_dedup

    docs, df = lined_docs
    a = sorted(map(tuple, line_dedup(df).collect()))
    b = sorted(map(tuple, line_dedup(df.repartition(7)).collect()))
    assert a == b


def test_line_dedup_plan_window_group_limit(spark):
    from pandasql_spark.operators.dedup import line_dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        line_dedup(d)._jdf.queryExecution().executedPlan().toString()
    )
    # keep="first" must be the rank-FILTER shape Catalyst trims
    # partially below the exchange; bypass lines never enter the window
    assert "WindowGroupLimit" in plan


def test_line_dedup_regex_metachar_separator(spark):
    """sep is a LITERAL: '.' must not behave as a regex wildcard."""
    from pandasql_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["nav.alpha", "nav.beta"]})
    )
    got = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
        for r in line_dedup(df, sep=".").collect()
    }
    assert got[1] == ("nav.alpha", 2, 0)
    assert got[2] == ("beta", 1, 1)  # 'nav' deduped across docs


def test_dedup_corpus_keep_best(corpus, spark):
    """keep='best' retains the HIGHEST-score member of every duplicate
    group (ties → min id) at both stages: give the planted copies
    higher scores than their originals and the copies must win; docs
    with no duplicates survive regardless of score."""
    sdf, pdf = corpus
    # scores: planted near-dups (20..24) and exact dups (25, 26) score
    # 10 + id; originals score their id — every copy outscores its base
    scored = sdf.withColumn(
        "score",
        F.when(F.col("doc_id") >= 20, F.col("doc_id") + 1000.0).otherwise(
            F.col("doc_id").cast("double")
        ),
    )
    out = dedup.dedup_corpus(
        scored, threshold=0.5, keep="best", score_col="score"
    ).toPandas()
    ids = set(out["doc_id"])
    # bases 0,1 lose to exact copies 25,26; bases 2,3,4 lose to
    # near-dups 22,23,24; near-dups 20,21 beat bases 0,1 but their
    # clusters {0,20,25} / {1,21,26} keep the single best member
    assert ids == set(range(5, 20)) | {22, 23, 24, 25, 26}, ids
    # ties: equal scores fall back to min id (exact-dup pair 0/25)
    tied = sdf.withColumn("score", F.lit(1.0))
    out_tied = dedup.dedup_corpus(
        tied, threshold=0.5, keep="best", score_col="score"
    ).toPandas()
    assert set(out_tied["doc_id"]) == set(range(20)), set(out_tied["doc_id"])

    # half-specified policies are loud
    with pytest.raises(ValueError, match="keep must be"):
        dedup.dedup_corpus(sdf, keep="longest")
    with pytest.raises(ValueError, match="half-specified"):
        dedup.dedup_corpus(sdf, keep="best")
    with pytest.raises(ValueError, match="half-specified"):
        dedup.dedup_corpus(sdf, score_col="score")


def test_dedup_embeddings_keep_best(spark):
    """keep='best' on the embedding path: the higher-scoring member of
    each near-dup component survives; singletons survive regardless."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(10, 64))
    vecs = list(base)
    vecs.append(base[0] + rng.normal(scale=0.01, size=64))  # 10 ~ 0
    vecs.append(base[3] * 2.0)                              # 11 ~ 3
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [[float(x) for x in v] for v in vecs],
            # copies outscore their originals
            "score": [float(i) for i in range(10)] + [100.0, 100.0],
        }
    )
    out = dedup.dedup_embeddings(
        spark.createDataFrame(pdf), keep="best", score_col="score"
    ).toPandas()
    assert set(out["vec_id"]) == (set(range(10)) - {0, 3}) | {10, 11}
    with pytest.raises(ValueError, match="half-specified"):
        dedup.dedup_embeddings(spark.createDataFrame(pdf), keep="best")

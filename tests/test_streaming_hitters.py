"""Streaming heavy hitters (streaming/hitters.py): replayed sharded-MG
candidates + exact verify == the naive groupBy ground truth, a python
differential of the chunk-fold algebra, state bounds, and validation."""

from __future__ import annotations

import math
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandasql_spark.streaming.hitters import (
    mg_stream_candidates,
    verify_heavy_hitters,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def token_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hitters") / "tokens")
    (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def _replay(spark, token_dir, capacity, num_shards):
    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(token_dir)
    )
    name = "t" + uuid.uuid4().hex[:8]
    q = (
        mg_stream_candidates(stream, "token", capacity, num_shards)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pdf = spark.table(name).toPandas()
    return pdf.groupby("shard").last()  # final summary per shard


def test_replayed_candidates_verify_to_naive_ground_truth(spark, token_dir):
    threshold = 0.005
    capacity = math.ceil(1 / threshold)
    final = _replay(spark, token_dir, capacity, num_shards=8)
    cands = spark.createDataFrame(
        pd.DataFrame(
            {
                "shard": final.index,
                "items": final["items"],
                "n_shard": final["n_shard"],
            }
        )
    )
    toks = spark.read.parquet(token_dir)
    got = {
        (r.token, r.cnt)
        for r in verify_heavy_hitters(toks, cands, "token", threshold).collect()
    }
    n = toks.count()
    from pandasql_spark.operators.freq import hh_min_count

    floor = hh_min_count(threshold, n)
    exp = {
        (r.token, r.cnt)
        for r in toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= floor)
        .collect()
    }
    assert got == exp and len(exp) > 0
    # shard row counts sum to the corpus
    assert int(final["n_shard"].sum()) == n
    # state bounded: every shard summary <= capacity counters
    assert all(len(x) <= capacity for x in final["items"])


def test_chunk_fold_matches_python_simulation(spark, tmp_path):
    # two explicit chunks; simulate the per-shard MG fold in python
    import hashlib

    rows1 = ["a"] * 8 + ["b"] * 5 + ["c", "d", "e"]
    rows2 = ["a"] * 3 + ["c"] * 6 + ["f", "g"]
    d = str(tmp_path / "chunks")
    spark.createDataFrame([(t,) for t in rows1], "token string").coalesce(
        1
    ).write.parquet(d + "/f0")
    spark.createDataFrame([(t,) for t in rows2], "token string").coalesce(
        1
    ).write.parquet(d + "/f1")
    # stream reads subdirs? stage as flat files instead
    import glob
    import os
    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, sub in enumerate(sorted(("f0", "f1"))):
        src = glob.glob(f"{d}/{sub}/part-*.parquet")[0]
        shutil.copy(src, f"{flat}/{i:02d}.parquet")

    capacity, num_shards = 3, 1  # one shard: the fold itself under test
    final = _replay(spark, flat, capacity, num_shards)
    got = dict(zip(final.iloc[0]["items"], [None] * len(final.iloc[0]["items"])))

    def fold(counters, chunk):
        for t in chunk:
            counters[t] = counters.get(t, 0) + 1
        if len(counters) > capacity:
            cut = sorted(counters.values(), reverse=True)[capacity]
            counters = {k: v - cut for k, v in counters.items() if v > cut}
        return counters

    # NB: the streaming kernel folds each micro-batch's value_counts in
    # one add-then-cut step; replicate exactly (add whole chunk, then cut)
    c: dict = {}
    for chunk in (rows1, rows2):
        c = fold(c, chunk)
    assert set(got) == set(c)


def test_validation(spark):
    ev = spark.createDataFrame([("x",)], "token string")
    with pytest.raises(ValueError):
        mg_stream_candidates(ev, "token", 0)
    with pytest.raises(ValueError):
        mg_stream_candidates(ev, "token", 4, num_shards=0)
    with pytest.raises(ValueError):
        verify_heavy_hitters(ev, ev.select(F.array("token").alias("items")), "token", 0.0)


def test_replay_mg_candidates_final_rows_and_staging_cleanup(spark, monkeypatch):
    """The q62 fold's replay helper: one FINAL summary row per touched
    shard (max-n_shard selection), shard counts sum to the token count,
    and the staging dir it made is removed after the replay (ADVICE r14
    on staging accumulation)."""
    import os
    import tempfile

    from pandasql_spark.streaming.hitters import replay_mg_candidates

    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    out = replay_mg_candidates(
        spark,
        f"{SF}/documents.parquet",
        "text",
        capacity=100,
        num_shards=8,
        n_batches=3,
        query_name="t_mg_replay_clean",
    ).toPandas()
    # the replay staged into exactly one hhchunks_ dir, and it is gone
    (stage,) = [d for d in made if os.path.basename(d).startswith("hhchunks_")]
    assert os.path.dirname(stage) == tempfile.gettempdir()
    assert not os.path.exists(stage)  # staging removed
    assert out["shard"].is_unique
    n_tok = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .count()
    )
    assert int(out["n_shard"].sum()) == n_tok
    assert all(len(x) <= 100 for x in out["items"])


def test_replay_mg_candidates_custom_id_column(spark, tmp_path):
    """ADVICE r15: the replay's readStream schema is derived from the
    staged frame, not a hardcoded `doc_id long` — a corpus keyed by a
    different id column name AND type replays identically."""
    from pandasql_spark.streaming.hitters import replay_mg_candidates

    src = str(tmp_path / "alt_ids")
    (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(60)
        .select(F.col("doc_id").cast("int").alias("docnum"), "text")
        .write.mode("overwrite")
        .parquet(src)
    )
    out = replay_mg_candidates(
        spark, src, "text", capacity=50, num_shards=4, n_batches=2,
        query_name="t_mg_alt_id", id_col="docnum",
    ).toPandas()
    n_tok = (
        spark.read.parquet(src)
        .select(F.explode(F.split("text", " ")).alias("t"))
        .count()
    )
    assert int(out["n_shard"].sum()) == n_tok
    assert out["shard"].is_unique

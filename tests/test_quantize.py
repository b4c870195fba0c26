"""Scalar embedding quantization: code correctness vs a numpy
replication (same half-up rounding), the scale/2 error bound,
constant-vector exactness, and the zero-shuffle plan claim."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pandasql_spark.operators.quantize import (
    dequantize_embeddings,
    quantization_report,
    quantize_embeddings,
)

SF = "/root/testdata/sf0.001"


def _codes_numpy(v):
    v = np.asarray(v, np.float64)
    lo, hi = v.min(), v.max()
    if hi == lo:
        return np.zeros(len(v), np.int64), lo, 0.0
    scale = (hi - lo) / 255.0
    return np.floor((v - lo) / scale + 0.5).astype(np.int64), lo, scale


def test_codes_match_numpy_halfup(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    orig = {r["vec_id"]: r["embedding"] for r in e.collect()}
    got = quantize_embeddings(e).collect()
    assert len(got) == len(orig)
    for r in got:
        exp_codes, lo, scale = _codes_numpy(orig[r["vec_id"]])
        assert r["codes"] == exp_codes.tolist()
        assert math.isclose(r["lo"], lo, rel_tol=0, abs_tol=0)
        assert math.isclose(r["scale"], scale, rel_tol=0, abs_tol=0)
        assert all(0 <= q <= 255 for q in r["codes"])


def test_roundtrip_error_bound(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    orig = {r["vec_id"]: np.array(r["embedding"], np.float64) for r in e.collect()}
    deq = dequantize_embeddings(quantize_embeddings(e))
    for r in deq.collect():
        v = orig[r["vec_id"]]
        err = np.abs(np.array(r["embedding"]) - v).max()
        scale = (v.max() - v.min()) / 255.0
        assert err <= scale / 2 + 1e-12


def test_constant_vector_exact(spark):
    df = spark.createDataFrame(
        [(1, [3.5, 3.5, 3.5]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = quantize_embeddings(df).collect()
    by_id = {r["vec_id"]: r for r in q}
    assert by_id[1]["codes"] == [0, 0, 0] and by_id[1]["scale"] == 0.0
    deq = {r["vec_id"]: r["embedding"] for r in dequantize_embeddings(quantize_embeddings(df)).collect()}
    assert deq[1] == [3.5, 3.5, 3.5]
    assert deq[2] == [0.0, 0.0]


def test_report_err_consistent_and_bounded(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    rep = quantization_report(e).collect()
    for r in rep:
        if r["scale"] > 0:
            assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6
        else:
            assert r["max_abs_err"] == 0.0


def test_zero_shuffle_plan(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    for sdf in (quantize_embeddings(e), quantization_report(e)):
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_report_impls_bit_identical(spark):
    """The Arrow report kernel against the expression path: code_fp is
    the md5 of quantize_embeddings' comma-joined codes, max_abs_err the
    dequantize_embeddings reconstruction error."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    orig = {r["vec_id"]: np.array(r["embedding"], np.float64) for r in e.collect()}
    q = {r["vec_id"]: r for r in quantize_embeddings(e).collect()}
    deq = {
        r["vec_id"]: np.array(r["embedding"], np.float64)
        for r in dequantize_embeddings(quantize_embeddings(e)).collect()
    }
    rep = quantization_report(e).collect()
    assert len(rep) == len(orig) > 0
    for r in rep:
        i = r["vec_id"]
        codes = q[i]["codes"]
        assert r["dim"] == len(codes)
        assert r["lo"] == round(q[i]["lo"], 6)
        assert r["scale"] == round(q[i]["scale"], 6)
        assert r["code_fp"] == hashlib.md5(
            ",".join(map(str, codes)).encode()
        ).hexdigest()
        err = float(np.abs(orig[i] - deq[i]).max())
        assert r["max_abs_err"] == round(err, 6)

"""I/O + compute-surface tests (reference io.py paths + §2.9 compute
API): every reader round-trips, every sink writes what compute() shows."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import pandasql_spark as ps


@pytest.fixture()
def sample(tmp_path):
    pdf = pd.DataFrame({"c0": range(20), "c1": [i * 2 for i in range(20)]})
    return pdf, tmp_path


def test_read_csv(spark, sample):
    pdf, tmp = sample
    path = str(tmp / "t.csv")
    pdf.to_csv(path, index=False)
    df = ps.read_csv(path)
    got = df.compute().sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(got, pdf, check_dtype=False)


def test_read_csv_named_view(spark, sample):
    pdf, tmp = sample
    path = str(tmp / "t.csv")
    pdf.to_csv(path, index=False)
    ps.read_csv(path, name="mytable")
    assert spark.sql("SELECT count(*) c FROM mytable").collect()[0].c == 20


def test_read_json(spark, sample):
    pdf, tmp = sample
    path = str(tmp / "t.json")
    pdf.to_json(path, orient="records", lines=True)
    got = ps.read_json(path).compute().sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(got[["c0", "c1"]], pdf, check_dtype=False)


def test_read_pickle(spark, sample):
    pdf, tmp = sample
    path = str(tmp / "t.pkl")
    pdf.to_pickle(path)
    got = ps.read_pickle(path).compute().sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(got, pdf, check_dtype=False)


def test_read_numpy(spark):
    arr = np.arange(12).reshape(6, 2)
    df = ps.read_numpy(arr, columns=["a", "b"])
    got = df.compute().sort_values("a", ignore_index=True)
    assert got["a"].tolist() == [0, 2, 4, 6, 8, 10]


def test_read_parquet_roundtrip(spark, sample):
    pdf, tmp = sample
    df = ps.DataFrame(pdf)
    path = str(tmp / "t.parquet")
    df.to_parquet(path)
    got = ps.read_parquet(path).compute().sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(got, pdf, check_dtype=False)


def test_to_csv_json_pickle_numpy(spark, sample):
    pdf, tmp = sample
    df = ps.DataFrame(pdf)
    df.to_csv(str(tmp / "out.csv"), index=False)
    back = pd.read_csv(str(tmp / "out.csv")).sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(back, pdf, check_dtype=False)

    df.to_pickle(str(tmp / "out.pkl"))
    back = pd.read_pickle(str(tmp / "out.pkl")).sort_values("c0", ignore_index=True)
    pd.testing.assert_frame_equal(back, pdf, check_dtype=False)

    arr = df.to_numpy()
    assert arr.shape == (20, 2)


def test_compute_len_columns(spark, sample):
    pdf, _ = sample
    df = ps.DataFrame(pdf)
    assert len(df) == 20
    assert list(df.columns) == ["c0", "c1"]
    assert isinstance(df.compute(), pd.DataFrame)
    assert isinstance(df.to_pandas(), pd.DataFrame)


def test_cache_returns_self(spark, sample):
    pdf, _ = sample
    df = ps.DataFrame(pdf)
    assert df.cache() is df
    assert len(df) == 20


def test_orc_roundtrip(spark, tmp_path):
    import pandasql_spark as ps
    import pandas as pd

    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df = ps.DataFrame(pdf)
    path = str(tmp_path / "t.orc")
    df.to_orc(path)
    back = ps.read_orc(path)
    got = back.compute().sort_values("a", ignore_index=True)
    pd.testing.assert_frame_equal(got, pdf, check_dtype=False)


def test_write_compacted(spark, tmp_path):
    import glob

    import pandas as pd

    import pandasql_spark as ps
    from pandasql_spark.sources import write_compacted

    df = ps.DataFrame(pd.DataFrame({"x": range(10_000), "s": ["pad" * 10] * 10_000}))
    # huge target → single output file regardless of input partitioning
    p1 = str(tmp_path / "one")
    n1 = write_compacted(df.to_spark().repartition(16), p1, target_file_mb=1024)
    assert n1 == 1
    assert len(glob.glob(p1 + "/part-*")) == 1
    # tiny target → multiple files
    p2 = str(tmp_path / "many")
    n2 = write_compacted(df, p2, target_file_mb=1, compression_ratio=50.0)
    assert n2 > 1
    assert len(glob.glob(p2 + "/part-*")) == n2
    # round-trip intact
    assert ps.read_parquet(p1).to_spark().count() == 10_000


# Spark refuses to change spark.driver.maxResultSize on a running session
# (CANNOT_MODIFY_CONFIG) and the suite's session is already active, so the
# fetch bound is probed in a session of its own, started in a subprocess.
_FETCH_PROBE = """
import json
import sys

import pandas as pd
from pyspark.sql import functions as F

import pandasql_spark as ps
from pandasql_spark.session import get_spark

spark = get_spark("fetch-bound-probe", **{"spark.driver.maxResultSize": "1m"})
spark.sparkContext.setLogLevel("ERROR")


def refused(thunk):
    try:
        thunk()
    except MemoryError as e:
        return "smaller subset" in str(e)
    return False


def other_error(thunk):
    try:
        thunk()
    except Exception as e:
        return [type(e).__name__, "boom" in str(e)]
    return None


wide = ps.DataFrame(pd.DataFrame({"x": range(50_000), "s": ["payload" * 8] * 50_000}))
docs = ps.DataFrame(pd.DataFrame({"doc_id": range(2_000), "text": ["x" * 5_000] * 2_000}))
texts = ["x" * 1_000] * 500
whale = ps.DataFrame(pd.DataFrame({"doc_id": range(501), "text": texts + ["y" * 8_000_000]}))
slim = ps.DataFrame(pd.DataFrame({"doc_id": range(500), "text": texts}))
a = ps.DataFrame(pd.DataFrame({"k": range(1000), "x": range(1000)}))
b = ps.DataFrame(pd.DataFrame({"k": range(1000), "y": range(1000)}))
join = a.merge(b, on="k")
boom = ps.DataFrame(sdf=spark.range(3).select(F.raise_error(F.lit("boom")).alias("e")))
out = {
    "refused": {
        "frame": refused(wide.compute),
        "projection": refused(wide[["s"]].compute),
        "arithmetic": refused(wide.s.str.upper().compute),
        "to_csv": refused(lambda: wide.to_csv(sys.argv[1])),
        "grouped": refused(wide.groupby("x").max().compute),
        "grouped_multi": refused(wide.groupby("x").agg(["max", "min"]).compute),
        "aggregate": refused(whale.max().compute),
        "multi_aggregate": refused(whale.agg(["max", "min"]).compute),
    },
    "wide_strings_refused": refused(docs.compute),
    "whale_refused": refused(whale.compute),
    "rows": {
        "head": len(wide.head(5).compute()),
        "slice": len(wide[:7].compute()),
        "join": len(join.compute()),
        "slim": len(slim.compute()),
        "whale_head": len(whale.head(10).compute()),
    },
    "join_estimate": join.memory_usage(),
    "other_error": other_error(boom.compute),
}
spark.stop()
print("PROBE " + json.dumps(out))
"""


@pytest.fixture(scope="module")
def fetch_probe(tmp_path_factory):
    """One session with a 1 MB result bound, shared by the fetch tests."""
    csv = str(tmp_path_factory.mktemp("fetch") / "refused.csv")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _FETCH_PROBE, csv],
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"}, cwd=root,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    line = next(ln for ln in out.splitlines() if ln.startswith("PROBE "))
    return {**json.loads(line[len("PROBE "):]), "csv": csv}


def test_compute_fetch_guard(fetch_probe):
    """Oversized fetches raise MemoryError (reference _out_of_memory,
    core.py:181-187) at every pandas fetch site — frame, projection,
    arithmetic, grouped and ungrouped aggregates, and the pandas sinks —
    instead of OOM-ing the driver; bounded fetches (head/limit) pass
    under the same bound; other job failures propagate unchanged."""
    for site, ok in fetch_probe["refused"].items():
        assert ok, f"{site} fetch was not refused"
    assert not os.path.exists(fetch_probe["csv"])
    assert fetch_probe["rows"]["head"] == 5
    assert fetch_probe["rows"]["slice"] == 7
    name, has_message = fetch_probe["other_error"]
    assert name != "MemoryError" and has_message


def test_compute_guard_join_overestimate_probe(fetch_probe):
    """The non-CBO sizeInBytes stat multiplies through joins (a 1000x1000
    merge 'estimates' MBs for a 24 kB result); the bound counts the real
    result bytes, so the join computes under a 1 MB bound."""
    assert fetch_probe["join_estimate"] > 1_000_000  # the over-estimate is real
    assert fetch_probe["rows"]["join"] == 1000


def test_compute_guard_measures_wide_strings(fetch_probe):
    """2,000 rows x 5 kB strings (~10 MB) refuse under a 1 MB bound,
    however few bytes the schema's flat string width would suggest."""
    assert fetch_probe["wide_strings_refused"]


def test_compute_guard_heavy_tailed_widths(fetch_probe):
    """One 8 MB document among 500 1 kB ones refuses under a 1 MB
    bound; the same documents without it (~0.5 MB) fetch, and so does a
    head(10) of the skewed corpus."""
    assert fetch_probe["whale_refused"]
    assert fetch_probe["rows"]["slim"] == 500
    assert fetch_probe["rows"]["whale_head"] == 10

"""Shared Spark fixture + pandas-oracle comparison helpers.

Mirrors the reference's differential-testing strategy (SURVEY.md §5):
build the same operation on our engine and on a plain pandas frame, then
compare index-free with columns sorted by name
(``/root/reference/tests/utils.py:5-25``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from pandasql_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # a fixed width, so the suite runs the same plans and state-store
    # counts on any host
    s = get_spark("pandasql-spark-tests", **{"spark.sql.shuffle.partitions": "4"})
    yield s


def _nan_for_missing(df: pd.DataFrame) -> pd.DataFrame:
    """One missing-value marker on both sides: Spark returns None where
    pandas holds NaN in object columns, and pandas is deprecating
    treating the two as equal. Missing still equals missing."""
    return df.apply(lambda s: s.where(s.notna(), np.nan) if s.dtype == object else s)


def assert_frame_equals_pandas(result, expected: pd.DataFrame, check_row_order=False):
    """Reference comparison semantics (tests/utils.py:5-25): reset index,
    sort columns by name, compare. Row order only when asked (post-sort)."""
    got = result.compute() if hasattr(result, "compute") else result
    if isinstance(got, pd.Series):
        got = got.to_frame()
    if isinstance(expected, pd.Series):
        expected = expected.to_frame()
    got = _nan_for_missing(got.reset_index(drop=True).sort_index(axis=1))
    expected = _nan_for_missing(expected.reset_index(drop=True).sort_index(axis=1))
    if not check_row_order:
        cols = list(got.columns)
        got = got.sort_values(cols, ignore_index=True)
        expected = expected.sort_values(cols, ignore_index=True)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def assert_series_equals_pandas(result, expected: pd.Series, check_row_order=False):
    got = result.compute() if hasattr(result, "compute") else result
    assert isinstance(got, pd.Series), f"expected Series, got {type(got)}"
    got = got.reset_index(drop=True)
    expected = expected.reset_index(drop=True)
    if not check_row_order:
        got = got.sort_values(ignore_index=True)
        expected = expected.sort_values(ignore_index=True)
    pd.testing.assert_series_equal(got, expected, check_dtype=False, check_names=False)


# Hypothesis soak mode: SOAK=1 multiplies example counts 10x for
# long-running edge hunts (the round-4 // and % bugs surfaced this way);
# per-test @settings would override a profile, so tests pass their
# max_examples through this helper instead.
def soak_examples(default: int) -> int:
    return default * 10 if os.environ.get("SOAK") else default

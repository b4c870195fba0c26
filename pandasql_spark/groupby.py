"""Grouped and ungrouped aggregation layer.

Reference parity (rohankumar42/pandaSQL):

- ``GroupByDataFrame`` / ``GroupByProjection`` — lazy group handles, not
  computable until aggregated (``core.py:1003-1067``).
- Ungrouped ``Aggregator`` applies ONE agg to EVERY column and collapses
  to scalar (1×1) or Series (1×n) via ``process_result``
  (``core.py:1075-1188``).
- ``agg([f1, f2])`` multi-agg: the reference implements ungrouped
  multi-agg as a UNION ALL of N single-agg queries (``core.py:1191-1227``)
  and grouped multi-agg as N subqueries re-JOINED on the group keys with a
  sentinel-renamed column scheme (``core.py:1230-1258``). Both of those
  are artifacts of generating SQL strings; on Spark we emit ONE
  ``groupBy().agg()`` with N×M expressions — a single shuffle with
  map-side partial aggregation — and reshape to the pandas funcs×cols /
  MultiIndex presentation on the driver.

Scale notes: groupBy+agg is one shuffle on the group keys with partial
(map-side) aggregation — the canonical scalable plan. Multi-agg adds zero
extra shuffles (all N×M aggregates ride the same exchange). Ungrouped
aggregates reduce to a single row — no skew concern.
"""

from __future__ import annotations

from typing import Any, Sequence

import pandas as pd
from pyspark.sql import DataFrame as SparkDataFrame

from .core import AGG_FUNCS, BaseFrame, DataFrame, agg_columns, fetch_pandas


class Aggregate(BaseFrame):
    """Lazy ungrouped aggregate result with pandas-shaped presentation
    (reference ``Aggregator.process_result``, core.py:1162-1188):
    one column → scalar; many columns → Series indexed by column name."""

    def __init__(self, sdf: SparkDataFrame, cols: list[str], func: str):
        self._sdf = sdf
        self._cols = cols
        self._func = func

    def to_spark(self) -> SparkDataFrame:
        return self._sdf

    def compute(self) -> Any:
        row = fetch_pandas(self._sdf).iloc[0]
        if len(self._cols) == 1:
            return row[self._cols[0]]
        return pd.Series({c: row[c] for c in self._cols}, name=self._func)


class GroupByDataFrame:
    """Lazy group handle (reference core.py:1003-1041). Not computable
    until an aggregate is applied; ``[cols]`` restricts agg columns."""

    def __init__(
        self,
        sdf: SparkDataFrame,
        keys: list[str],
        agg_cols: list[str] | None = None,
        as_index: bool = True,
    ):
        missing = [k for k in keys if k not in sdf.columns]
        if missing:
            raise KeyError(f"group keys not found: {missing}")
        self._sdf = sdf
        self._keys = keys
        self._as_index = as_index
        if agg_cols is None:
            self._agg_cols = [c for c in sdf.columns if c not in keys]
        else:
            missing = [c for c in agg_cols if c not in sdf.columns]
            if missing:
                raise KeyError(f"columns not found: {missing}")
            self._agg_cols = agg_cols

    def __getitem__(self, key):
        # GroupByProjection (core.py:1044-1067)
        cols = [key] if isinstance(key, str) else list(key)
        return GroupByDataFrame(self._sdf, self._keys, cols, self._as_index)

    def _single_agg(self, func: str) -> "GroupedAggregate":
        if func not in AGG_FUNCS:
            raise ValueError(f"unsupported aggregate: {func}")
        cols = agg_columns(self._sdf, func, self._agg_cols)
        if not cols:
            raise ValueError(f"no aggregatable columns for {func}")
        exprs = [AGG_FUNCS[func](c).alias(c) for c in cols]
        out = self._sdf.groupBy(*self._keys).agg(*exprs)
        return GroupedAggregate(out, self._keys, self._as_index)

    def sum(self):
        return self._single_agg("sum")

    def count(self):
        return self._single_agg("count")

    def mean(self):
        return self._single_agg("mean")

    def min(self):
        return self._single_agg("min")

    def max(self):
        return self._single_agg("max")

    def prod(self):
        return self._single_agg("prod")

    def any(self):
        return self._single_agg("any")

    def all(self):
        return self._single_agg("all")

    def apply(self, func, schema):
        """Per-group pandas transform via Arrow-batched ``applyInPandas``
        (distributed groupby-apply; the reference's only custom-logic
        path was the eager driver-side FallbackOperation,
        core.py:1266-1284). One shuffle on the group keys; each group
        must fit in one executor's memory — for heavy-tailed groups
        pre-salt with operators/skew.py."""
        from .core import DataFrame

        return DataFrame(sdf=self._sdf.groupBy(*self._keys).applyInPandas(func, schema))

    def cogroup(self, other: "GroupByDataFrame") -> "CoGroup":
        """Two-sided grouped transform (Spark ``cogroup`` +
        ``applyInPandas``): each pair of same-key groups is handed to a
        pandas function. The distributed form of custom merge logic the
        reference could only do driver-side. Both sides shuffle once on
        their keys."""
        return CoGroup(self, other)

    def agg(self, func=None, **named):
        """1 func → single agg; list → multi-agg with MultiIndex columns
        (cols × funcs), all in ONE groupBy().agg() — no sentinel-rename
        join dance (contrast reference core.py:1230-1258).

        Named aggregation (pandas ``agg(out=(col, fn))`` form) gives
        explicit output aliases: ``g.agg(total=("price", "sum"))``."""
        if named:
            if func is not None:
                raise ValueError("pass either positional funcs or named aggs, not both")
            exprs = []
            for out, (col, fn) in named.items():
                if fn not in AGG_FUNCS:
                    raise ValueError(f"unsupported aggregate: {fn}")
                if col not in self._sdf.columns:
                    raise KeyError(f"column not found: {col}")
                exprs.append(AGG_FUNCS[fn](col).alias(out))
            out_sdf = self._sdf.groupBy(*self._keys).agg(*exprs)
            return GroupedAggregate(out_sdf, self._keys, self._as_index)
        if isinstance(func, str):
            return self._single_agg(func)
        if isinstance(func, dict):
            # pandas dict form: {col: fn} or {col: [fn, ...]}
            exprs, pairs = [], []
            for col, fns in func.items():
                if col not in self._sdf.columns:
                    raise KeyError(f"column not found: {col}")
                for fn in [fns] if isinstance(fns, str) else list(fns):
                    if fn not in AGG_FUNCS:
                        raise ValueError(f"unsupported aggregate: {fn}")
                    exprs.append(AGG_FUNCS[fn](col).alias(f"{col}__{fn}"))
                    pairs.append((col, fn))
            out = self._sdf.groupBy(*self._keys).agg(*exprs)
            return GroupedMultiAggregate(out, self._keys, pairs, self._as_index)
        funcs = list(func)
        for f in funcs:
            if f not in AGG_FUNCS:
                raise ValueError(f"unsupported aggregate: {f}")
        exprs = []
        pairs = []
        for c in self._agg_cols:
            for f in funcs:
                if c in agg_columns(self._sdf, f, [c]):
                    exprs.append(AGG_FUNCS[f](c).alias(f"{c}__{f}"))
                    pairs.append((c, f))
        out = self._sdf.groupBy(*self._keys).agg(*exprs)
        return GroupedMultiAggregate(out, self._keys, pairs, self._as_index)


class GroupedAggregate(BaseFrame):
    """Computed-on-demand grouped aggregate; ``as_index=True`` sets the
    group keys as the pandas index on fetch (core.py:1164-1166)."""

    def __init__(self, sdf: SparkDataFrame, keys: list[str], as_index: bool):
        self._sdf = sdf
        self._keys = keys
        self._as_index = as_index

    def to_spark(self) -> SparkDataFrame:
        return self._sdf

    def compute(self) -> pd.DataFrame:
        pdf = fetch_pandas(self._sdf)
        if self._as_index:
            pdf = pdf.set_index(self._keys if len(self._keys) > 1 else self._keys[0])
            pdf = pdf.sort_index()
        return pdf

    def __getitem__(self, key):
        # post-agg filtering = the reference's HAVING pattern
        # (tests/test_data_frame.py:521-538): agg result is a plain frame.
        return DataFrame(sdf=self._sdf)[key]

    def __getattr__(self, name: str):
        if not name.startswith("_") and name in self._sdf.columns:
            return DataFrame(sdf=self._sdf)[name]
        raise AttributeError(name)


class GroupedMultiAggregate(GroupedAggregate):
    """Multi-agg result; presentation reshapes flat ``col__func`` columns
    into the pandas (col, func) MultiIndex (reference core.py:1246-1258)."""

    def __init__(
        self,
        sdf: SparkDataFrame,
        keys: list[str],
        pairs: list[tuple[str, str]],
        as_index: bool,
    ):
        super().__init__(sdf, keys, as_index)
        self._pairs = pairs

    def compute(self) -> pd.DataFrame:
        pdf = fetch_pandas(self._sdf)
        if self._as_index:
            pdf = pdf.set_index(self._keys if len(self._keys) > 1 else self._keys[0])
            pdf = pdf.sort_index()
        else:
            pdf = pdf.drop(columns=self._keys)
        pdf.columns = pd.MultiIndex.from_tuples(self._pairs)
        return pdf


def multi_agg_ungrouped(sdf: SparkDataFrame, funcs: Sequence[str]):
    """Ungrouped ``agg([f1, f2])`` → pandas funcs×cols frame (reference
    ``MultiAggregator``, core.py:1191-1227 — UNION ALL there, one agg()
    call here)."""
    for f in funcs:
        if f not in AGG_FUNCS:
            raise ValueError(f"unsupported aggregate: {f}")
    exprs = []
    pairs = []
    for f in funcs:
        for c in agg_columns(sdf, f, sdf.columns):
            exprs.append(AGG_FUNCS[f](c).alias(f"{c}__{f}"))
            pairs.append((f, c))
    return MultiAggregate(sdf.agg(*exprs), list(funcs), pairs)


class MultiAggregate(BaseFrame):
    def __init__(self, sdf: SparkDataFrame, funcs: list[str], pairs: list[tuple[str, str]]):
        self._sdf = sdf
        self._funcs = funcs
        self._pairs = pairs

    def to_spark(self) -> SparkDataFrame:
        return self._sdf

    def compute(self) -> pd.DataFrame:
        row = fetch_pandas(self._sdf).iloc[0]
        data: dict[str, dict[str, Any]] = {}
        for f, c in self._pairs:
            data.setdefault(c, {})[f] = row[f"{c}__{f}"]
        return pd.DataFrame(data).reindex(self._funcs)


class CoGroup:
    """Pair of grouped frames awaiting a two-sided pandas transform."""

    def __init__(self, a: GroupByDataFrame, b: GroupByDataFrame):
        self._a = a
        self._b = b

    def apply(self, func, schema):
        """``func(left_pdf, right_pdf) -> pdf`` per key pair (either side
        may be empty for keys present only in the other)."""
        from .core import DataFrame

        ga = self._a._sdf.groupBy(*self._a._keys)
        gb = self._b._sdf.groupBy(*self._b._keys)
        return DataFrame(sdf=ga.cogroup(gb).applyInPandas(func, schema))

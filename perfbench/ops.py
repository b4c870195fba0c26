"""The operations of each workload and the reference each is checked against.

An operation is run as ``op.run(ctx, phase, fetch)``: it calls into the
program's public functions inside ``with phase("<layer>.<step>"):`` blocks,
which the driver times, and returns its result -- for a registry query only
when ``fetch`` asks for it, as the timed passes write to a noop sink instead.
``op.check(ctx, result)`` then compares that result with the reference
outside every timed window:

- ``frames`` operations against pandas running the same query on the same
  generated CSVs (the paper's own baseline system);
- registry operations against their DuckDB oracle SQL on the same tables.

Both sides are canonicalized as in tests/test_entry_contract.py and compared
by row count, column names and an order-insensitive value hash.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import data

# Registry queries of the curation workload: three curation queries (eager
# build-side barriers; a numpy kernel behind the Arrow boundary; a row-wise
# parser), then two streaming ones (cross-batch dedup state; an exactly-once
# file sink that is started twice).
CURATION = (
    "q16_doc_profile", "q67_repetition_signals", "q92_html_extract",
    "q58_stream_dedup", "q59_stream_sink_roundtrip",
)
LIMIT = 100
JOIN_LIMIT = 1000
MIN_AGE = 90


@dataclass(frozen=True)
class Op:
    name: str
    run: Callable[[Any, Callable, bool], Any]  # (ctx, phase, fetch) -> result
    check: Callable[[Any, Any], str | None]  # None when the result is right
    source_mb: Callable[[Any], float]  # MB of source files this op loads


# -- canonical form and value hash -------------------------------------------

def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Same normalisation as tests/test_entry_contract.py: int64 / float64 /
    naive ns datetimes, numeric-looking objects to numbers, other objects
    to str, columns sorted by name. Rows are left in place; the value hash
    below is order-insensitive."""
    out = pdf.copy()
    for c in out.columns:
        dt = out[c].dtype
        if pd.api.types.is_integer_dtype(dt):
            out[c] = out[c].astype("int64")
        elif pd.api.types.is_float_dtype(dt):
            out[c] = out[c].astype("float64") + 0.0  # -0.0 == 0.0
        elif pd.api.types.is_datetime64_any_dtype(dt):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None).astype("datetime64[ns]")
        elif dt == object:
            try:
                out[c] = pd.to_numeric(out[c])
                return canonicalize(out)
            except (ValueError, TypeError):
                out[c] = out[c].astype(str)
    return out.sort_index(axis=1).reset_index(drop=True)


def row_hashes(pdf: pd.DataFrame) -> np.ndarray:
    return pd.util.hash_pandas_object(canonicalize(pdf), index=False).to_numpy()


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Row count, column names, then the order-insensitive value hash."""
    if len(got) != len(want):
        return f"rows {len(got)} != reference {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != reference {sorted(want.columns)}"
    a, b = row_hashes(got), row_hashes(want)
    if int(a.sum(dtype=np.uint64)) != int(b.sum(dtype=np.uint64)):
        return "value hash differs from reference"
    return None


def compare_subset(got: pd.DataFrame, full: pd.DataFrame, n: int) -> str | None:
    """For an unordered head(n): n rows (or all there are), each a row of
    the full reference result."""
    if len(got) != min(n, len(full)):
        return f"rows {len(got)} != min({n}, {len(full)})"
    if sorted(got.columns) != sorted(full.columns):
        return f"columns {sorted(got.columns)} != reference {sorted(full.columns)}"
    extra = Counter(row_hashes(got).tolist()) - Counter(row_hashes(full).tolist())
    return f"{sum(extra.values())} rows not in the reference result" if extra else None


def result_mb(pdf: pd.DataFrame) -> float:
    return float(pdf.memory_usage(index=False, deep=True).sum()) / 1e6


# -- frames: the paper's benchmark through the public veneer -----------------

KEYS = data.KEYS


def _pd_merge(left: pd.DataFrame, right: pd.DataFrame, on) -> pd.DataFrame:
    """pandas merge with the veneer's column rule: on a name clash the left
    column wins and the right one is dropped."""
    keys = [on] if isinstance(on, str) else list(on)
    extra = [c for c in right.columns if c not in keys and c not in left.columns]
    return left.merge(right[keys + extra], on=keys)


def _frames_reference(ctx) -> dict[str, pd.DataFrame]:
    """Every frames query run by pandas on the CSVs, once per run."""
    a, b, t = (pd.read_csv(ctx.csv[n]) for n in ("authors", "books", "top_authors"))
    sel = b[(b.publication_year + 1 == 2020) | (b.title == ctx.title)]
    j1 = _pd_merge(a, b, "first_name")
    j2 = _pd_merge(a, b, KEYS)
    j2["age"] = j2.publication_year - j2.birth_year
    tt = t.rename(columns={"first_name": "top_first", "last_name": "top_last"}).assign(dummy=1)
    cross = _pd_merge(tt, b.assign(dummy=1), "dummy")
    return {
        "tables": {"authors": a, "books": b, "top_authors": t},
        "selection": sel,
        "order": b.sort_values(["publication_year", "ISBN13"], ascending=[False, True])[
            ["title", "publication_year", "ISBN13"]].head(LIMIT),
        "join": j1,
        "join_order": j1.sort_values(["publication_year", "ISBN13", "last_name"],
                                     ascending=[False, True, True]).head(LIMIT),
        "join_select": j2[j2.age > MIN_AGE],
        "triple_join": _pd_merge(_pd_merge(t, a, KEYS), b, KEYS),
        "big_join_select": cross[cross.last_name == cross.top_last][
            ["top_first", "top_last", "title", "first_name", "last_name", "publication_year"]],
        "groupby": b.groupby(KEYS, as_index=False).agg(n_books=("title", "count")),
        "transfer": b,
    }


def _ingest(ctx, phase, fetch):
    """CSV -> parquet -> the frames every later operation of the pass uses."""
    ps = ctx.ps
    with phase("sources.read_csv"):
        raw = {n: ps.read_csv(p, spark=ctx.spark) for n, p in ctx.csv.items()}
    with phase("sources.to_parquet"):
        for n, df in raw.items():
            df.to_parquet(os.path.join(ctx.parquet_dir, n))
    with phase("sources.read_parquet"):
        ctx.frames = {n: ps.read_parquet(os.path.join(ctx.parquet_dir, n), spark=ctx.spark)
                      for n in raw}
    return ctx.frames


def _check_ingest(ctx, frames) -> str | None:
    for n, df in frames.items():
        want = len(ctx.reference["tables"][n])
        if len(df) != want:
            return f"{n}: {len(df)} rows read back, {want} written"
    return None


def _selection(ctx):
    b = ctx.frames["books"]
    return b[(b.publication_year + 1 == 2020) | (b.title == ctx.title)]


def _join(ctx):
    return ctx.frames["authors"].merge(ctx.frames["books"], on="first_name")


def _join_select(ctx):
    j = ctx.frames["authors"].merge(ctx.frames["books"], on=KEYS)
    j["age"] = j.publication_year - j.birth_year
    return j[j.age > MIN_AGE]


def _big_join_select(ctx):
    """Cartesian product through a constant dummy key, then a filter."""
    tt = ctx.frames["top_authors"].rename(
        {"first_name": "top_first", "last_name": "top_last"}).assign(dummy=1)
    j = tt.merge(ctx.frames["books"].assign(dummy=1), on="dummy")
    return j[j.last_name == j.top_last][
        ["top_first", "top_last", "title", "first_name", "last_name", "publication_year"]]


_FRAMES_QUERIES: dict[str, Callable] = {
    "selection": _selection,
    "selection_limit": lambda ctx: _selection(ctx).head(LIMIT),
    "order": lambda ctx: ctx.frames["books"].sort_values(
        ["publication_year", "ISBN13"], ascending=[False, True])[
        ["title", "publication_year", "ISBN13"]].head(LIMIT),
    "join": lambda ctx: _join(ctx).head(JOIN_LIMIT),
    "join_order": lambda ctx: _join(ctx).sort_values(
        ["publication_year", "ISBN13", "last_name"], ascending=[False, True, True]).head(LIMIT),
    "join_select": _join_select,
    "triple_join": lambda ctx: ctx.frames["top_authors"].merge(
        ctx.frames["authors"], on=KEYS).merge(ctx.frames["books"], on=KEYS),
    "big_join_select": _big_join_select,
    "transfer": lambda ctx: ctx.frames["books"],
}
_SUBSET_CHECKED = {"selection_limit": ("selection", LIMIT), "join": ("join", JOIN_LIMIT)}


def _frames_op(name: str) -> Op:
    build = _FRAMES_QUERIES[name]

    def run(ctx, phase, fetch):
        with phase("core.build"):
            lazy = build(ctx)
        with phase("core.compute"):
            return lazy.compute()

    def check(ctx, got):
        if name in _SUBSET_CHECKED:
            ref, n = _SUBSET_CHECKED[name]
            return compare_subset(got, ctx.reference[ref], n)
        return compare(got, ctx.reference[name])

    return Op(name, run, check, lambda ctx: 0.0)


def _groupby_run(ctx, phase, fetch):
    with phase("core.build"):
        agg = ctx.frames["books"].groupby(KEYS, as_index=False).agg(n_books=("title", "count"))
    with phase("groupby.compute"):
        return agg.compute()


def frames_ops() -> tuple[Op, list[Op]]:
    """(the ingest op that opens every pass, the ops that follow it)."""
    ingest = Op("ingest", _ingest, _check_ingest,
                lambda ctx: sum(os.path.getsize(p) for p in ctx.csv.values()) / 1e6)
    rest = [_frames_op(n) for n in _FRAMES_QUERIES]
    rest.append(Op("groupby", _groupby_run,
                   lambda ctx, got: compare(got, ctx.reference["groupby"]),
                   lambda ctx: 0.0))
    return ingest, rest


def prepare_frames(ctx, work: str, seed: int) -> None:
    ctx.csv = data.write_frames_csvs(seed, os.path.join(work, "csv"))
    ctx.parquet_dir = os.path.join(work, "parquet")
    ctx.title = str(pd.read_csv(ctx.csv["books"], usecols=["title"]).title.iloc[0])
    ctx.reference = _frames_reference(ctx)


# -- curation: registry queries ----------------------------------------------

def _registry_op(name: str, oracle: str) -> Op:
    table = "events" if re.search(r"\bevents\b", oracle) else "documents"

    def run(ctx, phase, fetch):
        with phase("queries.build"):
            df = ctx.registry[name].fn(ctx.spark, ctx.corpus_dir)
        with phase("queries.exec"):
            if fetch:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def check(ctx, got):
        return compare(got, ctx.duck.execute(ctx.registry[name].oracle).fetchdf())

    return Op(name, run, check, lambda ctx: os.path.getsize(ctx.corpus[table]) / 1e6)


def registry_ops(registry, names: tuple[str, ...]) -> list[Op]:
    return [_registry_op(n, registry[n].oracle) for n in names]


def prepare_corpus(ctx, work: str) -> None:
    import duckdb

    ctx.corpus_dir = os.path.join(work, "corpus")
    ctx.corpus = data.write_corpus(ctx.corpus_dir)
    ctx.duck = duckdb.connect()
    for name, path in ctx.corpus.items():
        ctx.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

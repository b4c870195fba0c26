"""Input generators for the two workloads.

- ``frames``: the paper's authors / books / top_authors CSVs (FIXTURES.md
  section 3 schemas), drawn with numpy from the run's seed.
- ``curation``: a ``documents`` and an ``events`` parquet table shaped like
  the repository's sf0.01 test tables (same columns, types, vocabulary,
  language mix, planted near-duplicates, hourly event spread). They are
  drawn from a fixed seed, so every run reads the same corpus; the run's
  seed orders the operations instead.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_AUTHORS = 1_000
BOOKS_PER_AUTHOR = 10
N_BOOKS = N_AUTHORS * BOOKS_PER_AUTHOR
N_TOP_AUTHORS = 10
KEYS = ["first_name", "last_name"]

N_DOCUMENTS = 500
N_EVENTS = 10_000
CORPUS_SEED = 20_240_101

_SYLLABLES = np.array(
    ["al", "an", "ar", "be", "bo", "ca", "da", "de", "el", "en", "fa", "ga",
     "ha", "is", "ja", "ka", "la", "le", "li", "ma", "mi", "na", "ne", "no",
     "or", "pa", "ra", "ri", "sa", "se", "ta", "to", "va", "vi", "ya", "zo"]
)
_WORDS = np.array(
    ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
     "small", "slow", "merge", "order", "vector", "line", "table", "data",
     "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
     "big", "sort", "query", "fast", "the"]
)
_COUNTRIES = np.array([f"country_{i:02d}" for i in range(30)])
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def _names(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct capitalised three-syllable names."""
    picks = rng.choice(len(_SYLLABLES) ** 3, size=n, replace=False)
    a, rest = np.divmod(picks, len(_SYLLABLES) ** 2)
    b, c = np.divmod(rest, len(_SYLLABLES))
    return np.char.capitalize(
        np.char.add(np.char.add(_SYLLABLES[a], _SYLLABLES[b]), _SYLLABLES[c])
    )


def _phrases(rng: np.random.Generator, n: int, lo: int, hi: int, sep: str = " ") -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    words = _WORDS[rng.integers(0, len(_WORDS), size=int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(sep.join(words[pos:pos + k]))
        pos += k
    return out


def frames_tables(seed: int) -> dict[str, pd.DataFrame]:
    """authors, books and top_authors; books -> authors is many-to-one on
    (first_name, last_name), top_authors a sample of authors.

    The seed draws the names, values and row order, never a table or join
    size: every first name belongs to two or three authors, every author
    wrote BOOKS_PER_AUTHOR books and top_authors has N_TOP_AUTHORS rows, so
    each seed gives every operation the same amount of work."""
    rng = np.random.default_rng(seed)
    firsts, lasts = _names(rng, 400), _names(rng, 600)
    # k -> (k mod 400, k mod 600) is one-to-one below lcm(400, 600) = 1200
    k = rng.permutation(N_AUTHORS)
    fi, li = k % len(firsts), k % len(lasts)
    authors = pd.DataFrame({
        "first_name": firsts[fi],
        "last_name": lasts[li],
        "birth_day": rng.integers(1, 29, size=N_AUTHORS),
        "birth_month": rng.integers(1, 13, size=N_AUTHORS),
        "birth_year": rng.integers(1900, 2001, size=N_AUTHORS),
        "bio": _phrases(rng, N_AUTHORS, 6, 14),
        "country": _COUNTRIES[rng.integers(0, len(_COUNTRIES), size=N_AUTHORS)],
    })
    by = rng.permutation(np.arange(N_BOOKS) % N_AUTHORS)
    serial = rng.permutation(N_BOOKS)
    books = pd.DataFrame({
        "title": _phrases(rng, N_BOOKS, 2, 5),
        "publication_year": rng.integers(1950, 2024, size=N_BOOKS),
        "ISBN10": [f"0-{s:05d}-{s % 97:02d}-x" for s in serial],
        "ISBN13": [f"978-0-{s:06d}-{s % 9}" for s in serial],
        "keywords": _phrases(rng, N_BOOKS, 2, 4, sep=";"),
        "description": _phrases(rng, N_BOOKS, 8, 16),
        "first_name": authors["first_name"].to_numpy()[by],
        "last_name": authors["last_name"].to_numpy()[by],
    })
    top = authors.loc[rng.choice(N_AUTHORS, size=N_TOP_AUTHORS, replace=False), KEYS]
    return {"authors": authors, "books": books, "top_authors": top.reset_index(drop=True)}


def write_frames_csvs(seed: int, out_dir: str) -> dict[str, str]:
    """Write the frames tables as headed CSVs; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, pdf in frames_tables(seed).items():
        paths[name] = os.path.join(out_dir, f"{name}.csv")
        pdf.to_csv(paths[name], index=False)
    return paths


def documents_table(rng: np.random.Generator) -> pd.DataFrame:
    """Word-salad documents over a 30-word vocabulary; one in twenty is a
    near-duplicate (another document plus one or two " dup" tokens)."""
    text = _phrases(rng, N_DOCUMENTS, 10, 99)
    for i in np.flatnonzero(rng.random(N_DOCUMENTS) < 0.05):
        src = int(rng.integers(0, N_DOCUMENTS))
        if src != i:
            text[i] = text[src] + " dup" * int(rng.integers(1, 3))
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": text,
        "lang": _LANGS[rng.choice(len(_LANGS), size=N_DOCUMENTS, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def events_table(rng: np.random.Generator) -> pd.DataFrame:
    """Time-ordered events over thirty days of January 2024."""
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=N_EVENTS)) + np.datetime64("2024-01-01", "us")
    value = np.maximum(np.round(rng.exponential(50.0, size=N_EVENTS), 2), 0.01)
    return pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, size=N_EVENTS),
        "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), size=N_EVENTS)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
    })


def write_corpus(out_dir: str) -> dict[str, str]:
    """Write documents.parquet and events.parquet; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    paths = {}
    for name, pdf in (("documents", documents_table(rng)), ("events", events_table(rng))):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), paths[name])
    return paths

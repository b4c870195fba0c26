"""Stratified sampling for dataset curation.

Balancing classes (languages, sources, quality buckets) is a standard
step before training-data mixing. Two variants with different
scale/exactness trades:

- `stratified_sample_fraction`: Spark-native `sampleBy` — one scan, no
  shuffle, per-row Bernoulli draws. Approximate counts (binomial
  spread), seeded/deterministic per Spark version. The 100 TB default.
- `stratified_sample_exact`: EXACTLY n rows per stratum, chosen by
  md5-rank of the id — a deterministic, engine-portable "random" order
  (the q61 gate oracle reproduces it verbatim in DuckDB). One shuffle on
  the stratum key; per-stratum window sort. Use when class budgets are
  contracts, not targets — and note the window sorts each stratum, so
  strata must individually fit the usual window-partition envelope
  (they do: a stratum is a class, not a row group).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _apportion(raw: dict, total_n: int) -> dict:
    """Largest-remainder apportionment of ``total_n`` across the
    fractional targets ``raw``: floor every target, hand the leftover
    to the largest fractional remainders (ties by stratum name).
    Returns integer targets summing to EXACTLY ``total_n``.

    The negative-leftover branch (ADVICE r16): at huge total_n × many
    strata, accumulated float error in Σ(w/s)·total_n can push Σfloor
    past total_n. The excess is taken back from the strata with the
    SMALLEST fractional remainders (the mirror of largest-remainder,
    ties by name), never below zero — a plain clamp-to-zero would
    quietly overshoot total_n by the excess instead. Unreachable at
    gate scale, reachable at the module's own 100 TB framing."""
    import math

    targets = {k: math.floor(v) for k, v in raw.items()}
    leftover = total_n - sum(targets.values())
    if leftover >= 0:
        # while: float error can make the undershoot exceed the
        # stratum count (the mirror of the negative branch below —
        # r17 review: a single [:leftover] slice over len(raw) strata
        # would silently sum short of total_n); each sweep hands out
        # min(leftover, len(raw)) rows, so it terminates
        while leftover > 0:
            for k in sorted(raw, key=lambda k: (-(raw[k] - targets[k]), k))[
                :leftover
            ]:
                targets[k] += 1
                leftover -= 1
    else:
        # while: in the (astronomically unlikely) case the excess
        # exceeds the positive-target stratum count, sweep again;
        # terminates because Σtargets > total_n ≥ 0 guarantees a
        # positive target exists while leftover < 0
        while leftover < 0:
            for k in sorted(raw, key=lambda k: (raw[k] - targets[k], k)):
                if leftover == 0:
                    break
                if targets[k] > 0:
                    targets[k] -= 1
                    leftover += 1
    return targets


def stratified_sample_fraction(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (`sampleBy`): strata absent from
    ``fractions`` are dropped (fraction 0.0), matching pandas'
    groupby-sample-with-dict semantics."""
    return df.sampleBy(stratum_col, fractions, seed=seed)


def stratified_sample_exact(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str,
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, deterministically:
    rank rows inside each stratum by ``md5(cast(id as string))`` — an
    order uncorrelated with any data attribute but identical on every
    engine — and keep the first n. Returns the original columns."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__srank", F.row_number().over(w))
        .filter(F.col("__srank") <= n_per_stratum)
        .drop("__srank")
    )


def resample_to_mixture(
    df: DataFrame,
    stratum_col: str,
    weights: dict[str, float],
    total_n: int,
    id_col: str,
) -> DataFrame:
    """Downsample to a target domain mixture: of ``total_n`` output rows,
    stratum s gets ``weights[s] / sum(weights)`` of the budget — the
    standard "apply a data-mixing recipe" step (e.g. a DoReMi-style
    weight vector) before training.

    Apportionment is the largest-remainder method (floor every target,
    hand the leftover rows to the largest fractional remainders, ties
    broken by stratum name) — deterministic, and exactly reproducible in
    SQL, which is how the q70 oracle checks it. Row selection within a
    stratum is the same engine-portable md5-rank order as
    `stratified_sample_exact`.

    Semantics: strata absent from ``weights`` are dropped; a stratum
    smaller than its target yields all its rows (the shortfall is NOT
    redistributed — silently reshaping the mixture would defeat the
    recipe; check the output if budgets are contracts). Pass integer
    weights when cross-engine reproducibility of the apportionment
    matters: integer sums are exact in doubles, so the floor/remainder
    arithmetic is bit-identical everywhere.
    """
    if total_n < 0:
        raise ValueError(f"total_n must be >= 0, got {total_n}")
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    s = sum(weights[k] for k in sorted(weights))
    if s == 0:
        raise ValueError("weights must not all be zero")
    raw = {k: (w / s) * total_n for k, w in weights.items()}
    targets = _apportion(raw, total_n)

    spark = df.sparkSession
    # stratum type follows the input column — an int-typed domain key
    # must not join against a string target (implicit casts defeat
    # broadcast-key pruning and vary with ANSI mode). Backtick-quote
    # the field name (the freq.py convention): a legal column name
    # with spaces/dashes is DDL-invalid unquoted.
    stratum_type = df.schema[stratum_col].dataType.simpleString()
    tgt = spark.createDataFrame(
        [(k, n) for k, n in targets.items()],
        f"`{stratum_col}` {stratum_type}, __tgt long",
    )
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    # prune unlisted AND zero-target strata BEFORE the window: with a
    # recipe covering few of many domains — or zeroing one out, the
    # stated use — ranking rows the join would discard anyway is pure
    # wasted shuffle (and the filter pushes to the scan)
    keep = [k for k, n in targets.items() if n > 0]
    return (
        df.filter(F.col(stratum_col).isin(keep))
        .withColumn("__srank", F.row_number().over(w))
        .join(F.broadcast(tgt), on=stratum_col)
        .filter(F.col("__srank") <= F.col("__tgt"))
        .drop("__srank", "__tgt")
    )


def sample_exact_global(df: DataFrame, n: int, id_col: str) -> DataFrame:
    """Exactly ``min(n, |df|)`` rows, deterministically and
    engine-portably: global md5-rank of the id (the same "portable
    random order" trick as `stratified_sample_exact`), selected with
    the distributed ranking recipe — no stratum key here, so a naive
    `Window.orderBy` would be a single-reducer sort; instead this rides
    `ranking.with_global_row_number` (range partition + offsets).
    Returns the original columns."""
    from .cache import attach_cleanup
    from .ranking import with_global_row_number

    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    ranked = with_global_row_number(
        df.withColumn("__skey", F.md5(F.col(id_col).cast("string"))),
        ["__skey", id_col],
        rn_col="__srank",
    )
    out = ranked.filter(F.col("__srank") <= n).drop("__srank", "__skey")
    # pass through the ranking recipe's persisted-frame release hook
    return attach_cleanup(out, ranked)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str,
    split_col: str = "split",
    salt: str = "",
) -> DataFrame:
    """Deterministic, leakage-safe train/val/test assignment.

    Every row gets a split label from ``weights`` (e.g. ``{"train":
    0.9, "val": 0.05, "test": 0.05}``) by hashing ``key_col`` — NOT by
    a per-row random draw. Hash-by-key is the leakage control: pass the
    dedup-cluster id, the URL domain, or any "these rows must never
    straddle the boundary" key, and every row sharing the key lands in
    the same split, on every engine, on every re-run, under any
    partitioning. ``salt`` re-rolls the assignment without touching the
    data (different salt → independent split).

    Mechanics: md5(salt ‖ key) → first 13 hex chars as an exact 52-bit
    integer (engine-portable, same trick as the KMV sketch / q78
    sampler) → compare against cumulative cut points in hash-space.
    The LAST split in dict order is the ``otherwise`` bucket, so float
    edge-dust in the cumulative sum can never leave a row unassigned;
    weights must be positive and sum to ~1 (±1e-9). NULL keys are a
    contract violation and fail the job (a NULL has no identity to
    split by).

    One scan, zero shuffles, pure codegen — at 100 TB the split column
    costs what a projection costs. Write the result partitioned by
    ``split_col`` and each split is its own partition-pruned path.
    """
    if len(weights) < 2:
        raise ValueError("need at least two splits")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive: {weights}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    key = F.col(key_col)
    from pandasql_spark.operators.sketch import _hex13_to_double

    frac = _hex13_to_double(
        F.md5(F.concat(F.lit(salt), key.cast("string")))
    )
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum = cum + weights[name]
        cut = F.lit(cum * 4503599627370496.0)  # cum * 16^13
        branch = (expr.when if expr is not None else F.when)(
            frac < cut, F.lit(name)
        )
        expr = branch
    assigned = expr.otherwise(F.lit(names[-1]))
    guarded = F.when(
        key.isNull(),
        F.raise_error(F.lit(f"hash_split: NULL {key_col} has no identity")),
    ).otherwise(assigned)
    return df.withColumn(split_col, guarded)

"""Scale-safe global ranking: distributed row_number and exact NTILE.

The naive Spark spelling — ``Window.orderBy(...)`` with no
``partitionBy`` — funnels the ENTIRE table through one task for the
sort: fine at sf0.1, a guaranteed single-reducer bottleneck at 100 TB.
(The reference has no window functions at all — SURVEY.md §2.8 — so
this is beyond-reference surface; the *shape* follows the classic
distributed ranking recipe: range-partition, rank locally, add
partition offsets.)

Plan here (``with_global_row_number``):

1. ``repartitionByRange`` on the sort keys — Spark's sampled range
   partitioner, the same machinery behind distributed ``ORDER BY``.
   Every partition holds a disjoint key range, P-way parallel.
2. Persist the partitioned data. The range partitioner samples, so two
   independent computations could draw different boundaries; pinning the
   partitioning makes the per-partition counts and the ranking read the
   SAME layout.
3. Per-partition counts: a tiny aggregate (≤ P rows) collected to the
   driver — scalars-only, same class of driver action as
   cluster.py's convergence count.
4. ``row_number`` over a window partitioned by ``spark_partition_id()``
   — a PARTITIONED window (each task sorts only its own range; no
   global funnel) — plus the driver-computed prefix-sum offset mapped in
   as a literal.

``exact_ntile`` then assigns SQL-NTILE bucket numbers arithmetically
from the global row number and total count: NTILE(n) over T rows gives
the first ``T mod n`` buckets ``ceil(T/n)`` rows and the rest
``floor(T/n)`` — a closed-form function of (row_number, T, n), so no
second sort is needed and results are bit-identical to the window
function whenever the sort keys are unique.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cache import attach_cleanup

_PID = "__psql_pid"
_RN = "__psql_rn"
_TB = "__psql_tb"


def _partitioned_with_offsets(
    df: DataFrame,
    order_by: list[str | Column],
    agg: Column,
    num_partitions: int | None,
):
    """Shared scaffold of the distributed ranking recipe: range-shuffle
    on the sort keys, persist to freeze the sampled boundaries, collect
    one ``agg`` scalar per partition, and build the pid→prefix-offset
    literal map. Returns (part, offset_expr, grand_total). Offsets keep
    the aggregate's own numeric type (a count recipe gets exact ints; a
    float-sum recipe gets float offsets — truncating those to int would
    silently corrupt every downstream partition's values)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    part = df.repartitionByRange(num_partitions, *cols).withColumn(
        _PID, F.spark_partition_id()
    )
    # lazy persist; callers get a cleanup() hook, else LRU-evicted like
    # dedup.py's signature cache
    part = part.persist()
    per_pid = {
        r[_PID]: r["agg"]
        for r in part.groupBy(_PID).agg(agg.alias("agg")).collect()
    }
    offsets: dict[int, float | int] = {}
    acc: float | int = 0
    for pid in sorted(per_pid):
        offsets[pid] = acc
        acc += per_pid[pid] or 0
    if offsets:
        # literal pid→offset map: ≤ num_partitions entries, pennies even
        # at thousands of partitions; avoids joining a derived frame
        offset_expr = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(int(p)) for p in offsets]),
                F.array(*[F.lit(o) for o in offsets.values()]),
            ),
            F.col(_PID),
        )
    else:
        offset_expr = F.lit(0)
    return part, offset_expr, acc


def _ranked_with_total(
    df: DataFrame,
    order_by: list[str | Column],
    rn_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    part, offset_expr, total = _partitioned_with_offsets(
        df, order_by, F.count(F.lit(1)), num_partitions
    )
    w = Window.partitionBy(_PID).orderBy(*cols)
    ranked = part.withColumn(rn_col, F.row_number().over(w) + offset_expr).drop(_PID)
    return attach_cleanup(ranked, part), total


def with_global_running_sum(
    df: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` plus an INCLUSIVE global running sum of ``value_col``
    ordered by ``order_by`` — same range-partition + per-partition
    window + driver prefix-offset recipe as `with_global_row_number`
    (no single-reducer global window). Deterministic when the sort keys
    are unique; the driver-side state is one scalar per partition.
    Integer value columns get exact sums; float columns inherit the
    usual float-summation order-sensitivity."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    part, offset_expr, _ = _partitioned_with_offsets(
        df, order_by, F.sum(value_col), num_partitions
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part.withColumn(
        out_col, F.sum(value_col).over(w) + offset_expr
    ).drop(_PID)
    return attach_cleanup(out, part)


def with_global_row_number(
    df: DataFrame,
    order_by: list[str | Column],
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` plus a 1-based global ``rn_col`` ordered by ``order_by``.

    Ranking is deterministic only if the sort keys are unique — pass a
    tiebreaker column (e.g. a primary key) as the last key, exactly as
    required for a deterministic SQL ``row_number``.
    """
    ranked, _ = _ranked_with_total(df, order_by, rn_col, num_partitions)
    return ranked


def ntile_bucket(rn: Column, total: int, n: int) -> Column:
    """SQL ``NTILE(n)`` bucket for 1-based global row number ``rn`` over
    ``total`` rows, in closed form: the first ``total % n`` buckets get
    ``total // n + 1`` rows, the rest ``total // n``."""
    q, rem = divmod(total, n)
    if q == 0:
        # fewer rows than buckets: bucket i gets exactly row i
        return rn.cast("long")
    big = q + 1  # rows per bucket in the first `rem` buckets
    boundary = big * rem  # rows covered by the big buckets
    return (
        F.when(rn <= F.lit(boundary), F.floor((rn - 1) / F.lit(big)) + 1)
        .otherwise(F.lit(rem) + F.floor((rn - 1 - F.lit(boundary)) / F.lit(q)) + 1)
        .cast("long")
    )


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    quantiles: list[float],
    tiebreak: str | Column | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT percentiles by the inverse-CDF definition (value at global
    1-based position ``ceil(q·n)``), computed with the distributed
    ranking recipe — range partition + per-partition sort + offset —
    never a single-reducer sort and never `percentile()`'s
    collect-all-values aggregation buffer.

    Spark's built-in exact `percentile` buffers every value of a group
    in one aggregation state (OOM at scale); `percentile_approx` is
    bounded but approximate. This is the third point in that trade
    space: exact AND distributed, at the cost of one range shuffle.
    Returns (q double, value) rows, one per requested quantile.
    ``tiebreak`` (default: the value column alone) makes the position
    deterministic when values repeat — pass a unique key for full
    determinism, exactly as a deterministic SQL row_number requires."""
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    for q in quantiles:
        if not 0 < q <= 1:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    # Project to (value, tiebreak) BEFORE the range shuffle: the
    # recipe's persist is a column-pruning barrier (the cache build
    # materializes every column the frame carries), so without this an
    # N-column input scans, shuffles and caches N columns to produce a
    # 2-column answer — the r17 ReadSchema audit caught q65/q78 reading
    # all six orders columns for (o_totalprice, o_orderkey). A Column
    # tiebreak is aliased in (it must be deterministic anyway for the
    # ranking to be well-defined, so evaluating it pre-shuffle is
    # value-identical).
    order: list[str | Column] = [value_col]
    if tiebreak is None:
        slim = df.select(value_col)
    else:
        tb = F.col(tiebreak) if isinstance(tiebreak, str) else tiebreak
        slim = df.select(F.col(value_col), tb.alias(_TB))
        order.append(F.col(_TB))
    ranked, total = _ranked_with_total(slim, order, _RN, num_partitions)
    if total == 0:
        ranked.cleanup()  # the empty frame was still persisted+counted
        # keep the cleanup contract on the empty path too — consumers
        # (corpus_report) compose pctl.cleanup unconditionally
        return attach_cleanup(
            df.sparkSession.createDataFrame(
                [],
                schema=f"q double, value {df.schema[value_col].dataType.simpleString()}",
            )
        )
    import math

    # rank → [qs]; dedup so repeated quantiles emit one row (matching
    # grouped_exact_percentiles), and several distinct quantiles can
    # still share a position at tiny n. The 9-digit round before ceil
    # kills the binary-product artifact (0.07·100 → 7.000000000000001
    # → a bare ceil reads 8) and matches DuckDB, whose DECIMAL literal
    # arithmetic computes q·n exactly — a bare double ceil here and an
    # exact ceil there would pick DIFFERENT ranks at exact-integer
    # boundaries (the hh_min_count class, ADVICE r14; probed: no gate
    # (q, n) combination sits on such a boundary, so this is
    # value-neutral on gated data).
    by_rank: dict[int, list[float]] = {}
    for q in sorted(set(float(q) for q in quantiles)):
        by_rank.setdefault(math.ceil(round(q * total, 9)), []).append(q)
    qs_for_rank = F.create_map(
        *[
            x
            for r, ps in by_rank.items()
            for x in (
                F.lit(int(r)).cast("long"),
                F.array(*[F.lit(p) for p in sorted(ps)]),
            )
        ]
    )
    out = ranked.filter(F.col(_RN).isin(list(by_rank))).select(
        F.explode(F.element_at(qs_for_rank, F.col(_RN).cast("long"))).alias("q"),
        F.col(value_col).alias("value"),
    )
    return attach_cleanup(out, ranked)


def grouped_exact_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float],
    tiebreak: str | Column | None = None,
) -> DataFrame:
    """Exact inverse-CDF percentiles PER GROUP: (group_cols..., q,
    value). Unlike the global case, a window partitioned by the group
    keys is already scale-safe (each task sorts one group's rows), so
    this is a plain partitioned window — the global
    `exact_percentiles` recipe is only needed when there is no
    partitioning key. Groups must individually fit the window-partition
    envelope (they do for categorical keys; for a near-unique key you
    don't want percentiles anyway)."""
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    for q in quantiles:
        if not 0 < q <= 1:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    # Project to (group_cols, value[, tiebreak]) BEFORE the window and
    # order the window by the ALIAS, not the original column (r18, the
    # same guide-§2.3 slimming exact_percentiles got in r17): ordering
    # by the original name kept BOTH the alias and the raw column alive
    # through the group exchange — the q91 plan shipped
    # (o_orderpriority, value, o_totalprice), a duplicated 8-byte
    # double on every row, one third of that exchange. Value-identical:
    # the alias IS the value column, so the sort keys and the emitted
    # value are unchanged.
    slim_cols = [*group_cols, F.col(value_col).alias("value")]
    order: list = [F.col("value")]
    if tiebreak is not None:
        tb = F.col(tiebreak) if isinstance(tiebreak, str) else tiebreak
        slim_cols.append(tb.alias(_TB))
        order.append(F.col(_TB))
    slim = df.select(*slim_cols)
    w = Window.partitionBy(*group_cols).orderBy(*order)
    wn = Window.partitionBy(*group_cols)
    ranked = slim.select(
        *group_cols,
        "value",
        F.row_number().over(w).alias(_RN),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    qarr = F.array(*[F.lit(float(q)) for q in sorted(set(quantiles))])
    return (
        ranked.select(
            *group_cols,
            "value",
            F.explode(
                F.filter(
                    # ceil(round(q·n, 9)) — the SAME exact-boundary
                    # convention as the global path and hh_min_count:
                    # the 9-digit round kills the binary-product
                    # artifact (0.55·3020 → 1661.0000000000002 → a
                    # bare ceil reads 1662 where the exact inverse-CDF
                    # position is 1661). Moved in LOCKSTEP with the
                    # q91/q16 oracles (r17; both compute q·n in
                    # doubles too — ceil(round(i/20.0*n, 9))): r15
                    # proved a one-sided fix breaks hash-equality (the
                    # q91 sf0.01 replica went red on exactly the
                    # n=3020, q=0.55 boundary, pinned in
                    # test_ranking.py).
                    qarr,
                    lambda q: F.ceil(F.round(q * F.col("__n"), 9)) == F.col(_RN),
                )
            ).alias("q"),
        )
        .select(*group_cols, "q", "value")
    )


def exact_ntile(
    df: DataFrame,
    n: int,
    order_by: list[str | Column],
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` plus an exact ``NTILE(n) OVER (ORDER BY order_by)`` column,
    computed without a single-reducer global window (see module doc).

    One range shuffle + one tiny count collect; the plan contains no
    SinglePartition Exchange — asserted in tests/test_plans.py.
    """
    ranked, total = _ranked_with_total(df, order_by, _RN, num_partitions)
    out = ranked.withColumn(
        bucket_col, ntile_bucket(F.col(_RN), total, n)
    ).drop(_RN)
    return attach_cleanup(out, ranked)


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = 100,
    out_col: str = "pct",
) -> DataFrame:
    """Per-group quantile (rank) normalization — calibrate a score
    column so values are comparable ACROSS groups (the classic move
    before mixing quality scores from different sources/classifiers:
    "top 10% within its source" instead of raw scores with per-source
    scales).

    Adds ``out_col`` ∈ {0, 1/k, …, (k-1)/k}: the fraction of the
    group's k-quantile cut points strictly below the row's value —
    an exact empirical-CDF bucket at 1/k resolution.

    Scale shape: the k−1 cut points per group come from
    :func:`grouped_exact_percentiles` (per-group window — each task
    sorts one group); the cut table is (groups × k−1) rows, broadcast
    back onto the data; assignment is a codegen array filter. No
    row-level shuffle of the data itself, no per-row Python, and the
    resolution/cost knob is k, not the group size. NULL values get a
    NULL pct (no rank, same as SQL percent_rank over a null)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    qs = [i / k for i in range(1, k)]
    # cut points over NON-NULL values only: NULLs sort first under
    # Spark's ascending window and would inflate n / occupy the lowest
    # ranks, silently miscalibrating every non-null row in the group
    cuts = grouped_exact_percentiles(
        df.filter(F.col(value_col).isNotNull()), group_cols, value_col, qs
    )
    cut_arrays = cuts.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("value")).alias("__cuts")
    )
    joined = df.join(F.broadcast(cut_arrays), group_cols, "left")
    pct = F.when(
        F.col(value_col).isNotNull(),
        F.size(F.filter(F.col("__cuts"), lambda c: c < F.col(value_col)))
        / F.lit(float(k)),
    )
    return joined.withColumn(out_col, pct).drop("__cuts")

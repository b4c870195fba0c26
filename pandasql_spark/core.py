"""pandas-flavored lazy DataFrame veneer over ``pyspark.sql.DataFrame``.

Reproduces the API surface of the reference engine (rohankumar42/pandaSQL,
``/root/reference/pandasql/core.py``) as a thin, typed layer over Spark.
The reference builds its own operator DAG with per-node SQL strings and a
pandas/SQLite placement cost model; here every API call simply builds a
Catalyst logical plan, which is the same lazy-DAG model with a real
optimizer behind it (SURVEY.md §3-4: nothing in the reference needs a
custom Catalyst rule).

Key semantic-parity points (each cited to the reference):

- Lazy everywhere; materialization only at ``compute()`` / ``len`` /
  ``str`` / ``to_*`` (``core.py:91-112``, ``core.py:618-661``).
- ``df[...]`` dispatch: str → 1-col projection, list → multi-col
  projection, Criterion → selection, ``[:n]`` slice → limit
  (``core.py:533-541``).
- Projections keep *source* column order, not request order
  (``core.py:780``).
- Copy-on-write column writes: after ``df['c'] = expr``, previously
  created projections still see the old values (``core.py:545-578``,
  ``tests/test_data_frame.py:316-332``). Free here — wrappers snapshot
  the immutable underlying Spark frame at creation.
- Python/pandas arithmetic semantics for ``/ // % ** ~ & | ^`` rather
  than engine-native ones (``sql_utils.py:9-48``): floor-toward-−∞
  division, sign-of-divisor modulo, int-preserving power.
- Inner equi-join; ``left_on/right_on`` keeps BOTH key columns
  (``core.py:852-945``, ``tests/test_data_frame.py:167-170``); left
  source wins name conflicts; output columns sorted lexicographically
  (``core.py:880-886``). We additionally support ``how=`` as a superset.
- Ungrouped aggregates collapse to scalar (1 col) or Series
  (``core.py:1162-1188``); grouped aggregates are plain frames with the
  group keys as index on fetch (``core.py:1164-1166``).

Scale notes (local[32] today, 1000 executors tomorrow):

- Everything stays a Catalyst plan until an explicit materialization
  point; no driver-side loops over ``collect()``.
- ``__repr__`` fetches a bounded preview (REPR_ROWS) — an accidental
  ``print(df)`` on a 100 TB frame must not OOM the driver. Full fetch is
  only ever explicit ``compute()`` / ``to_pandas()``.
- Every pandas fetch goes through ``fetch_pandas``: one ``toPandas`` job,
  bounded by Spark's own ``spark.driver.maxResultSize`` (free driver
  memory by default). A result past it raises MemoryError, as the
  reference's ``_out_of_memory`` does (core.py:181-187), and the query
  never runs a second time just to size the result.
- Joins/aggs are expressed declaratively so AQE can pick broadcast vs
  shuffle-hash vs sort-merge and split skewed partitions at runtime.
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import get_spark

#: rows fetched by __repr__/_repr_html_ previews (never full-frame).
REPR_ROWS = 20


def fetch_pandas(sdf: SparkDataFrame) -> pd.DataFrame:
    """The one pandas fetch: ``sdf.toPandas()``, run once. Spark counts
    result bytes as they reach the driver and aborts the job past
    ``spark.driver.maxResultSize`` (``get_spark`` sets it to the driver's
    free memory); that refusal is re-raised as MemoryError, the
    reference's ``_out_of_memory`` behavior (core.py:181-187). Every other
    error propagates unchanged."""
    try:
        return sdf.toPandas()
    except Py4JJavaError as e:
        if "maxResultSize" not in str(e):
            raise
        raise MemoryError(
            "compute() result is larger than spark.driver.maxResultSize. "
            "Try accessing a smaller subset of the data you need, e.g. "
            "df.head(n) or df[:n].compute(), or write it out distributed "
            "with to_parquet()."
        ) from e


_FLOAT_TYPES = (T.DoubleType, T.FloatType, T.DecimalType)
_SUPPORTED_CONSTANT_TYPES = (int, float, str, bool, list)


def _is_float_dtype(dt: T.DataType) -> bool:
    return isinstance(dt, _FLOAT_TYPES)


class Expression:
    """Base for column-valued expressions (projection / arithmetic / literal).

    Mirrors the reference's ``ArithmeticMixin`` operator overloads
    (``core.py:380-472``). Each expression knows the Spark frame it is
    defined over (``_sdf``, an immutable snapshot) and renders to a
    ``pyspark.sql.Column``.
    """

    _sdf: SparkDataFrame | None  # None for constants
    _is_float: bool  # float-typed result? (drives // and ** result types)

    def spark_col(self) -> SparkColumn:
        raise NotImplementedError

    # -- comparisons → Criterion (core.py:449-472) --
    def __eq__(self, other):  # type: ignore[override]
        return self._cmp(other, lambda a, b: a == b)

    def __ne__(self, other):  # type: ignore[override]
        return self._cmp(other, lambda a, b: a != b)

    def __lt__(self, other):
        return self._cmp(other, lambda a, b: a < b)

    def __le__(self, other):
        return self._cmp(other, lambda a, b: a <= b)

    def __gt__(self, other):
        return self._cmp(other, lambda a, b: a > b)

    def __ge__(self, other):
        return self._cmp(other, lambda a, b: a >= b)

    def isin(self, values: list) -> "Criterion":
        if not isinstance(values, list):
            raise TypeError(f"isin expects a list, got {type(values)}")
        return Criterion(self._sdf, self.spark_col().isin(values))

    # -- arithmetic → Arithmetic (core.py:380-447) --
    def __add__(self, other):
        return self._arith(other, lambda a, b: a + b)

    def __radd__(self, other):
        return self._rarith(other, lambda a, b: a + b)

    def __sub__(self, other):
        return self._arith(other, lambda a, b: a - b)

    def __rsub__(self, other):
        return self._rarith(other, lambda a, b: a - b)

    def __mul__(self, other):
        return self._arith(other, lambda a, b: a * b)

    def __rmul__(self, other):
        return self._rarith(other, lambda a, b: a * b)

    def __truediv__(self, other):
        # Python true division: always float (sql_utils.py:14-16).
        return self._arith(other, lambda a, b: a.cast("double") / b, force_float=True)

    def __rtruediv__(self, other):
        return self._rarith(other, lambda a, b: a.cast("double") / b, force_float=True)

    def __floordiv__(self, other):
        return self._arith(other, _floordiv, int_preserving=True)

    def __rfloordiv__(self, other):
        return self._rarith(other, _floordiv, int_preserving=True)

    def __mod__(self, other):
        return self._arith(other, _pymod, int_preserving=True)

    def __rmod__(self, other):
        return self._rarith(other, _pymod, int_preserving=True)

    def __pow__(self, other):
        return self._arith(other, _pypow, int_preserving=True)

    def __rpow__(self, other):
        return self._rarith(other, _pypow, int_preserving=True)

    def __and__(self, other):
        return self._arith(other, lambda a, b: a.bitwiseAND(b))

    def __rand__(self, other):
        return self._rarith(other, lambda a, b: a.bitwiseAND(b))

    def __or__(self, other):
        return self._arith(other, lambda a, b: a.bitwiseOR(b))

    def __ror__(self, other):
        return self._rarith(other, lambda a, b: a.bitwiseOR(b))

    def __xor__(self, other):
        return self._arith(other, lambda a, b: a.bitwiseXOR(b))

    def __rxor__(self, other):
        return self._rarith(other, lambda a, b: a.bitwiseXOR(b))

    def __invert__(self):
        # ~x on ints (core.py:440-441, sql_utils.py:23-24)
        return Arithmetic(self._sdf, F.bitwise_not(self.spark_col()), self._is_float)

    def __neg__(self):
        # -x rendered as * -1 in the reference (core.py:443-444)
        return Arithmetic(self._sdf, -self.spark_col(), self._is_float)

    def __abs__(self):
        return Arithmetic(self._sdf, F.abs(self.spark_col()), self._is_float)

    # -- string predicate namespace (core.py:479-494) --
    @property
    def str(self) -> "StringOperator":
        return StringOperator(self)

    # -- datetime namespace (superset; no date functions in the reference)
    @property
    def dt(self) -> "DtOperator":
        return DtOperator(self)

    # -- internals --
    def _cmp(self, other, op) -> "Criterion":
        other_expr = _as_expression(other, self._sdf)
        sdf = _common_sdf(self, other_expr)
        return Criterion(sdf, op(self.spark_col(), other_expr.spark_col()))

    def _arith(self, other, op, force_float=False, int_preserving=False):
        other_expr = _as_expression(other, self._sdf)
        return self._build_arith(self, other_expr, op, force_float, int_preserving)

    def _rarith(self, other, op, force_float=False, int_preserving=False):
        other_expr = _as_expression(other, self._sdf)
        return self._build_arith(other_expr, self, op, force_float, int_preserving)

    @staticmethod
    def _build_arith(left, right, op, force_float, int_preserving):
        sdf = _common_sdf(left, right)
        is_float = force_float or left._is_float or right._is_float
        col = op(left.spark_col(), right.spark_col())
        if int_preserving:
            # The floor/pow kernels return BIGINT/DOUBLE regardless of
            # operand dtype; pin Python semantics either way: int∘int
            # stays long, float operands yield float (7.5 // 2 == 3.0).
            col = col.cast("long") if not is_float else col.cast("double")
        return Arithmetic(sdf, col, is_float)


def _floordiv(a: SparkColumn, b: SparkColumn) -> SparkColumn:
    """Python ``//``: floor toward −∞ (reference FLOORDIV UDF,
    sql_utils.py:19-20). Mirrors CPython's float_divmod construction —
    fmod first, then (a − mod)/b with a sign correction — NOT the naive
    ``floor(a/b)``: the quotient a/b can underflow/round before floor
    (e.g. −5e-324 // 2: a/b ties-to-even to −0.0, floor gives 0, but
    Python's single-rounded path gives −1.0; hypothesis-found,
    tests/test_property_agg.py). Callers cast back to long for int/int."""
    ad, bd = a.cast("double"), b.cast("double")
    mod = ad % bd
    div = (ad - mod) / bd
    div = F.when((mod != 0) & ((mod < 0) != (bd < 0)), div - 1).otherwise(div)
    fl = F.floor(div)
    # CPython's trailing correction: div may round to x.999... just
    # under the true integral quotient
    return F.when((div - fl) > 0.5, fl + 1).otherwise(fl)


def _pymod(a: SparkColumn, b: SparkColumn) -> SparkColumn:
    """Python ``%``: result sign follows divisor (reference MOD UDF,
    sql_utils.py:9-11). Mirrors CPython's float.__mod__ exactly: fmod,
    then ONE correcting add when signs differ. The algebraic
    ``((a % b) + b) % b`` form double-rounds at the float edge — for
    a = 1e-38, b = -1.0 the inner add absorbs to -1.0 and the outer %
    collapses to -0.0, where Python (and pandas) round once to -1.0
    (hypothesis-found, tests/test_property_agg.py)."""
    r = a % b
    return F.when((r != 0) & ((r < 0) != (b < 0)), r + b).otherwise(r)


def _pypow(a: SparkColumn, b: SparkColumn) -> SparkColumn:
    """Python ``**`` (reference POW UDF, sql_utils.py:40). F.pow returns
    double; int/int callers cast back to long."""
    return F.pow(a, b)


def _as_expression(value: Any, sdf: SparkDataFrame | None) -> Expression:
    if isinstance(value, Expression):
        if isinstance(value, Projection):
            return value._as_single_expr()
        return value
    if isinstance(value, _SUPPORTED_CONSTANT_TYPES):
        # Constant: only int/float/str/list in the reference
        # (core.py:281-298, core.py:1621); bool added as a Spark superset.
        return Constant(value)
    raise TypeError(f"unsupported operand type: {type(value)}")


def _common_sdf(*exprs: Expression) -> SparkDataFrame | None:
    """Compound expressions must share one source frame (core.py:325-333 —
    the reference rejects cross-table predicates; so do we)."""
    sdfs = [e._sdf for e in exprs if e._sdf is not None]
    for other in sdfs[1:]:
        if other is not sdfs[0]:
            raise ValueError(
                "cannot combine expressions from different DataFrames; "
                "join them first (reference core.py:325-333)"
            )
    return sdfs[0] if sdfs else None


class Constant(Expression):
    """Literal wrapper → ``F.lit`` (reference ``Constant``, core.py:281-298)."""

    def __init__(self, value: Any):
        if not isinstance(value, _SUPPORTED_CONSTANT_TYPES):
            raise TypeError(f"unsupported constant type: {type(value)}")
        self.value = value
        self._sdf = None
        self._is_float = isinstance(value, float)

    def spark_col(self) -> SparkColumn:
        return F.lit(self.value)


class Arithmetic(Expression):
    """A built arithmetic expression tree, already rendered to a Spark
    Column (reference ``Arithmetic`` nodes, core.py:1405-1538).

    Standalone-computable: ``expr.compute()`` runs ``SELECT expr AS res``
    — output column literally named ``res`` (core.py:1430-1431)."""

    def __init__(self, sdf: SparkDataFrame | None, col: SparkColumn, is_float: bool):
        self._sdf = sdf
        self._col = col
        self._is_float = is_float

    def spark_col(self) -> SparkColumn:
        return self._col

    def to_spark(self) -> SparkDataFrame:
        if self._sdf is None:
            raise ValueError("constant-only expression has no source frame")
        return self._sdf.select(self._col.alias("res"))

    def compute(self) -> pd.Series:
        return fetch_pandas(self.to_spark())["res"]


class Criterion(Expression):
    """Boolean predicate (reference ``Criterion`` tree, core.py:301-376).

    ``& | ~`` combine criteria; comparisons on criteria are not supported,
    matching the reference."""

    def __init__(self, sdf: SparkDataFrame | None, col: SparkColumn):
        self._sdf = sdf
        self._col = col
        self._is_float = False

    def spark_col(self) -> SparkColumn:
        return self._col

    def __and__(self, other):
        if isinstance(other, Criterion):
            return Criterion(_common_sdf(self, other), self._col & other._col)
        return super().__and__(other)

    def __or__(self, other):
        if isinstance(other, Criterion):
            return Criterion(_common_sdf(self, other), self._col | other._col)
        return super().__or__(other)

    def __invert__(self):
        return Criterion(self._sdf, ~self._col)


class StringOperator:
    """``.str`` accessor exposing exactly the reference's three string
    predicates (core.py:479-494); regex contains is rejected there
    (core.py:485-486) but allowed here as a Spark superset via
    ``contains(pat, regex=True)``."""

    def __init__(self, expr: Expression):
        self._expr = expr

    def contains(self, pat: str, regex: bool = False) -> Criterion:
        col = self._expr.spark_col()
        if regex:
            return Criterion(self._expr._sdf, col.rlike(pat))
        return Criterion(self._expr._sdf, col.contains(pat))

    def startswith(self, pat: str) -> Criterion:
        return Criterion(self._expr._sdf, self._expr.spark_col().startswith(pat))

    def endswith(self, pat: str) -> Criterion:
        return Criterion(self._expr._sdf, self._expr.spark_col().endswith(pat))

    def upper(self) -> Arithmetic:
        return Arithmetic(self._expr._sdf, F.upper(self._expr.spark_col()), False)

    def lower(self) -> Arithmetic:
        return Arithmetic(self._expr._sdf, F.lower(self._expr.spark_col()), False)

    # pandas .str transform superset (the reference has NO scalar string
    # transforms at all, SURVEY §2.2) — all JVM-side expressions.

    def len(self) -> Arithmetic:
        return Arithmetic(self._expr._sdf, F.length(self._expr.spark_col()), False)

    def strip(self) -> Arithmetic:
        return Arithmetic(self._expr._sdf, F.trim(self._expr.spark_col()), False)

    def slice(self, start: int = 0, stop: int | None = None) -> Arithmetic:
        # pandas slice semantics: 0-based [start, stop)
        length = (stop - start) if stop is not None else (1 << 30)
        col = F.substring(self._expr.spark_col(), start + 1, length)
        return Arithmetic(self._expr._sdf, col, False)

    def replace(self, pat: str, repl: str, regex: bool = False) -> Arithmetic:
        col = self._expr.spark_col()
        out = F.regexp_replace(col, pat, repl) if regex else F.replace(
            col, F.lit(pat), F.lit(repl)
        )
        return Arithmetic(self._expr._sdf, out, False)

    def split(self, pat: str = " ") -> Arithmetic:
        return Arithmetic(
            self._expr._sdf, F.split(self._expr.spark_col(), pat), False
        )

    def cat(self, other, sep: str = "") -> Arithmetic:
        other_expr = _as_expression(other, self._expr._sdf)
        col = F.concat_ws(sep, self._expr.spark_col(), other_expr.spark_col())
        return Arithmetic(_common_sdf(self._expr, other_expr), col, False)


class DtOperator:
    """``.dt`` accessor for timestamp columns (pandas parity superset;
    no date functions exist in the reference, SURVEY §2.2). All
    JVM-side expressions — partition-pruning-friendly when used in
    filters over date-partitioned tables."""

    def __init__(self, expr: Expression):
        self._expr = expr

    def _wrap(self, fn) -> Arithmetic:
        return Arithmetic(self._expr._sdf, fn(self._expr.spark_col()), False)

    @property
    def year(self) -> Arithmetic:
        return self._wrap(F.year)

    @property
    def month(self) -> Arithmetic:
        return self._wrap(F.month)

    @property
    def day(self) -> Arithmetic:
        return self._wrap(F.dayofmonth)

    @property
    def hour(self) -> Arithmetic:
        return self._wrap(F.hour)

    @property
    def minute(self) -> Arithmetic:
        return self._wrap(F.minute)

    @property
    def second(self) -> Arithmetic:
        return self._wrap(F.second)

    @property
    def dayofweek(self) -> Arithmetic:
        # pandas: Monday=0 … Sunday=6; Spark dayofweek: Sunday=1 … Saturday=7
        return Arithmetic(
            self._expr._sdf,
            (F.dayofweek(self._expr.spark_col()) + 5) % 7,
            False,
        )

    @property
    def date(self) -> Arithmetic:
        return self._wrap(F.to_date)

    def floor(self, unit: str) -> Arithmetic:
        """Truncate to 'hour'/'day'/'month'… (pandas dt.floor analog)."""
        return Arithmetic(
            self._expr._sdf, F.date_trunc(unit, self._expr.spark_col()), False
        )


class BaseFrame:
    """Shared machinery for DataFrame and Projection: both are computable
    relations over an immutable Spark frame snapshot."""

    def to_spark(self) -> SparkDataFrame:
        raise NotImplementedError

    @property
    def columns(self) -> pd.Index:
        return pd.Index(self.to_spark().columns)

    def compute(self) -> Any:
        """Force materialization → pandas (reference ``compute()``,
        core.py:91-112). A result larger than the session's
        ``spark.driver.maxResultSize`` (default: free driver memory)
        raises MemoryError instead of OOM-ing the driver (`fetch_pandas`)."""
        return fetch_pandas(self.to_spark())

    def to_pandas(self) -> Any:
        return self.compute()

    def cache(self):
        """Per-node result caching analog (reference two-tier cache,
        core.py:41-42) → Spark persist + plan reuse."""
        self.to_spark().cache()
        return self

    def explain(self, mode: str = "formatted") -> None:
        self.to_spark().explain(mode)

    def memory_usage(self) -> int:
        """Estimated result size in bytes (reference ``memory_usage``,
        core.py:70-82, deep pandas usage of the cached result). Ours is
        the optimizer's size-in-bytes statistic — available WITHOUT
        materializing, which is the only sane contract at 100 TB.

        It is Catalyst's plan estimate without cost-based optimization,
        which multiplies through joins and can overshoot by orders of
        magnitude: a 1000×1000 merge on one key with a ~24 kB result
        reports 460.8 MB. It is no bound on what ``compute()`` may
        fetch; that bound is ``spark.driver.maxResultSize``."""
        sdf = self.to_spark()
        return int(sdf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    def fallback(self, op: str, *args, **kwargs):
        """Generic pandas escape hatch (reference ``FallbackOperation``,
        core.py:1266-1284: replay ``getattr(pandas_result, op)(*args)``
        on the materialized result). Driver-side and eager by design —
        for distributed per-batch logic use ``map_in_pandas`` instead."""
        pdf = self.compute()
        attr = getattr(pdf, op)
        result = attr(*args, **kwargs) if callable(attr) else attr
        if isinstance(result, pd.DataFrame):
            return DataFrame(result)
        return result

    def map_in_pandas(self, func, schema) -> "DataFrame":
        """Distributed escape hatch: Arrow-batched ``mapInPandas`` over
        the frame (the Spark-first analog of FallbackOperation —
        per-partition, no driver materialization, no shuffle).
        ``func(iter_of_pdf) -> iter_of_pdf``; ``schema`` is the output
        schema (DDL string or StructType)."""
        return DataFrame(sdf=self.to_spark().mapInPandas(func, schema))

    def __len__(self) -> int:
        # Implicit materialization point (core.py:618-661) — but count()
        # is an aggregate, not a fetch: scale-safe.
        return self.to_spark().count()

    def __repr__(self) -> str:
        # Bounded preview: never full-fetch on repr (scale safety; the
        # reference fetches everything, core.py:627-633 — deliberate
        # deviation for 100 TB frames).
        preview = fetch_pandas(self.to_spark().limit(REPR_ROWS + 1))
        truncated = len(preview) > REPR_ROWS
        text = repr(preview.head(REPR_ROWS))
        if truncated:
            text += f"\n... (preview of first {REPR_ROWS} rows)"
        return text

    def _repr_html_(self) -> str:
        return fetch_pandas(self.to_spark().limit(REPR_ROWS))._repr_html_()

    # -- sinks (core.py:627-640): force compute then delegate to pandas
    # writers for exact reference parity. Scale path: .to_parquet/.write
    # go through Spark distributed writers instead.
    def to_csv(self, path: str, **kwargs) -> None:
        self.compute().to_csv(path, **kwargs)

    def to_json(self, path: str | None = None, **kwargs):
        return self.compute().to_json(path, **kwargs)

    def to_numpy(self, **kwargs):
        return self.compute().to_numpy(**kwargs)

    def to_pickle(self, path: str, **kwargs) -> None:
        self.compute().to_pickle(path, **kwargs)

    def to_parquet(self, path: str, mode: str = "overwrite", **options) -> None:
        """Distributed parquet sink (beyond-reference; the scale path)."""
        self.to_spark().write.mode(mode).options(**options).parquet(path)

    def to_orc(self, path: str, mode: str = "overwrite", **options) -> None:
        """Distributed ORC sink (beyond-reference format)."""
        self.to_spark().write.mode(mode).options(**options).orc(path)


class DataFrame(BaseFrame):
    """Named lazy relation (reference ``DataFrame``, core.py:497-531)."""

    def __init__(
        self,
        data: Any = None,
        sdf: SparkDataFrame | None = None,
        name: str | None = None,
        deep_copy: bool = False,
        offload: bool = True,
        loaded_on_sqlite: bool = False,
    ):
        """``name``/``deep_copy``/``offload``/``loaded_on_sqlite`` are
        accepted for reference ctor parity (core.py:497-531) but are
        no-ops here: Spark DataFrames are immutable (deep_copy moot),
        there is one engine (offload/loaded_on_sqlite moot), and ``name``
        registers a temp view instead of a SQLite table name."""
        if sdf is not None:
            self._sdf = sdf
        elif isinstance(data, DataFrame):
            self._sdf = data._sdf
        elif isinstance(data, SparkDataFrame):
            self._sdf = data
        else:
            spark = get_spark()
            pdf = data if isinstance(data, pd.DataFrame) else pd.DataFrame(data)
            self._sdf = spark.createDataFrame(pdf)
        if name:
            self._sdf.createOrReplaceTempView(name)

    def to_spark(self) -> SparkDataFrame:
        return self._sdf

    # -- __getitem__ dispatch (core.py:533-541) --
    def __getitem__(self, key):
        if isinstance(key, str):
            return Projection(self._sdf, [key])
        if isinstance(key, list):
            return Projection(self._sdf, key)
        if isinstance(key, Criterion):
            if key._sdf is not None and key._sdf is not self._sdf:
                raise ValueError("criterion comes from a different DataFrame")
            return DataFrame(sdf=self._sdf.filter(key.spark_col()))
        if isinstance(key, slice):
            if key.start is not None or key.step is not None:
                raise ValueError("only df[:n] slices are supported (core.py:538-541)")
            if key.stop is None:
                raise ValueError("only df[:n] slices are supported (core.py:538-541)")
            return DataFrame(sdf=self._sdf.limit(int(key.stop)))
        raise TypeError(f"unsupported key type: {type(key)}")

    def __getattr__(self, name: str):
        # df.n ≡ df['n'] (core.py:265-266)
        if not name.startswith("_") and name in self.to_spark().columns:
            return Projection(self._sdf, [name])
        raise AttributeError(name)

    # -- column write (core.py:545-578): copy-on-write is free because
    # old wrappers snapshot the previous immutable _sdf.
    def __setitem__(self, col: str, value: Any) -> None:
        expr = _as_expression(value, self._sdf)
        if expr._sdf is not None and expr._sdf is not self._sdf:
            raise ValueError("value expression comes from a different DataFrame")
        # withColumn preserves position for existing cols, appends new ones
        # (reference position-preserving SELECT, core.py:667-726).
        self._sdf = self._sdf.withColumn(col, expr.spark_col())

    def repartition(self, num: int | None = None, *cols: str) -> "DataFrame":
        """Explicit partitioning control (scale-tuning surface): by count
        (round-robin), by columns (hash), or both. Use before a write to
        control file counts, or to pre-co-locate a hot join key."""
        sdf = self._sdf
        if num is not None and cols:
            sdf = sdf.repartition(num, *[F.col(c) for c in cols])
        elif num is not None:
            sdf = sdf.repartition(num)
        elif cols:
            sdf = sdf.repartition(*[F.col(c) for c in cols])
        return DataFrame(sdf=sdf)

    def coalesce(self, num: int) -> "DataFrame":
        """Reduce partition count WITHOUT a shuffle (narrow dependency) —
        the cheap way to shrink file counts after a selective filter."""
        return DataFrame(sdf=self._sdf.coalesce(num))

    def assign(self, **columns) -> "DataFrame":
        """pandas ``assign``: non-mutating multi-column write (the
        functional twin of ``__setitem__``). Plain values are expressions
        over THIS frame; callables receive the frame-so-far (the pandas
        idiom for columns that depend on earlier assignments)."""
        out_sdf = self._sdf
        for name, value in columns.items():
            if callable(value):
                expr = _as_expression(value(DataFrame(sdf=out_sdf)), out_sdf)
            else:
                expr = _as_expression(value, self._sdf)
                if expr._sdf is not None and expr._sdf is not self._sdf:
                    raise ValueError("value expression comes from a different DataFrame")
            out_sdf = out_sdf.withColumn(name, expr.spark_col())
        return DataFrame(sdf=out_sdf)

    def head(self, n: int = 5) -> "DataFrame":
        return DataFrame(sdf=self._sdf.limit(n))

    def limit(self, n: int) -> "DataFrame":
        return DataFrame(sdf=self._sdf.limit(n))

    def drop_duplicates(self, subset: Sequence[str] | None = None) -> "DataFrame":
        # Reference: full-row DISTINCT only (core.py:597-607); subset is a
        # Spark superset via dropDuplicates. At scale this is a shuffle on
        # all (or subset) columns — prefer subset when semantics allow.
        if subset is None:
            return DataFrame(sdf=self._sdf.distinct())
        return DataFrame(sdf=self._sdf.dropDuplicates(list(subset)))

    def rename(self, columns: dict[str, str]) -> "DataFrame":
        # core.py:729-758: position-preserving rename.
        missing = [c for c in columns if c not in self._sdf.columns]
        if missing:
            raise ValueError(f"cannot rename missing columns: {missing}")
        return DataFrame(sdf=self._sdf.withColumnsRenamed(columns))

    def sort_values(
        self, by: str | Sequence[str], ascending: bool | Sequence[bool] = True
    ) -> "DataFrame":
        # core.py:818-849: multi-column, per-column asc/desc.
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        if len(asc) != len(by):
            raise ValueError("ascending list must match by list")
        cols = [F.col(c).asc() if a else F.col(c).desc() for c, a in zip(by, asc)]
        return DataFrame(sdf=self._sdf.orderBy(*cols))

    def nlargest(self, n: int, columns: str | Sequence[str]) -> "DataFrame":
        # Reference supports this only via eager pandas fallback
        # (api_status.py:24-28, core.py:1266-1284); native here: Catalyst
        # compiles orderBy+limit to TakeOrderedAndProject — a distributed
        # per-partition top-k + driver merge, no full sort. Scale-correct.
        cols = [columns] if isinstance(columns, str) else list(columns)
        return DataFrame(sdf=self._sdf.orderBy(*[F.col(c).desc() for c in cols]).limit(n))

    def nsmallest(self, n: int, columns: str | Sequence[str]) -> "DataFrame":
        cols = [columns] if isinstance(columns, str) else list(columns)
        return DataFrame(sdf=self._sdf.orderBy(*[F.col(c).asc() for c in cols]).limit(n))

    # -- missing-data / dtype / sampling surface (pandas superset; the
    #    reference supports none of these — api_status.py UNSUPPORTED)

    def dropna(self, subset: Sequence[str] | None = None, how: str = "any") -> "DataFrame":
        """Drop rows with nulls (pandas ``dropna``): ``how='any'`` drops a
        row if any of ``subset`` (default: all columns) is null."""
        return DataFrame(sdf=self._sdf.na.drop(how=how, subset=list(subset) if subset else None))

    def fillna(self, value) -> "DataFrame":
        """Fill nulls: scalar (applied to type-compatible columns) or
        ``{col: value}`` dict, same as pandas/Spark ``fillna``."""
        return DataFrame(sdf=self._sdf.na.fill(value))

    _DTYPE_MAP = {
        "int": "long", "int64": "long", "int32": "int",
        "float": "double", "float64": "double", "float32": "float",
        "str": "string", "object": "string", "bool": "boolean",
        "datetime64[ns]": "timestamp",
    }

    def astype(self, dtypes: dict[str, str]) -> "DataFrame":
        """Cast columns by pandas dtype name or Spark DDL type name."""
        casts = {
            c: F.col(c).cast(self._DTYPE_MAP.get(str(t), str(t)))
            for c, t in dtypes.items()
        }
        return DataFrame(sdf=self._sdf.withColumns(casts))

    def sample(self, frac: float, seed: int | None = None, replace: bool = False) -> "DataFrame":
        """Bernoulli row sample — per-partition, no shuffle, no driver
        involvement; the row count is approximate (exact-n sampling needs
        a global sort and is the wrong default at scale)."""
        return DataFrame(
            sdf=self._sdf.sample(withReplacement=replace, fraction=frac, seed=seed)
        )

    def describe(self, *cols: str) -> "DataFrame":
        """Summary stats (count/mean/stddev/min/max) per numeric column —
        Spark-native one-pass aggregation."""
        return DataFrame(sdf=self._sdf.describe(*cols))

    def value_counts(self, col: str, ascending: bool = False) -> "DataFrame":
        """Per-value row counts, sorted by count (pandas
        ``df[col].value_counts()`` shape: value + 'count' columns). One
        partial-agg shuffle on the value."""
        out = self._sdf.groupBy(col).agg(F.count(F.lit(1)).alias("count"))
        order = F.col("count").asc() if ascending else F.col("count").desc()
        return DataFrame(sdf=out.orderBy(order, F.col(col).asc()))

    # -- set operations beyond the reference's bag-union `concat`
    #    (SURVEY §2.7: INTERSECT/EXCEPT absent there). Name-resolved like
    #    concat; one shuffle on all columns each, same as DISTINCT.

    def intersect(self, other: "DataFrame") -> "DataFrame":
        """Set intersection (deduplicated), schemas must match by name."""
        return DataFrame(sdf=self._sdf.intersect(other._sdf.select(*self._sdf.columns)))

    def difference(self, other: "DataFrame", bag: bool = False) -> "DataFrame":
        """EXCEPT (set, default) or EXCEPT ALL (``bag=True``)."""
        right = other._sdf.select(*self._sdf.columns)
        out = self._sdf.exceptAll(right) if bag else self._sdf.subtract(right)
        return DataFrame(sdf=out)

    def merge(
        self,
        other: "DataFrame",
        on: str | Sequence[str] | None = None,
        left_on: str | Sequence[str] | None = None,
        right_on: str | Sequence[str] | None = None,
        how: str = "inner",
    ) -> "DataFrame":
        """Equi-join (reference ``Join``, core.py:852-945; inner-only there,
        ``how`` is our superset). ``left_on/right_on`` keeps BOTH key
        columns (tests/test_data_frame.py:167-170); left wins non-key name
        conflicts (core.py:880-886); output columns lexicographic.

        Physical strategy is Catalyst/AQE's call (broadcast if a side is
        small, skew-split at runtime) — same delegation the reference makes
        to SQLite's planner.

        ``how='semi'``/``'anti'`` (superset): existence filters that never
        materialize right-side columns — at scale these beat an inner
        join + distinct because only the join keys of the right side are
        shuffled and no fan-out rows are produced."""
        left, right = self._sdf, other._sdf
        how = {"semi": "left_semi", "anti": "left_anti"}.get(how, how)
        existence = how in ("left_semi", "left_anti")
        if on is not None:
            keys = [on] if isinstance(on, str) else list(on)
            # Alias both sides so colliding NON-key columns resolve
            # ("left wins", core.py:880-886) instead of raising
            # AMBIGUOUS_REFERENCE. Key columns are merged by the on= join
            # itself and stay plainly addressable.
            la, ra = left.alias("__l"), right.alias("__r")
            joined = la.join(ra, on=keys, how=how)
            left_nonkey = [c for c in left.columns if c not in keys]
            right_extra = (
                []
                if existence
                else [
                    c
                    for c in right.columns
                    if c not in keys and c not in left.columns
                ]
            )
            exprs = {k: F.col(k) for k in keys}
            exprs.update({c: F.col(f"__l.{c}").alias(c) for c in left_nonkey})
            exprs.update({c: F.col(f"__r.{c}").alias(c) for c in right_extra})
            out_cols = sorted(exprs)
            return DataFrame(sdf=joined.select(*[exprs[c] for c in out_cols]))
        elif left_on is not None and right_on is not None:
            lk = [left_on] if isinstance(left_on, str) else list(left_on)
            rk = [right_on] if isinstance(right_on, str) else list(right_on)
            if len(lk) != len(rk):
                raise ValueError("left_on and right_on must have equal length")
            r = right
            # Alias to avoid ambiguity when frames share lineage.
            la, ra = left.alias("__l"), r.alias("__r")
            cond = None
            for a, b in zip(lk, rk):
                c = F.col(f"__l.{a}") == F.col(f"__r.{b}")
                cond = c if cond is None else (cond & c)
            joined = la.join(ra, on=cond, how=how)
            left_cols = left.columns
            right_keep = (
                [] if existence else [c for c in right.columns if c not in left_cols]
            )
            sel = [F.col(f"__l.{c}").alias(c) for c in left_cols]
            sel += [F.col(f"__r.{c}").alias(c) for c in right_keep]
            joined = joined.select(*sel)
            out_cols = sorted(left_cols + right_keep)
        else:
            raise ValueError("merge requires on= or left_on=/right_on=")
        return DataFrame(sdf=joined.select(*out_cols))

    def groupby(self, by: str | Sequence[str], as_index: bool = True) -> "GroupByDataFrame":
        from .groupby import GroupByDataFrame

        keys = [by] if isinstance(by, str) else list(by)
        return GroupByDataFrame(self._sdf, keys, as_index=as_index)

    # -- ungrouped aggregates (core.py:219-241): one agg over EVERY column,
    # collapsing to a pandas Series (core.py:1162-1188).
    def sum(self):
        return _ungrouped_agg(self._sdf, "sum")

    def count(self):
        return _ungrouped_agg(self._sdf, "count")

    def mean(self):
        return _ungrouped_agg(self._sdf, "mean")

    def min(self):
        return _ungrouped_agg(self._sdf, "min")

    def max(self):
        return _ungrouped_agg(self._sdf, "max")

    def prod(self):
        return _ungrouped_agg(self._sdf, "prod")

    def any(self):
        return _ungrouped_agg(self._sdf, "any")

    def all(self):
        return _ungrouped_agg(self._sdf, "all")

    def agg(self, func):
        from .groupby import multi_agg_ungrouped

        if isinstance(func, str):
            return _ungrouped_agg(self._sdf, func)
        return multi_agg_ungrouped(self._sdf, list(func))


#: agg name → Spark function (reference map at core.py:1076-1085; its
#: custom SQLite PROD/AGG_ANY/AGG_ALL UDAFs are Spark built-ins).
AGG_FUNCS = {
    "sum": F.sum,
    "count": F.count,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "prod": F.product,
    "any": lambda c: F.bool_or(F.col(c).cast("boolean")) if isinstance(c, str) else F.bool_or(c),
    "all": lambda c: F.bool_and(F.col(c).cast("boolean")) if isinstance(c, str) else F.bool_and(c),
    # Superset beyond the reference (its api_status.py:124,178,212 lists
    # these as UNSUPPORTED). std/var are sample (ddof=1, pandas default).
    # median is exact-interpolated — a full sort per group; prefer
    # "approx_median" (t-digest sketch, one pass, mergeable) at scale.
    "std": F.stddev_samp,
    "var": F.var_samp,
    "median": F.median,
    "approx_median": lambda c: F.percentile_approx(c, 0.5),
    "nunique": lambda c: F.count_distinct(F.col(c) if isinstance(c, str) else c),
    "approx_nunique": F.approx_count_distinct,
}

#: aggs that only make sense on numeric columns — non-numeric columns are
#: skipped (pandas numeric_only behavior; SQLite coerced text to 0 which
#: we do NOT reproduce — deliberate fix).
_NUMERIC_ONLY_AGGS = {"sum", "mean", "prod", "std", "var", "median", "approx_median"}
_BOOL_AGGS = {"any", "all"}


def agg_columns(sdf: SparkDataFrame, func: str, cols: Iterable[str]) -> list[str]:
    numeric = {
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.NumericType, T.BooleanType))
    }
    cols = list(cols)
    if func in _NUMERIC_ONLY_AGGS or func in _BOOL_AGGS:
        return [c for c in cols if c in numeric]
    return cols


def _ungrouped_agg(sdf: SparkDataFrame, func: str):
    if func not in AGG_FUNCS:
        raise ValueError(f"unsupported aggregate: {func}")
    cols = agg_columns(sdf, func, sdf.columns)
    if not cols:
        raise ValueError(f"no aggregatable columns for {func}")
    from .groupby import Aggregate

    exprs = [AGG_FUNCS[func](c).alias(c) for c in cols]
    return Aggregate(sdf.agg(*exprs), cols, func)


class Projection(BaseFrame, Expression):
    """Column subset that doubles as an expression (reference
    ``Projection``, core.py:761-796). Column order follows SOURCE order,
    not request order (core.py:780)."""

    def __init__(self, sdf: SparkDataFrame, cols: list[str], distinct: bool = False):
        missing = [c for c in cols if c not in sdf.columns]
        if missing:
            raise KeyError(f"columns not found: {missing}")
        # source-order, dedup-preserving
        self._cols = [c for c in sdf.columns if c in set(cols)]
        self._src = sdf
        self._distinct = distinct
        self._sdf = sdf  # Expression protocol: the frame exprs bind to
        self._is_float = (
            len(self._cols) == 1
            and _is_float_dtype(sdf.schema[self._cols[0]].dataType)
        )

    # -- Expression protocol (single-column projections only) --
    def _as_single_expr(self) -> "Projection":
        if len(self._cols) != 1:
            raise ValueError("only single-column projections are expressions")
        return self

    def spark_col(self) -> SparkColumn:
        if len(self._cols) != 1:
            raise ValueError("only single-column projections are expressions")
        return F.col(self._cols[0])

    # -- frame protocol --
    def to_spark(self) -> SparkDataFrame:
        out = self._src.select(*self._cols)
        return out.distinct() if self._distinct else out

    def drop_duplicates(self) -> "Projection":
        return Projection(self._src, self._cols, distinct=True)

    def value_counts(self, ascending: bool = False) -> "DataFrame":
        """pandas ``df[col].value_counts()`` idiom on a 1-col projection."""
        if len(self._cols) != 1:
            raise ValueError("value_counts requires a single-column projection")
        return DataFrame(sdf=self._src).value_counts(self._cols[0], ascending=ascending)

    def nunique(self) -> int:
        """Distinct-value count of a 1-col projection (eager scalar)."""
        if len(self._cols) != 1:
            raise ValueError("nunique requires a single-column projection")
        return self.to_spark().distinct().count()

    def compute(self):
        pdf = fetch_pandas(self.to_spark())
        if len(self._cols) == 1:
            return pdf[self._cols[0]]  # 1-col projection → Series
        return pdf

    def __getitem__(self, key):
        if isinstance(key, slice):
            if key.start is not None or key.step is not None:
                raise ValueError("only [:n] slices are supported")
            if key.stop is None:
                raise ValueError("only [:n] slices are supported")
            return DataFrame(sdf=self.to_spark().limit(int(key.stop)))
        raise TypeError("projections only support [:n] slicing")

    def head(self, n: int = 5) -> "DataFrame":
        return DataFrame(sdf=self.to_spark().limit(n))

    # ungrouped aggs on a projection (e.g. df['n'].sum() → scalar)
    def sum(self):
        return _ungrouped_agg(self.to_spark(), "sum")

    def count(self):
        return _ungrouped_agg(self.to_spark(), "count")

    def mean(self):
        return _ungrouped_agg(self.to_spark(), "mean")

    def min(self):
        return _ungrouped_agg(self.to_spark(), "min")

    def max(self):
        return _ungrouped_agg(self.to_spark(), "max")

    def prod(self):
        return _ungrouped_agg(self.to_spark(), "prod")

    def any(self):
        return _ungrouped_agg(self.to_spark(), "any")

    def all(self):
        return _ungrouped_agg(self.to_spark(), "all")

    def __hash__(self):  # Expression defines __eq__; keep hashable
        return id(self)


def merge(
    left: DataFrame,
    right: DataFrame,
    on=None,
    left_on=None,
    right_on=None,
    how: str = "inner",
) -> DataFrame:
    """Module-level merge (reference ``ps.merge``, core.py:1292-1295)."""
    return left.merge(right, on=on, left_on=left_on, right_on=right_on, how=how)


def concat(frames: Sequence[DataFrame]) -> DataFrame:
    """N-ary bag union; schemas must match exactly (reference ``Union``,
    core.py:958-975: symmetric-difference check, UNION ALL semantics)."""
    if not frames:
        raise ValueError("concat requires at least one frame")
    first_cols = set(frames[0].to_spark().columns)
    for fr in frames[1:]:
        if set(fr.to_spark().columns) != first_cols:
            raise ValueError("all frames must share the same schema (core.py:963-965)")
    out = frames[0].to_spark()
    for fr in frames[1:]:
        out = out.unionByName(fr.to_spark())
    return DataFrame(sdf=out)


def from_spark(sdf: SparkDataFrame) -> DataFrame:
    return DataFrame(sdf=sdf)


def read_parquet(path: str, spark: SparkSession | None = None) -> DataFrame:
    spark = spark or get_spark()
    return DataFrame(sdf=spark.read.parquet(path))


_OFFLOADING_STRATEGY = "ALWAYS"


def offloading_strategy(strategy: str | None = None) -> str:
    """API-compat shim for the reference's engine selector
    (core.py:1546-1556, env default PANDASQL_OFFLOADING=ALWAYS).
    Spark is the only engine here — ALWAYS/NEVER/BEST all resolve to
    'let Catalyst/AQE place the work'; the setting is recorded so code
    written against the reference round-trips."""
    global _OFFLOADING_STRATEGY
    if strategy is not None:
        s = strategy.upper()
        if s not in ("ALWAYS", "NEVER", "BEST"):
            raise ValueError(f"invalid offloading strategy: {strategy}")
        _OFFLOADING_STRATEGY = s
    return _OFFLOADING_STRATEGY


def register(df: "DataFrame | SparkDataFrame", name: str) -> None:
    """Register a frame as a temp view for the SQL surface (superset —
    the reference has no SQL entry point; its pandas-like API *is* the
    parser, SURVEY §3)."""
    sdf = df.to_spark() if isinstance(df, BaseFrame) else df
    sdf.createOrReplaceTempView(name)


def sql(query: str, spark: SparkSession | None = None) -> DataFrame:
    """Full Spark-SQL entry point over registered views: the same
    Catalyst plans as the DataFrame veneer, interchangeable mid-pipeline
    (``register(df, 't'); sql('select * from t')``)."""
    spark = spark or get_spark()
    return DataFrame(sdf=spark.sql(query))

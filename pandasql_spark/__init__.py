"""pandasql_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of rohankumar42/pandaSQL, rebuilt Spark-first.

Public surface mirrors the reference package (``import pandasql as ps``):

    import pandasql_spark as ps
    df = ps.read_csv("data.csv")
    out = df[df.n > 5][["s"]].head()
    out.compute()          # → pandas

plus Spark-native extensions: parquet I/O, outer joins, window/top-k,
dedup / similarity / text-analysis operators, and structured streaming
over event tables.
"""

from .core import (
    DataFrame,
    Projection,
    concat,
    from_spark,
    merge,
    offloading_strategy,
    register,
    sql,
)
from .session import get_spark, stop
from .sources import (
    read_binary_files,
    read_csv,
    read_json,
    read_numpy,
    read_orc,
    read_parquet,
    read_pickle,
    write_compacted,
)

__version__ = "0.1.0"

__all__ = [
    "DataFrame",
    "Projection",
    "concat",
    "from_spark",
    "merge",
    "offloading_strategy",
    "register",
    "sql",
    "get_spark",
    "stop",
    "read_binary_files",
    "read_csv",
    "read_json",
    "read_numpy",
    "read_orc",
    "read_parquet",
    "read_pickle",
    "write_compacted",
]

"""SparkSession management for pandasql_spark.

One engine, one session. The reference (pandaSQL) juggles two engines —
pandas and SQLite — with a cost model deciding placement
(``/root/reference/pandasql/core.py:1546-1568``). Here Spark is the only
engine, so "session management" reduces to building a well-configured
SparkSession once and reusing it.

Scale-minded defaults (tunable via ``get_spark(**conf)``):

- AQE on: runtime re-planning, skew-join splitting, partition coalescing.
  On a 1000-executor cluster this is what turns a bad static plan into a
  good one mid-flight.
- ``spark.sql.shuffle.partitions``: one partition per core of the local
  session (``SPARK_GRAFT_CPUS``, else the process's CPU affinity). AQE
  coalesces ordinary shuffle reads down from this width, but persisted
  plans keep their exchange's partitioning and Structured Streaming
  keeps one state store per partition per micro-batch, so those read
  the width directly. On a real cluster pass ~2-3x total cores.
- Arrow enabled for every pandas interchange point (``toPandas``,
  ``applyInPandas``, pandas UDFs) — batch columnar transfer instead of
  row pickling.
- Streaming checkpoints (offsets, commits, source and sink logs, state
  store files) are written through Hadoop's ``FileSystem`` API
  (``FileSystemBasedCheckpointFileManager``). Spark's default manager
  goes through ``FileContext``, whose ``getFileLinkStatus`` forks a
  ``readlink`` process per file, ``.crc`` and temp file when Hadoop's
  native library is missing, as it is in a pip-installed PySpark: about
  200 forks per run of the q58 replay. ``FileSystem.getFileStatus``
  forks none. The files written, checksums included, are the same, and
  a local rename is atomic either way. A remote checkpoint store is
  where Spark's default matters: HDFS renames with overwrite atomically
  through ``FileContext``, while the ``FileSystem`` manager deletes the
  target first. Pass ``FileContextBasedCheckpointFileManager`` through
  ``get_spark(**conf)`` there; a session the host built keeps its own.

Scratch directories — a replay's staged chunks, checkpoint and store, a
round-trip query's written files — come from `scratch_dir`, which
removes whatever is still there when the interpreter exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # pandas/Python permissive numeric semantics (div-by-zero → null, not
    # error) — the reference's engine-semantics shims (sql_utils.py:9-48)
    # are about matching pandas, so we pick the permissive mode.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: pushdown + pruning are free perf at 100 TB. These are
    # Spark defaults, pinned here so a misconfigured cluster can't lose them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Broadcast threshold: 64 MB. Dimension tables (region/nation/customer
    # at typical star-schema ratios) should broadcast, not shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # FileSystem.getFileStatus instead of FileContext.getFileLinkStatus,
    # which forks readlink per checkpoint file without native Hadoop
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


#: Semantics-critical confs that MUST hold for the engine's documented
#: behavior, all runtime-settable: ANSI off (pandas-permissive arithmetic:
#: div-by-zero → null — the reference's engine-semantics shims
#: ``sql_utils.py:9-48`` match pandas, not ANSI SQL) and UTC (the
#: TIMESTAMP_NTZ→epoch casts in the window queries assume it). Applied
#: even to sessions we did not build (e.g. a host/driver-owned session),
#: because the host owns the *session* but this library owns the
#: *semantics* of its own operators.
_RUNTIME_SEMANTICS: dict[str, str] = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Parquet naive timestamps (isAdjustedToUTC=false) read as TIMESTAMP,
    # not TIMESTAMP_NTZ: with the session pinned to UTC the two are
    # value-identical, but NTZ forbids the direct epoch casts
    # (cast-to-double) the window/session/range operators rely on, and
    # matches DuckDB's epoch() treating naive timestamps as UTC.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def _free_driver_memory() -> int | None:
    """MemAvailable from /proc/meminfo (the reference's `_free_memory()`
    analog, pandasql/core.py:34-38 via psutil). None when unknowable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def ensure_semantics(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable semantics confs on ``spark`` (idempotent).

    Every operator is additionally written to be ANSI-*safe* (no
    overflowing expressions — see operators/dedup.py's 31-bit universal
    hash), so this is belt-and-braces: correctness does not depend on it,
    only edge-case *semantics* (null-on-div-zero vs error) do."""
    for k, v in _RUNTIME_SEMANTICS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    return spark


def get_spark(app_name: str = "pandasql_spark", **conf: str) -> SparkSession:
    """Return the active SparkSession, creating one with tuned defaults.

    A new session runs ``local[n]`` with ``n`` shuffle partitions, where
    ``n`` is ``$SPARK_GRAFT_CPUS`` if set, else the cores this process
    may run on, and caps results fetched to the driver
    (``spark.driver.maxResultSize``) at the driver's free memory.

    ``**conf`` overrides the defaults (keys use the usual dotted names with
    ``_`` accepted in place of ``.`` is NOT supported — pass real keys via
    ``get_spark(**{"spark.sql.shuffle.partitions": "64"})``).

    A pre-existing active session is returned as-is except for the
    runtime-settable semantics confs (`ensure_semantics`) — builder-time
    confs like driver memory can't be changed after the fact.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return ensure_semantics(active)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    derived = {"spark.sql.shuffle.partitions": str(cpus)}
    free = _free_driver_memory()
    if free is not None:
        derived["spark.driver.maxResultSize"] = str(free)
    merged = {**_DEFAULTS, **derived, **conf}
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_SCRATCH: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A new directory ``<prefix>*`` in the temp dir, removed at
    interpreter exit. Whoever is done with it sooner removes it sooner
    (`streaming.events.run_bounded` does, for what a stream alone
    reads); the exit pass covers the dirs a returned lazy frame still
    reads and the ones a failed run left."""
    path = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(path)
    return path


@atexit.register
def _remove_scratch() -> None:
    # exit handlers run last-in first-out, and this one is registered
    # at import: a JVM that get_spark launched is stopped before the
    # dirs go
    for path in _SCRATCH:
        shutil.rmtree(path, ignore_errors=True)


def stop() -> None:
    """Stop the active session (reference parity: ``pandasql.stop()``,
    ``/root/reference/pandasql/core.py:1693-1697``)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

"""Session defaults: ``get_spark`` derives ``local[n]`` and the default
shuffle width from one core count, the result-size bound from the
driver's free memory, and writes streaming checkpoints without forking.

Runs in a subprocess because the suite's own session is already active
(and ``get_spark`` returns an active session as-is)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from pandasql_spark.session import _free_driver_memory, get_spark

free = _free_driver_memory()
spark = get_spark("session-sizing-probe")
spark.sparkContext.setLogLevel("ERROR")
derived = (spark.conf.get("spark.sql.shuffle.partitions"),
           spark.sparkContext.defaultParallelism)
limit = spark.conf.get("spark.driver.maxResultSize")
explicit = {"spark.sql.shuffle.partitions": "5", "spark.driver.maxResultSize": "2g"}
same = get_spark(**explicit) is spark
kept = spark.conf.get("spark.driver.maxResultSize") == limit
spark.stop()
spark = get_spark("session-sizing-probe", **explicit)
override = (spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.driver.maxResultSize"))
spark.stop()
print("PROBE " + json.dumps({"derived": derived, "free": free, "limit": limit,
                             "same": same, "kept": kept, "override": override}))
"""


def test_shuffle_partitions_follow_cores():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        env={**os.environ, "SPARK_GRAFT_CPUS": "3"}, cwd=_ROOT,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    line = next(ln for ln in out.splitlines() if ln.startswith("PROBE "))
    got = json.loads(line[len("PROBE "):])
    # one core count sizes both the executor slots and the shuffle width
    assert got["derived"] == ["3", 3]
    # the result bound is the driver's free memory, read at session build
    assert abs(int(got["limit"]) - got["free"]) < 0.1 * got["free"]
    # an active session is returned as-is, its bound included; explicit
    # conf still wins
    assert got["same"] is True
    assert got["kept"] is True
    assert got["override"] == ["5", "2g"]


_CHECKPOINT_PROBE = """
import json, os, sys
from pandasql_spark.session import get_spark

root = sys.argv[1]
src, out, ckpt = (os.path.join(root, d) for d in ("src", "out", "ckpt"))
spark = get_spark("checkpoint-fork-probe", **{"spark.sql.shuffle.partitions": "2"})
spark.sparkContext.setLogLevel("ERROR")
events = spark.range(200).selectExpr("id AS event_id", "timestamp_seconds(1700000000 + id * 60) AS ts")
schema = events.schema


def run():
    q = (spark.readStream.schema(schema).parquet(src + "/*")
         .withWatermark("ts", "36500 days").dropDuplicatesWithinWatermark(["event_id"])
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()


events.filter("event_id % 2 = 0").write.parquet(src + "/a")
run()
events.write.parquet(src + "/b")  # the even events again, plus the odd
run()  # restart from the checkpoint: only the odd events are new
back = spark.read.parquet(out)
got = (back.count(), back.select("event_id").distinct().count())
spark.stop()
print("PROBE " + json.dumps({"written": got}))
"""


def test_streaming_checkpoint_forks_no_readlink(tmp_path):
    """Checkpoint files are written through Hadoop's FileSystem API:
    with no native Hadoop library, the FileContext default forks a
    ``readlink`` per checkpoint, checksum and temp file (dozens here).
    A shim first on PATH logs every ``readlink`` the JVM starts."""
    log = tmp_path / "readlink.log"
    shim = tmp_path / "bin"
    shim.mkdir()
    (shim / "readlink").write_text(
        f'#!/bin/sh\nprintf "%s\\n" "$*" >> "{log}"\n'
        f'exec {shutil.which("readlink")} "$@"\n')
    (shim / "readlink").chmod(0o755)
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2",
           "PATH": f"{shim}{os.pathsep}{os.environ['PATH']}"}
    out = subprocess.run(
        [sys.executable, "-c", _CHECKPOINT_PROBE, str(tmp_path)],
        env=env, cwd=_ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    line = next(ln for ln in out.splitlines() if ln.startswith("PROBE "))
    # each event written exactly once across the restart
    assert json.loads(line[len("PROBE "):])["written"] == [200, 200]
    ckpt = tmp_path / "ckpt"
    logged = log.read_text().splitlines() if log.exists() else []
    assert [ln for ln in logged if str(ckpt) in ln] == []
    # the same files as before: every log and state file keeps Hadoop's
    # .crc sidecar, and each state delta Spark's own checksum file
    files = [p for p in (*ckpt.rglob("*"), *(tmp_path / "out/_spark_metadata").iterdir())
             if p.is_file() and not p.name.startswith(".") and not p.name.endswith(".crc")]
    deltas = [p for p in files if p.suffix == ".delta"]
    assert len(deltas) == 4 and any(p.parent.name == "offsets" for p in files)
    assert [p for p in files if not (p.parent / f".{p.name}.crc").is_file()] == []
    assert [p for p in deltas if not p.with_name(p.name + ".crc").is_file()] == []

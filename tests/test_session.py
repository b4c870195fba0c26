"""Session sizing: ``get_spark`` derives ``local[n]`` and the default
shuffle width from one core count, and the result-size bound from the
driver's free memory.

Runs in a subprocess because the suite's own session is already active
(and ``get_spark`` returns an active session as-is)."""

from __future__ import annotations

import json
import os
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

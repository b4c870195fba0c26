"""Session sizing: ``get_spark`` derives ``local[n]`` and the default
shuffle width from one core count.

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
from pandasql_spark.session import get_spark

spark = get_spark("session-sizing-probe")
spark.sparkContext.setLogLevel("ERROR")
derived = (spark.conf.get("spark.sql.shuffle.partitions"),
           spark.sparkContext.defaultParallelism)
same = get_spark(**{"spark.sql.shuffle.partitions": "5"}) is spark
spark.stop()
spark = get_spark("session-sizing-probe", **{"spark.sql.shuffle.partitions": "5"})
override = spark.conf.get("spark.sql.shuffle.partitions")
spark.stop()
print("PROBE " + json.dumps({"derived": derived, "same": same, "override": override}))
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
    # an active session is returned as-is; explicit conf still wins
    assert got["same"] is True
    assert got["override"] == "5"

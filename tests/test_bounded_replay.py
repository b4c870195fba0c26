"""One bounded-replay runner and one scratch-dir owner: every AvailableNow
run goes through ``streaming.events.run_bounded``, every engine temp dir
comes from ``session.scratch_dir``, and none outlives the interpreter."""

from __future__ import annotations

import inspect
import json
import os
import pathlib
import subprocess
import sys

from conftest import SF_DIR

import pandasql_spark
from pandasql_spark import session
from pandasql_spark.streaming import events

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_one_runner_one_scratch_owner():
    """The replay trigger, the wait, the shuffle cap and mkdtemp each
    appear once in the engine, inside their owner; the old
    ``available_now`` knobs are gone."""
    root = pathlib.Path(pandasql_spark.__file__).parent
    texts = [p.read_text() for p in root.rglob("*.py")]
    owners = {
        "trigger(availableNow=True)": events.run_bounded,
        "awaitTermination(": events.run_bounded,
        "with bounded_replay_shuffle(": events.run_bounded,
        "tempfile.mkdtemp(": session.scratch_dir,
    }
    for needle, owner in owners.items():
        total = sum(t.count(needle) for t in texts)
        assert total == inspect.getsource(owner).count(needle) == 1, needle
    assert not any("available_now" in t for t in texts)


# the queries that stream into, or write, a scratch dir whose contents
# the returned frame reads lazily, and the prefix each one uses
_KEPT = {
    "q59_stream_sink_roundtrip": "q59_sink_",
    "q63_incremental_dedup": "inc_dedup_",
    "q99_crawl_ingest_stream": "crawl_ingest_",
    "q48_write_roundtrip": "q48_roundtrip_",
    "q55_csv_roundtrip": "q55_csv_",
    "q60_zorder_pruned_scan": "q60_z_",
}
_PREFIXES = (*_KEPT.values(), "q59_src_")

_LEAK_PROBE = """
import json, os, sys, tempfile
from pandasql_spark.queries import REGISTRY
from pandasql_spark.session import get_spark

sf, names, prefixes = sys.argv[1], json.loads(sys.argv[2]), tuple(json.loads(sys.argv[3]))
spark = get_spark("scratch-leak-probe")
spark.sparkContext.setLogLevel("ERROR")
for name in names:
    REGISTRY[name].fn(spark, sf).collect()
tmp = tempfile.gettempdir()
print("PROBE " + json.dumps({
    d: sorted(os.listdir(os.path.join(tmp, d)))
    for d in os.listdir(tmp) if d.startswith(prefixes)
}))
"""


def test_scratch_dirs_removed_by_exit(tmp_path):
    """One session runs the six queries and collects each result, then
    exits. While it runs, each query's scratch dir holds only what its
    returned frame reads (stage, checkpoint and store went when the
    stream ended); after it exits, none of those dirs is left."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", _LEAK_PROBE, SF_DIR, json.dumps(list(_KEPT)),
         json.dumps(_PREFIXES)],
        env={**os.environ, "SPARK_GRAFT_CPUS": "2", "TMPDIR": str(tmp)},
        cwd=_ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    line = next(ln for ln in out.splitlines() if ln.startswith("PROBE "))
    during = json.loads(line[len("PROBE "):])
    by_prefix = {}
    for d, children in during.items():
        by_prefix.setdefault(next(p for p in _PREFIXES if d.startswith(p)), []).append(
            children
        )
    assert by_prefix == {
        "q59_sink_": [["out"]],
        "inc_dedup_": [["survivors"]],
        "crawl_ingest_": [["corpus"]],
        "q48_roundtrip_": [["part"]],
        "q55_csv_": [["part"]],
        "q60_z_": [["t"]],
    }
    assert [d for d in os.listdir(tmp) if d.startswith(_PREFIXES)] == []

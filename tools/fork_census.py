"""Count the processes Hadoop's local file system forks per registry query.

    PYTHONPATH=. python tools/fork_census.py [--runs N] [QUERY ...]

Without Hadoop's native library (a pip-installed PySpark has none), the
local file system forks ``readlink`` and ``chmod`` for link and permission
calls. This tool puts logging shims for both first on PATH before the JVM
starts, runs each query ``--runs`` times into a noop sink, and prints one
JSON line per run: the forks per binary, how many of them name a
streaming checkpoint or sink log path, and the CPU time of the JVM's
reaped children (``cutime`` + ``cstime``) over the run.

Queries default to the five of the perfbench curation workload and read
perfbench's generated corpus (``perfbench/data.py``). The first run of
each query includes its warm-up.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CURATION = ("q16_doc_profile", "q67_repetition_signals", "q92_html_extract",
            "q58_stream_dedup", "q59_stream_sink_roundtrip")
BINARIES = ("readlink", "chmod")
# a query's own checkpoint (q59's ckpt), Spark's temporary one for a
# memory sink (q58), and a file sink's log
CHECKPOINT = re.compile(r"/(ckpt|temporary-[^/]*|_spark_metadata)(/|$)")


def install_shims(work: str) -> str:
    """Write the logging shims into ``work/bin``; returns the log path."""
    log = os.path.join(work, "forks.log")
    os.makedirs(os.path.join(work, "bin"))
    for name in BINARIES:
        real = shutil.which(name)
        path = os.path.join(work, "bin", name)
        with open(path, "w") as f:
            f.write(f'#!/bin/sh\nprintf "%s %s\\n" {name} "$*" >> "{log}"\n'
                    f'exec {real} "$@"\n')
        os.chmod(path, 0o755)
    os.environ["PATH"] = os.path.join(work, "bin") + os.pathsep + os.environ["PATH"]
    return log


def children_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def read_log(log: str, start: int) -> tuple[list[str], int]:
    if not os.path.exists(log):
        return [], start
    with open(log) as f:
        lines = f.read().splitlines()
    return lines[start:], len(lines)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("queries", nargs="*", default=list(CURATION))
    p.add_argument("--runs", type=int, default=3)
    args = p.parse_args(argv)

    work = tempfile.mkdtemp(prefix="fork_census_")
    try:
        log = install_shims(work)  # before the JVM starts, so it inherits PATH
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        import data

        sf_dir = os.path.join(work, "corpus")
        data.write_corpus(sf_dir)

        from pandasql_spark.queries import REGISTRY
        from pandasql_spark.session import get_spark

        spark = get_spark("fork-census")
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        _, seen = read_log(log, 0)
        for name in args.queries:
            for run in range(args.runs):
                cpu0, t0 = children_cpu_s(jvm_pid), time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
                lines, seen = read_log(log, seen)
                row = {"query": name, "run": run, "wall_s": round(wall, 3),
                       "children_cpu_s": round(children_cpu_s(jvm_pid) - cpu0, 3)}
                for b in BINARIES:
                    mine = [ln for ln in lines if ln.startswith(b + " ")]
                    row[b] = len(mine)
                    row[b + "_checkpoint"] = sum(1 for ln in mine if CHECKPOINT.search(ln))
                print(json.dumps(row), flush=True)
                spark.catalog.clearCache()
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

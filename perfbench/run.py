"""Benchmark of pandasql_spark: one client, closed loop, one Spark session.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {frames,curation} \
        --seed N --seconds S --trace {0,1}

One run: generate the inputs, set the session up SETUPS times (the first
start launches the JVM; each set-up is ``get_spark`` plus a warm-up job),
run one untimed pass over the workload's operations that checks every
result against its reference, then repeat timed passes -- at least
TIMED_PASSES -- until ``--seconds`` have passed. Between operations the run
drops cached data and deletes temporary directories; none of this is timed. The seed drives the frames data and the operation
order of every pass. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds the per-operation detail, the run's host-noise stamp and the trace
checks. The run exits 1 when any result check fails.

An operation's cost is the CPU time (user + system) that this Python
process, the JVM's application threads and the Python workers spend while
it runs, read from ``/proc``. On a shared virtual machine the hypervisor steals a share of
the cores that changes from one run to the next (0 to 35% on 4 vCPUs), and
wall times stretch with it by more than that share, as every hand-off
between threads waits for a stolen core. CPU time, from which the kernel
leaves stolen time out, moves about half as much (busy neighbours still
slow the cores down). The JVM's JIT-compiler and garbage-collector threads
are left out as well: they run when counters and heap occupancy say so,
not when the operation that caused the work does. The JVM runs with C1
only (see set_up). Wall times, JIT and GC CPU and peak memory are per-layer
metrics.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: median wall time of the set-ups after the first
  (``get_spark`` + warm-up in the running JVM; the first one, which
  launches the JVM, is the per-layer ``session.cold_start_s``);
- ``pass_cpu_s``: CPU seconds of a typical pass -- the sum over operations
  of each operation's median over the timed passes;
- ``op_cpu_p50_s``: median over operations of each one's median (the
  median of all samples would jump between the clusters of cheap and dear
  operations from run to run);
- ``op_cpu_tail_s``: the highest percentile of all per-operation CPU times
  with at least ten samples beyond it (p90 below 20 samples), recorded with
  its sample count;
- ``ingest_mb_per_cpu_s``: MB of source files / median CPU seconds of the
  operations that load them (the CSV ingest on frames, every registry query
  on curation);
- ``egress_mb_per_cpu_s``: MB of results (as pandas frames, from the
  checked pass) / median CPU seconds of the operations that produce them.

``--trace 1`` reports the per-layer metrics: phase times and job counts
timed around the program's public calls, Spark's stage, SQL-plan and
executor counters over each operation, streaming progress reports, the
wall times and peak memory of the untraced passes, and the cold start.
Traced and untraced timed passes alternate, so the run also reports the
tracing overhead; it checks that per-operation task time adds up to the
executor total and that the exact counts repeat between the two traced
passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

import pandas as pd

import ops as ops_mod
import probes

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("frames", "curation")
SETUPS = 4
WARM_PASSES = 1  # untimed: it checks every result and warms the JIT and the Python workers
TIMED_PASSES = 3  # at least; in a traced run: traced, untraced, traced, ...


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def sandbox(workload: str, seed: int) -> str:
    """A scratch working directory inside the checkout for everything the
    run writes; Python workers find the package through PYTHONPATH."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    for sub in ("tmp", "jvm-tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)
    return work


class Ctx:
    """What the operations share: the session, the program's modules and
    the generated inputs (fields are set by ops.prepare_*)."""


class OpRecord:
    def __init__(self, name: str, pass_no: int):
        self.name, self.pass_no = name, pass_no
        self.phases: list[tuple[str, float, float, int]] = []
        self.to_pandas_s = 0.0
        self.layers: dict = {}
        self.stream: dict = {}
        self.error: str | None = None
        self.result_mb = 0.0
        self.t0 = self.t1 = 0.0
        self.cpu: dict[str, float] = {}  # CPU seconds: app, jit, gc (probes.tree_cpu_s)
        self.steal = 0.0  # the host's steal share while it ran

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def phase_s(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _ in self.phases if n == name)

    def phase_jobs(self, name: str) -> int:
        return sum(j for n, _, _, j in self.phases if n == name)


class Runner:
    def __init__(self, args, ctx, ops_first, ops_rest, probe, listener):
        import numpy as np

        self.args, self.ctx, self.probe, self.listener = args, ctx, probe, listener
        self.first, self.rest = ops_first, ops_rest
        self.rng = np.random.default_rng(args.seed)
        self.records: list[OpRecord] = []
        self.passes: list[dict] = []
        self.spans: list[dict] = []
        self.failures: list[str] = []
        self.traced = False
        self.current: OpRecord | None = None
        self.in_compute = False
        self.result_mb: dict[str, float] = {}  # per operation, from its fetched result

    # -- spans and phases ------------------------------------------------
    def span(self, name, t0, t1, parent=None, **attrs) -> int:
        if self.traced:
            self.spans.append(dict(id=len(self.spans), name=name, start=t0, end=t1,
                                   parent=parent, run=os.getpid(), **attrs))
        return len(self.spans) - 1

    @contextmanager
    def phase(self, name: str):
        rec = self.current
        j0 = self.probe.dag.nextJobId() if self.traced else 0
        self.in_compute = name == "core.compute"
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.in_compute = False
            jobs = self.probe.dag.nextJobId() - j0 if self.traced else 0
            rec.phases.append((name, t0, t1, jobs))

    def note_to_pandas(self, seconds: float) -> None:
        if self.in_compute and self.current is not None:
            self.current.to_pandas_s += seconds

    # -- one operation ---------------------------------------------------
    def run_op(self, op, pass_no: int, check: bool) -> OpRecord:
        rec = OpRecord(op.name, pass_no)
        self.current = rec
        mark = self.probe.mark() if self.traced else None
        rdds = mark["rdds"] if mark else self.probe.persisted()
        self.ctx.spark.sparkContext.setJobGroup(
            f"perfbench-{self.args.workload}-{pass_no}-{op.name}", op.name)
        smark = self.listener.mark()
        tmp = set(os.listdir(os.environ["TMPDIR"]))
        cpu0 = probes.tree_cpu_s()
        host0 = probes.cpu_stat()
        rec.t0 = time.perf_counter()
        try:
            result = op.run(self.ctx, self.phase, check)
        except Exception as exc:  # noqa: BLE001 -- count it, keep the loop going
            result, rec.error = None, f"{type(exc).__name__}: {exc}"[:300]
        rec.t1 = time.perf_counter()
        rec.steal = probes.cpu_shares(host0, probes.cpu_stat())["steal_share"]
        rec.cpu = {k: v - cpu0[k] for k, v in probes.tree_cpu_s().items()}
        self.current = None
        if self.traced and rec.error is None:
            rec.layers = self.probe.window(mark, self.probe.mark())
        self.probe.drain()
        rec.stream = self.listener.window(smark)
        if rec.error is None:
            if op.name == "ingest":
                rec.layers["written_mb"] = _du_mb(self.ctx.parquet_dir)
            if check:
                try:
                    rec.error = op.check(self.ctx, result)
                except Exception as exc:  # noqa: BLE001
                    rec.error = f"check raised {type(exc).__name__}: {exc}"[:300]
            if isinstance(result, pd.DataFrame):
                self.result_mb[op.name] = ops_mod.result_mb(result)
            rec.result_mb = self.result_mb.get(op.name, 0.0)
        if rec.error:
            self.failures.append(f"pass {pass_no} {op.name}: {rec.error}")
        self.ctx.spark.catalog.clearCache()
        self.probe.release_new_rdds(rdds)
        for entry in set(os.listdir(os.environ["TMPDIR"])) - tmp:
            shutil.rmtree(os.path.join(os.environ["TMPDIR"], entry), ignore_errors=True)
        self.records.append(rec)
        return rec

    def run_pass(self, pass_no: int, traced: bool, check: bool) -> dict:
        self.traced = traced
        order = list(self.rng.permutation(len(self.rest)))
        ops = ([self.first] if self.first else []) + [self.rest[i] for i in order]
        totals = self.probe.executor_totals() if traced else None
        mark = self.probe.mark() if traced else None
        t0 = time.perf_counter()
        recs = [self.run_op(op, pass_no, check) for op in ops]
        t1 = time.perf_counter()
        info = {"pass": pass_no, "traced": traced, "wall": sum(r.wall for r in recs),
                "records": recs}
        if traced:
            # the whole pass, gaps between operations included
            info["stage_task_ms"] = self.probe.stages(mark, self.probe.mark())["task_ms"]
            after = self.probe.executor_totals()
            info["executor"] = {k: after[k] - totals[k] for k in after}
            pid = self.span("pass", t0, t1, pass_no=pass_no)
            for r in recs:
                oid = self.span(r.name, r.t0, r.t1, parent=pid, pass_no=pass_no)
                for n, a, b, jobs in r.phases:
                    self.span(n, a, b, parent=oid, jobs=jobs)
        self.passes.append(info)
        return info


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def warm_up(spark) -> None:
    """One aggregate, shuffle join and Arrow fetch, all inside the JVM."""
    df = spark.range(20_000).selectExpr("id % 97 AS k", "id AS v")
    df.groupBy("k").count().join(df, "k").toPandas()


def set_up(work: str) -> tuple[object, list[tuple[float, float]]]:
    """Start the session SETUPS times (stopping it in between); returns
    the last session and each set-up's (start_s, warmup_s)."""
    from pandasql_spark.session import get_spark

    # -XX:-UsePerfData: HotSpot would map its perf-data file under /tmp.
    # -XX:TieredStopAtLevel=1: with C2, the JIT recompiles Spark's planner
    # and generated code for the whole run (7-12 CPU seconds a pass on
    # frames, as much as the operations' own), and where that lands moves
    # the operations' cost by 15-30% between runs of the same code; C1
    # settles within the checked pass and is as fast at these input sizes.
    # -XX:-UseDynamicNumberOfCompilerThreads: a compiler thread that exits
    # would take its time out of the JIT share but not out of the process
    # total, so probes.tree_cpu_s would count it as application time.
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/jvm-tmp -XX:-UsePerfData "
                                             "-XX:TieredStopAtLevel=1 "
                                             "-XX:-UseDynamicNumberOfCompilerThreads"}
    times, spark = [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", **conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        warm_up(spark)
        times.append((t1 - t0, time.perf_counter() - t1))
    return spark, times


def tear_down(spark) -> list[int]:
    """Stop the session and the JVM; wait for every child process to end.
    Returns the processes that had to be killed."""
    import signal

    from pyspark import SparkContext

    kids = probes.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    survivors = probes.wait_gone(kids, 30)
    for pid in survivors:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    probes.wait_gone(survivors, 10)
    return survivors


# -- metrics -------------------------------------------------------------------

MATERIALIZE = ("core.compute", "groupby.compute", "queries.exec")


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it): the highest percentile with at
    least ten samples beyond it, or p90 when a run has fewer than 20 samples."""
    xs = sorted(samples)
    n = len(xs)
    pct = int(100 * (n - 10) / n) if n >= 20 else 90
    q = statistics.quantiles(xs, n=100, method="inclusive")[pct - 1] if n > 1 else xs[0]
    return q, pct, sum(1 for x in xs if x > q)


def per_op(recs: list[OpRecord], cost) -> tuple[dict[str, list[float]], dict[str, float]]:
    """Each operation's samples of ``cost(record)`` and their median."""
    samples: dict[str, list[float]] = {}
    for rec in recs:
        samples.setdefault(rec.name, []).append(cost(rec))
    return samples, {n: statistics.median(v) for n, v in samples.items()}


def timed_passes(runner: Runner, traced: bool) -> list[dict]:
    return [p for p in runner.passes if p["pass"] >= WARM_PASSES and p["traced"] == traced]


def end_to_end(runner: Runner, setups, ops_all) -> tuple[dict, dict]:
    timed = timed_passes(runner, traced=False)
    recs = [r for p in timed for r in p["records"]]
    cpu, med = per_op(recs, lambda r: r.cpu["app"])
    by_name = {op.name: op for op in ops_all}
    ctx = runner.ctx

    loaders = [n for n in med if by_name[n].source_mb(ctx) > 0]
    ingest = sum(by_name[n].source_mb(ctx) for n in loaders) / sum(med[n] for n in loaders)
    producers = [n for n in med if runner.result_mb.get(n, 0) > 0]
    egress = sum(runner.result_mb[n] for n in producers) / sum(med[n] for n in producers)
    tail_s, pct, beyond = tail([r.cpu["app"] for r in recs])
    m = {
        "setup_s": (statistics.median(a + b for a, b in setups[1:]), "s"),
        "pass_cpu_s": (sum(med.values()), "s"),
        "op_cpu_p50_s": (statistics.median(med.values()), "s"),
        "op_cpu_tail_s": (tail_s, "s"),
        "ingest_mb_per_cpu_s": (ingest, "MB/cpu_s"),
        "egress_mb_per_cpu_s": (egress, "MB/cpu_s"),
    }
    extra = {"op_cpu_tail": {"percentile": pct, "samples": len(recs), "beyond": beyond},
             "op_cpu_s": {n: [round(c, 3) for c in cs] for n, cs in cpu.items()},
             "op_steal": {n: [round(r.steal, 3) for r in recs if r.name == n] for n in cpu},
             "op_wall_s": {n: [round(w, 4) for w in ws] for n, ws in per_op(recs, lambda r: r.wall)[0].items()},
             "timed_passes": len(timed), "pass_walls_s": [p["wall"] for p in timed]}
    return m, extra


def wall_and_memory(runner: Runner) -> dict:
    """Wall-time and memory metrics over the untraced timed passes."""
    timed = timed_passes(runner, traced=False)
    recs = [r for p in timed for r in p["records"]]
    _, med = per_op(recs, lambda r: r.wall)
    # each micro-batch (operation, batch number) or compute() call: its median over passes
    batches: dict[tuple[str, int], list[float]] = {}
    for r in recs:
        for i, t in enumerate(r.stream.get("trigger_s", [])):
            batches.setdefault((r.name, i), []).append(t)
    if not batches:
        for r in recs:
            if any(p[0] in MATERIALIZE for p in r.phases):
                batches.setdefault((r.name, 0), []).append(sum(r.phase_s(n) for n in MATERIALIZE))
    return {
        "wall.pass_s": (sum(med.values()), "s"),
        "wall.op_p50_s": (statistics.median(med.values()), "s"),
        "wall.op_tail_s": (tail([r.wall for r in recs])[0], "s"),
        "wall.batch_p50_s": (statistics.median(statistics.median(v) for v in batches.values()), "s"),
        "memory.peak_rss_mb": (statistics.median(p["peak_rss_mb"] for p in timed), "MB"),
    }


_LAYER_KEYS = {  # per-layer metric -> (source, key, scale)
    "operators.barriers": ("layers", "barriers", 1), "operators.cached_mb": ("layers", "cached_b", 1e-6),
    "python.sent_mb": ("layers", "py_sent_b", 1e-6), "python.returned_mb": ("layers", "py_returned_b", 1e-6),
    "python.worker_s": ("layers", "py_worker_ms", 1e-3), "python.rows": ("layers", "py_rows", 1),
    "spark.task_s": ("layers", "task_ms", 1e-3), "spark.gc_s": ("layers", "gc_ms", 1e-3),
    "spark.tasks": ("layers", "tasks", 1), "spark.stages": ("layers", "stages", 1),
    "spark.input_mb": ("layers", "input_b", 1e-6), "spark.shuffle_write_mb": ("layers", "shuffle_write_b", 1e-6),
    "spark.shuffle_read_mb": ("layers", "shuffle_read_b", 1e-6), "spark.spill_mb": ("layers", "spill_b", 1e-6),
    "spark.scan_time_s": ("layers", "scan_ms", 1e-3), "spark.exchange_mb": ("layers", "exchange_b", 1e-6),
    "spark.codegen_s": ("layers", "codegen_ms", 1e-3),
    "sources.parquet_written_mb": ("layers", "written_mb", 1),
    "streaming.batches": ("stream", "batches", 1), "streaming.input_rows": ("stream", "input_rows", 1),
    "streaming.add_batch_s": ("stream", "add_batch_s", 1), "streaming.planning_s": ("stream", "planning_s", 1),
    "streaming.wal_commit_s": ("stream", "wal_commit_s", 1), "streaming.state_rows": ("stream", "state_rows", 1),
    "streaming.queries_started": ("stream", "queries_started", 1),
}
_PHASE_KEYS = {  # per-layer metric -> (phase, seconds or jobs)
    "sources.read_csv_s": ("sources.read_csv", "s"), "sources.read_csv_jobs": ("sources.read_csv", "jobs"),
    "sources.to_parquet_s": ("sources.to_parquet", "s"), "sources.read_parquet_s": ("sources.read_parquet", "s"),
    "core.build_s": ("core.build", "s"), "core.compute_s": ("core.compute", "s"),
    "core.compute_jobs": ("core.compute", "jobs"), "groupby.compute_s": ("groupby.compute", "s"),
    "queries.build_s": ("queries.build", "s"), "queries.build_jobs": ("queries.build", "jobs"),
    "queries.exec_s": ("queries.exec", "s"), "queries.exec_jobs": ("queries.exec", "jobs"),
}
_UNIT = lambda name: ("s" if name.endswith("_s") or name == "driver.s" else  # noqa: E731
                      "MB" if name.endswith("_mb") else "count")


def op_layers(r: OpRecord, cores: int) -> dict:
    out = {}
    for name, (src, key, scale) in _LAYER_KEYS.items():
        out[name] = getattr(r, src).get(key, 0) * scale
    for name, (phase, kind) in _PHASE_KEYS.items():
        out[name] = r.phase_s(phase) if kind == "s" else r.phase_jobs(phase)
    out["core.to_pandas_s"] = r.to_pandas_s
    out["jvm.jit_cpu_s"], out["jvm.gc_cpu_s"] = r.cpu["jit"], r.cpu["gc"]
    out["core.result_mb"] = r.result_mb if any(p[0].startswith(("core.", "groupby."))
                                               for p in r.phases) else 0.0
    out["driver.s"] = r.wall - out["spark.task_s"] / cores
    return out


EXACT = ("queries.build_jobs", "queries.exec_jobs", "spark.input_mb", "spark.shuffle_write_mb",
         "spark.shuffle_read_mb", "python.sent_mb", "core.result_mb")


def per_layer(runner: Runner, setups, cores: int) -> tuple[dict, dict]:
    traced, plain = timed_passes(runner, traced=True), timed_passes(runner, traced=False)
    sums = []
    for p in traced:
        per_op = [op_layers(r, cores) for r in p["records"]]
        sums.append({k: sum(o[k] for o in per_op) for k in per_op[0]})
    m = {k: (statistics.median(s[k] for s in sums), _UNIT(k)) for k in sums[0]}
    m["session.start_s"] = (statistics.median(a for a, _ in setups[1:]), "s")
    m["session.warmup_s"] = (statistics.median(b for _, b in setups[1:]), "s")
    m["session.cold_start_s"] = (sum(setups[0]), "s")
    m.update(wall_and_memory(runner))
    overhead = (statistics.median(p["wall"] for p in traced)
                - statistics.median(p["wall"] for p in plain))
    m["trace.overhead_s"] = (overhead, "s")

    by_op: dict[str, list[dict]] = {}
    for r in (r for p in traced for r in p["records"]):
        by_op.setdefault(r.name, []).append(dict(op_layers(r, cores), wall_s=r.wall))
    ops_detail = {n: {k: statistics.median(v[k] for v in vs) for k in vs[0]} for n, vs in by_op.items()}

    recon = []  # per traced pass: sum over operations / the same counter over the whole pass
    for p in traced:
        whole = dict(p["executor"], task_ms=p["stage_task_ms"])
        ratios = {}
        for key, total in whole.items():
            per_op = sum(r.layers.get(key, 0) for r in p["records"])
            if total > 0:
                ratios[key] = round(per_op / total, 4)
        recon.append(ratios)
    first = {r.name: op_layers(r, cores) for r in traced[0]["records"]}
    again = {r.name: op_layers(r, cores) for r in traced[1]["records"]}
    mismatches = [f"{n}.{k}: {first[n][k]} != {again[n][k]}"
                  for n in first for k in EXACT if first[n][k] != again[n][k]]
    checks = {
        "reconciliation": {
            "per_op_over_pass": recon,
            "bases": "task_ms: the pass's stages; input_b, shuffle_*_b: executor totals",
            "ok": all(abs(x - 1) <= 0.10 for ratios in recon for x in ratios.values())},
        "exact_counts": {"compared": "first vs second traced pass", "ok": not mismatches,
                         "mismatches": mismatches[:20]},
        "trace_overhead_s": overhead,
    }
    return m, {"ops": ops_detail, "checks": checks}


# -- main ----------------------------------------------------------------------

def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pandasql_spark", "__init__.py")):
        print(f"perfbench: no pandasql_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpu0 = probes.cpu_stat()
    time.sleep(0.25)
    start_noise = probes.cpu_shares(cpu0, probes.cpu_stat())
    work = sandbox(args.workload, args.seed)
    try:
        return run(args, work, start_noise)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, start_noise: dict) -> int:
    import pandasql_spark as ps
    from pandasql_spark.queries import REGISTRY

    ctx = Ctx()
    ctx.ps, ctx.registry = ps, REGISTRY
    if args.workload == "frames":
        ops_mod.prepare_frames(ctx, work, args.seed)
        first, rest = ops_mod.frames_ops()
    else:
        ops_mod.prepare_corpus(ctx, work)
        first = None
        rest = ops_mod.registry_ops(REGISTRY, ops_mod.CURATION)
    ops_all = ([first] if first else []) + rest

    stamps = {"prepared": time.perf_counter()}
    spark, setups = set_up(work)
    stamps["set_up"] = time.perf_counter()
    ctx.spark = spark
    cores = spark.sparkContext.defaultParallelism
    probe = probes.SparkProbe(spark)
    listener = probes.BatchListener()
    spark.streams.addListener(listener)
    runner = Runner(args, ctx, first, rest, probe, listener)

    df_cls = type(spark.range(1))
    raw_to_pandas = df_cls.toPandas

    def timed_to_pandas(self):
        t0 = time.perf_counter()
        try:
            return raw_to_pandas(self)
        finally:
            runner.note_to_pandas(time.perf_counter() - t0)

    if args.trace:
        df_cls.toPandas = timed_to_pandas
    try:
        runner.run_pass(0, traced=False, check=True)
        stamps["warmed"] = time.perf_counter()
        cpu0 = probes.cpu_stat()
        t0 = time.perf_counter()
        n = 0
        # traced runs alternate traced and untraced timed passes; only they
        # sample memory, whose sampler thread would add to the CPU times
        with probes.RssSampler(0.2) if args.trace else nullcontext() as rss:
            while n < TIMED_PASSES or time.perf_counter() - t0 < args.seconds:
                if rss:
                    rss.take_peak()
                info = runner.run_pass(WARM_PASSES + n, traced=bool(args.trace) and n % 2 == 0,
                                       check=False)
                if rss:
                    info["peak_rss_mb"] = rss.take_peak()
                n += 1
        window_noise = probes.cpu_shares(cpu0, probes.cpu_stat())
    finally:
        df_cls.toPandas = raw_to_pandas
        spark.streams.removeListener(listener)
        stamps["measured"] = time.perf_counter()
        killed = tear_down(spark)
        stamps["torn_down"] = time.perf_counter()

    e2e, extra = end_to_end(runner, setups, ops_all)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": cores, "noise": {"start": start_noise, "window": window_noise},
              "setups_s": setups, "stamps_s": {k: round(v - T0, 3) for k, v in stamps.items()},
              "failures": runner.failures[:20], "killed": killed, **extra}
    if args.trace:
        metrics, layer_detail = per_layer(runner, setups, cores)
        detail.update(layer_detail)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        out = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl")
        with open(out, "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in runner.spans)
        detail["spans"] = os.path.relpath(out, ROOT)
    else:
        metrics = e2e
    failed = sum(1 for r in runner.records if r.error)
    result = {
        "correct": failed == 0,
        "attempted": len(runner.records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(detail, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Counters read from outside the program: Spark's in-process status
stores (over py4j, with the UI off), a public StreamingQueryListener, and
``/proc``. Nothing here changes what the program runs."""

from __future__ import annotations

import os
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6
# counters both a stage and the executor summary sum over finished tasks
EXECUTOR_KEYS = ("input_b", "shuffle_read_b", "shuffle_write_b")

# SQL plan-node metrics summed per operation: (node name test, metric name) -> key
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_SQL_METRICS = {
    "scan time": "scan_ms",
    "data size": "exchange_b",  # of shuffle exchanges only
    "duration": "codegen_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
    "time to run Python workers": "py_worker_ms",
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric ("1,234", "12 ms", or the
    "total (min, med, max ...)\\n1.2 KiB (...)" form) into bytes / ms / count."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    num = float(parts[0].replace(",", ""))
    return num * _UNITS.get(parts[1], 1) if len(parts) > 1 else num


class SparkProbe:
    """Snapshots of one SparkContext's job, stage, SQL-execution and
    executor counters, and per-window sums over what ran in between.

    Task and GC time are summed over the stages of a window (run,
    deserialize and result-serialize time of every task). The executor
    summary cannot stand in for them: on a local driver its
    ``totalDuration`` grows with wall time even while no task runs, and its
    GC time includes collections outside tasks. Its input and shuffle bytes
    are sums over finished tasks, so they bracket a pass and check the
    per-window sums."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc
        self.sc = self.jsc.sc()
        self.dag = self.sc.dagScheduler()
        self.store = self.sc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until listener events of finished work reach the stores."""
        self.sc.listenerBus().waitUntilEmpty()

    def executor_totals(self) -> dict:
        self.drain()
        execs = self.store.executorList(True)
        tot = dict.fromkeys(EXECUTOR_KEYS, 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["input_b"] += e.totalInputBytes()
            tot["shuffle_read_b"] += e.totalShuffleRead()
            tot["shuffle_write_b"] += e.totalShuffleWrite()
        return tot

    def mark(self) -> dict:
        """Cheap position marker: next job / stage id, SQL executions seen,
        and the ids of RDDs persisted so far."""
        return {
            "job": self.dag.nextJobId(),
            "stage": self.dag.nextStageId(),
            "sql": self.sql_store.executionsCount(),
            "rdds": self.persisted(),
        }

    def persisted(self) -> set:
        return set(self.jsc.getPersistentRDDs().keySet().toArray())

    def stages(self, start: dict, end: dict) -> dict:
        """Sums over the stages submitted between two marks."""
        self.drain()
        return self._stages(start["stage"], end["stage"])

    def window(self, start: dict, end: dict) -> dict:
        """Sums over the stages and SQL executions submitted between two
        marks, plus the RDDs persisted in between (still cached at ``end``)."""
        self.drain()
        out = {"jobs": end["job"] - start["job"]}
        out.update(self._stages(start["stage"], end["stage"]))
        out.update(self._sql(start["sql"], end["sql"]))
        new = end["rdds"] - start["rdds"]
        cached = 0
        for info in self.sc.getRDDStorageInfo():
            if info.id() in new:
                cached += info.memSize() + info.diskSize()
        out["barriers"] = len(new)
        out["cached_b"] = cached
        return out

    def _stages(self, lo: int, hi: int) -> dict:
        keys = ("stages", "tasks", "spill_b", "task_ms", "gc_ms") + EXECUTOR_KEYS
        acc = dict.fromkeys(keys, 0)
        for sid in range(lo, hi):
            try:
                attempts = self.store.stageData(sid, False, None, False, None)
            except Exception:  # noqa: BLE001 -- stage never registered or evicted
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.numCompleteTasks() == 0:
                    continue  # skipped (reused) stage: ran no tasks
                acc["stages"] += 1
                acc["tasks"] += s.numCompleteTasks()
                acc["spill_b"] += s.diskBytesSpilled()
                acc["task_ms"] += (s.executorRunTime() + s.executorDeserializeTime()
                                   + s.resultSerializationTime())
                acc["gc_ms"] += s.jvmGcTime()
                acc["input_b"] += s.inputBytes()
                acc["shuffle_read_b"] += s.shuffleReadBytes()
                acc["shuffle_write_b"] += s.shuffleWriteBytes()
        return acc

    def _sql(self, lo: int, hi: int) -> dict:
        acc = dict.fromkeys(list(_SQL_METRICS.values()) + ["py_rows"], 0.0)
        if hi <= lo:
            return acc
        execs = self.sql_store.executionsList(lo, hi - lo)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            wanted = {}
            nodes = self.sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _SQL_METRICS.get(m.name())
                    if m.name() == "number of output rows" and _PYTHON_NODE.search(name):
                        key = "py_rows"
                    elif key == "exchange_b" and ("Exchange" not in name or "Broadcast" in name):
                        key = None
                    if key:
                        wanted[m.accumulatorId()] = key
            if not wanted:
                continue
            it = self.sql_store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                key = wanted.get(kv._1())
                if key:
                    acc[key] += _metric_value(kv._2())
        return acc

    def release_new_rdds(self, before: set) -> None:
        """Unpersist RDDs persisted after ``before`` was taken (lineage
        barriers that clearCache() does not drop)."""
        cur = self.jsc.getPersistentRDDs()
        for rid in cur.keySet().toArray():
            if rid not in before:
                rdd = cur.get(rid)
                if rdd is not None:
                    rdd.unpersist(True)


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch progress report and query start."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def mark(self) -> tuple[int, int]:
        return len(self.progress), self.started

    def window(self, start: tuple[int, int]) -> dict:
        batches = self.progress[start[0]:]
        dur = lambda k: sum(b["duration_ms"].get(k, 0) for b in batches) / 1e3  # noqa: E731
        return {
            "batches": len(batches),
            "trigger_s": [b["duration_ms"].get("triggerExecution", 0) / 1e3 for b in batches],
            "input_rows": sum(b["input_rows"] for b in batches),
            "add_batch_s": dur("addBatch"),
            "planning_s": dur("queryPlanning"),
            "wal_commit_s": dur("walCommit"),
            "state_rows": sum(b["state_rows"] for b in batches),
            "queries_started": self.started - start[1],
        }


# -- /proc -------------------------------------------------------------------

def cpu_stat() -> tuple[float, float, float]:
    """(busy, steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [float(x) for x in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def cpu_shares(a: tuple, b: tuple) -> dict:
    """Busy and steal fractions of capacity between two cpu_stat() reads,
    and steal as a share of the CPU that was wanted (busy + steal)."""
    busy, steal, total = (y - x for x, y in zip(a, b))
    return {
        "busy_frac": busy / max(total, 1e-9),
        "steal_frac": steal / max(total, 1e-9),
        "steal_share": steal / max(busy + steal, 1e-9),
    }


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the parent links in /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    found, todo = [], [pid]
    while todo:
        pid = todo.pop()
        kids = [c for c, p in parent.items() if p == pid]
        found += kids
        todo += kids
    return found


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


# The JVM's own service threads, by thread name: HotSpot's JIT compilers
# ("C1 CompilerThre", "C2 CompilerThre") and code-cache sweeper; G1's
# parallel, concurrent and refinement workers and the VM thread that runs
# its safepoint operations.
JVM_SERVICE = {
    "jit": re.compile(r"^C\d CompilerThre|^Sweeper thread"),
    "gc": re.compile(r"^GC Thread|^G1 |^VM Thread$"),
}


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    head, rest = text.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def tree_cpu_s(pid: int | None = None) -> dict[str, float]:
    """CPU seconds (user + system) used so far by ``pid`` -- this process by
    default -- and every live process below it, reaped children included:
    ``app`` for the program's own threads, and ``jit`` and ``gc`` for the
    JVM's service threads (see JVM_SERVICE). The kernel leaves time stolen
    by the hypervisor out of these counters. Service threads must not exit,
    or their time would move to ``app``: the JVM is started with a fixed
    number of compiler threads, and G1 never retires its workers."""
    root = os.getpid() if pid is None else pid
    ticks = dict.fromkeys(("app", *JVM_SERVICE), 0)
    for p in [root] + descendants(root):
        try:
            comm, fields = _stat(f"/proc/{p}/stat")
            tids = os.listdir(f"/proc/{p}/task") if comm == "java" else []
        except OSError:  # the process has just ended
            continue
        ticks["app"] += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        for tid in tids:
            try:
                name, tf = _stat(f"/proc/{p}/task/{tid}/stat")
            except OSError:  # the thread has just ended
                continue
            for kind, pattern in JVM_SERVICE.items():
                if pattern.match(name):
                    used = int(tf[11]) + int(tf[12])
                    ticks[kind] += used
                    ticks["app"] -= used
    return {k: v * _TICK_S for k, v in ticks.items()}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the resident memory summed over this process -- the driver --
    and its descendants (the JVM and the Python workers), sampled on a
    background thread while the ``with`` block runs. ``take_peak()`` returns
    the peak since the previous call and starts a new one."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        mb = sum(_rss_kb(p) for p in [me] + descendants(me)) * 1024 / MB
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)

    def take_peak(self) -> float:
        self._sample()
        with self._lock:
            peak, self.peak_mb = self.peak_mb, 0.0
        return peak

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until the given processes have exited; returns survivors."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _status_state(p) != "Z"]
        if alive:
            time.sleep(0.1)
    return alive


def _status_state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"

"""Measurement probes that sit outside the program under test.

- ProcTree: CPU seconds and peak resident memory of the Spark driver JVM and
  its Python workers, read from /proc. Only this process's own JVM child and
  that JVM's descendants are counted, so other tenants' processes never
  enter the figures. JVM CPU leaves out the JIT compiler threads.
- SparkStores: Spark's own SQL and application status stores, read through
  the JVM gateway: per-plan-node row counts, bytes sent to Python workers,
  Python run time, scans, stages, tasks and shuffle bytes.
- Spans: an in-memory span recorder, written out as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _stat_fields(pid: str) -> tuple[str, str, list[str]] | None:
    """(ppid, comm, fields after comm) of /proc/<pid>/stat, or None if gone."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    head, rest = raw.rsplit(")", 1)
    parts = rest.split()
    return parts[1], head.split("(", 1)[1], parts


class ProcTree:
    """Samples this process's tree: JVM = this process's java child,
    Python workers = every descendant of that JVM (pyspark.daemon and the
    workers it forks). CPU is utime+stime; a dead worker's CPU survives in
    its parent's cutime+cstime once reaped, so summing all four over the
    live workers counts each worker exactly once. JVM CPU leaves out the
    JIT compiler threads: they compile for many passes after the warm-up
    (about a third of the JVM's CPU in the first timed passes, still
    falling), so with them a pass's CPU would measure how far the JIT has
    got. Peak RSS is the sum of each process's VmHWM. Both are tracked by
    a background thread because workers and compiler threads may exit
    before the run ends."""

    INTERVAL_S = 0.5  # VmHWM and compiler-thread sampling period
    JIT_THREAD = "CompilerThre"  # "C1/C2 CompilerThre[ad]", cut to 15 characters

    def __init__(self):
        self._me = str(os.getpid())
        self._hz = os.sysconf("SC_CLK_TCK")
        self._hwm_kb: dict[str, int] = {}
        self._jit_ticks: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> tuple[list[tuple[str, list[str]]], list[tuple[str, list[str]]]]:
        procs: dict[str, tuple[str, str, list[str]]] = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat_fields(pid)
                if st is not None:
                    procs[pid] = st
        kids: dict[str, list[str]] = {}
        for pid, (ppid, _, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        jvms = [p for p in kids.get(self._me, []) if procs[p][1].startswith("java")]
        workers: list[tuple[str, list[str]]] = []
        stack = [c for j in jvms for c in kids.get(j, [])]
        while stack:
            pid = stack.pop()
            workers.append((pid, procs[pid][2]))
            stack.extend(kids.get(pid, []))
        return [(j, procs[j][2]) for j in jvms], workers

    def _jit(self, jvms) -> int:
        """Clock ticks of the JVMs' compiler threads so far. The JVM starts
        and retires compiler threads as its queue grows and shrinks, and a
        retired thread's CPU stays in the process's total, so each thread
        keeps its last reading."""
        for pid, _ in jvms:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                st = _stat_fields(f"{pid}/task/{tid}")
                if st is not None and self.JIT_THREAD in st[1]:
                    with self._lock:
                        self._jit_ticks[tid] = int(st[2][11]) + int(st[2][12])
        with self._lock:
            return sum(self._jit_ticks.values())

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU seconds without the JIT compiler threads, Python-worker
        CPU seconds) consumed so far."""
        jvms, workers = self._tree()
        jvm = (sum(int(f[11]) + int(f[12]) for _, f in jvms) - self._jit(jvms)) / self._hz
        py = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for _, f in workers) / self._hz
        return jvm, py

    def sample(self) -> None:
        jvms, workers = self._tree()
        self._jit(jvms)
        for pid, _ in jvms + workers:
            m = re.search(r"VmHWM:\s+(\d+) kB", _read(f"/proc/{pid}/status") or "")
            if m:
                with self._lock:
                    self._hwm_kb[pid] = max(self._hwm_kb.get(pid, 0), int(m.group(1)))

    def peak_rss_mb(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._hwm_kb.values()) / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self) -> ProcTree:
        self._thread = threading.Thread(target=self._loop, name="proctree", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float | None:
    """Parse one SQL metric as the status store formats it: a plain count
    ("20,000"), or a per-task summary whose total is the first figure of its
    second line ("total (min, med, max ...)\\n1648.2 KiB (...)"). Averaged
    metrics carry no total ("(min, med, max ...):\\n(1.6, ...)"): None."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class SparkStores:
    """Read-only view of the session's SQL status store (per executed plan
    node metrics) and application status store (stages and tasks)."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores reflect every job that has finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(last SQL execution id, last stage id) seen so far."""
        self.drain()
        last_exec = -1
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            last_exec = max(last_exec, it.next().executionId())
        last_stage = max((s["id"] for s in self._stages()), default=-1)
        return last_exec, last_stage

    def executions_since(self, mark: tuple[int, int]) -> list[list[tuple[str, dict[str, float]]]]:
        """Plan nodes of every SQL execution after `mark`:
        one [(node name, {metric name: value})] list per execution."""
        self.drain()
        out = []
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            eid = it.next().executionId()
            if eid <= mark[0]:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = []
            ni = self._sql.planGraph(eid).allNodes().iterator()
            while ni.hasNext():
                node = ni.next()
                metrics = {}
                mi = node.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    v = values.get(m.accumulatorId())
                    value = metric_value(v.get()) if v.isDefined() else None
                    if value is not None:
                        metrics[m.name()] = value
                nodes.append((node.name(), metrics))
            out.append(nodes)
        return out

    def _stages(self) -> list[dict]:
        store = self._jsc.statusStore()
        empty = self._jvm.java.util.ArrayList()
        stages = store.stageList(empty, False, False, self._gw.new_array(self._jvm.double, 0), empty)
        out = []
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            out.append({
                "id": s.stageId(),
                "status": s.status().toString(),
                "tasks": s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks(),
                "failed_tasks": s.numFailedTasks(),
                "shuffle_bytes": s.shuffleWriteBytes(),
            })
        return out

    def stages_since(self, mark: tuple[int, int]) -> list[dict]:
        """Stages that ran after `mark` (skipped stages excluded)."""
        self.drain()
        return [s for s in self._stages() if s["id"] > mark[1] and s["status"] != "SKIPPED"]


def node_sum(executions, name_prefix: str, metric: str) -> float:
    """Sum of `metric` over plan nodes whose name starts with `name_prefix`."""
    return sum(
        m.get(metric, 0.0)
        for nodes in executions
        for name, m in nodes
        if name.startswith(name_prefix)
    )


def node_count(executions, name_prefix: str) -> int:
    return sum(1 for nodes in executions for name, _ in nodes if name.startswith(name_prefix))


class Spans:
    """In-memory spans: name, start, end, parent span id and pass id."""

    def __init__(self):
        self._spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, pass_id: str):
        sid = len(self._spans)
        rec = {
            "id": sid,
            "name": name,
            "pass": pass_id,
            "parent": self._open[-1] if self._open else None,
            "start_s": time.perf_counter() - self._t0,
            "end_s": None,
        }
        self._spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self._spans, f, indent=1)

"""Measurements taken from outside the engine: process-tree memory and
CPU from ``/proc``, Spark job/stage/task counts from the status
tracker, JVM garbage collection from its MX beans, SQL metrics from an
executed plan, and in-memory spans for the traced run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(comm, ppid, cpu seconds incl. reaped children) of a process."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    comm = s[s.index("(") + 1 : s.rindex(")")]
    fields = s[s.rindex(")") + 2 :].split()
    cpu = sum(int(v) for v in fields[11:15]) / _TICK
    return comm, int(fields[1]), cpu


def process_tree(root: int) -> dict[int, tuple[str, float]]:
    """pid -> (comm, cpu s) for ``root`` and all its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _stat(int(name))
            except (OSError, ValueError):
                continue
    tree, frontier = {}, [root]
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in tree:
            tree[pid] = (procs[pid][0], procs[pid][2])
            frontier.extend(children.get(pid, ()))
    return tree


def _hwm_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


class TreeMonitor:
    """Peak resident memory and CPU time of this process's tree.

    A background thread samples once a second and keeps, per pid, the
    kernel's own peak (``VmHWM``), so processes that exit between
    samples still count; the peak of the tree is the sum of those.
    """

    def __init__(self, interval: float = 1.0):
        self.root = os.getpid()
        self.interval = interval
        self.hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        for pid in process_tree(self.root):
            try:
                v = _hwm_bytes(pid)
            except OSError:
                continue
            with self._lock:
                self.hwm[pid] = max(self.hwm.get(pid, 0), v)

    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return sum(self.hwm.values()) / 2**20

    def peak_by_kind(self) -> dict[str, float]:
        """Peak MB per process kind (driver, jvm, worker) for the report."""
        comm = {pid: c for pid, (c, _) in process_tree(self.root).items()}
        out: dict[str, float] = {}
        with self._lock:
            for pid, v in self.hwm.items():
                kind = "driver" if pid == self.root else "jvm" if comm.get(pid) == "java" else "worker"
                out[kind] = out.get(kind, 0.0) + v / 2**20
        return out

    def cpu(self) -> tuple[float, float]:
        """(JVM cpu s, python worker cpu s) of the tree right now."""
        jvm = py = 0.0
        for pid, (comm, cpu) in process_tree(self.root).items():
            if pid == self.root:
                continue
            if comm == "java":
                jvm += cpu
            elif comm.startswith("python"):
                py += cpu
        return jvm, py


def gc_totals(spark) -> tuple[float, int]:
    """(collection ms, collection count) summed over the JVM's GC beans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    ms = n = 0
    for i in range(beans.size()):
        b = beans.get(i)
        ms += max(0, b.getCollectionTime())
        n += max(0, b.getCollectionCount())
    return float(ms), int(n)


def job_counts(spark, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, failed tasks) Spark ran under a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is None:
                continue
            stages += 1
            tasks += s.numTasks
            failed += s.numFailedTasks
    return len(jobs), stages, tasks, failed


# plan nodes that wrap their subtree outside ``children()``, and the
# method that returns it
_WRAPPERS = {
    "AdaptiveSparkPlan": "executedPlan",
    "ShuffleQueryStage": "plan",
    "BroadcastQueryStage": "plan",
    "ResultQueryStage": "plan",
    "TableCacheQueryStage": "plan",
    "ReusedExchange": "child",
}


def plan_nodes(jplan) -> list[tuple[str, str, dict[str, int]]]:
    """(node name, node string, {metric: value}) for every node of an
    executed physical plan, descending through adaptive wrappers and
    query stages."""
    out, stack, seen = [], [jplan], set()
    while stack:
        node = stack.pop()
        key = node.hashCode()
        if key in seen:
            continue
        seen.add(key)
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        name = node.nodeName()
        out.append((name, node.toString(), metrics))
        inner = next((m for prefix, m in _WRAPPERS.items() if name.startswith(prefix)), None)
        if inner:
            stack.append(getattr(node, inner)())
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return out


def python_udf_metrics(nodes) -> dict[str, int]:
    """Totals of the python-evaluation metrics over all plan nodes
    (Spark's timing metrics are in ms, its size metrics in bytes)."""
    keys = {
        "pythonTotalTime": "udf.python_run_ms",
        "pythonBootTime": "udf.boot_ms",
        "pythonInitTime": "udf.init_ms",
        "pythonDataSent": "udf.bytes_sent",
        "pythonDataReceived": "udf.bytes_received",
        "pythonNumRowsReceived": "udf.rows",
    }
    out = dict.fromkeys(keys.values(), 0)
    for _, _, m in nodes:
        for k, name in keys.items():
            out[name] += m.get(k, 0)
    return out


class Tracer:
    """Spans kept in memory: name, start, end, parent, op id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int, tracing_only: bool = False):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "tracing_only": tracing_only,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def span_ms(self, name: str, op: int) -> float:
        """Total duration of the spans called ``name`` in op ``op``."""
        return sum(
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and s["op"] == op and "end" in s
        )

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if "end" in s:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i]) * 1e3
        return out

    def overhead_ms(self) -> float:
        """Time spent in spans that exist only because tracing is on."""
        return sum(
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["tracing_only"] and "end" in s
        )

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_times_ms(), **extra}, f, indent=1)

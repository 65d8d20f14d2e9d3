"""Spans and counters for the traced run, plus the memory sampler both
runs use.

Spans are recorded around the benchmark's own calls into the engine
(build, catalyst, exec, verify, pipeline stages); nothing inside the
engine is instrumented. Counts are read at the same boundaries from
Spark's public status APIs:

- the write's ``QueryExecution`` arrives through a
  ``QueryExecutionListener`` (a py4j callback); its planning tracker
  gives the Catalyst phase times and its final physical plan gives the
  SQL metrics (scans, Python nodes, files written);
- a job group per phase gives jobs, stages, tasks and the stage-level
  shuffle and spill totals from the status store;
- the JVM's MXBeans give GC time and heap peaks.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from py4j.protocol import Py4JJavaError

RSS_INTERVAL_S = 0.5


class Tracer:
    """In-memory spans: id, name, op id, parent id, start, end
    (``time.perf_counter`` seconds). Written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None) -> Iterator[dict[str, Any]]:
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "op": op, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict[str, Any]) -> None:
        """Record a span measured elsewhere (Catalyst phases) as a child
        of ``parent``."""
        self.spans.append({"id": len(self.spans), "name": name, "op": parent["op"],
                           "parent": parent["id"], "start": start, "end": end})

    def self_times(self, keep: Callable[[dict], bool]) -> dict[str, float]:
        """Per span name, over the spans ``keep`` accepts: total
        duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in filter(keep, self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers.

    The JVM's part is the kernel's own high-water mark (``VmHWM``),
    read once at the end, so the JVM is never paused by a page-table
    walk. The workers' part is the peak, over samples taken every
    ``RSS_INTERVAL_S``, of the summed proportional set size of the
    JVM's Python descendants (the PySpark daemon and the workers it
    forks share pages, which PSS counts once). The driver's own Python
    process is left out: it also runs the benchmark's fixture writes
    and DuckDB checks."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak_bytes = 0
        self._workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _workers(self) -> list[int]:
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
            except OSError:
                continue
            parent[int(entry)] = int(tail.split()[1])
            comm[int(entry)] = head.split("(", 1)[1]
        tree = {self.jvm_pid}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        # a helper the JVM forks (chmod, bash) shares the JVM's heap
        # until it execs; it is not a Python process, so it is skipped
        return [pid for pid in tree if comm.get(pid, "").startswith("python")]

    @staticmethod
    def _proc_bytes(pid: int, file: str, field: str) -> int:
        """A ``kB`` field of ``/proc/<pid>/<file>``, in bytes."""
        try:
            with open(f"/proc/{pid}/{file}") as fh:
                for line in fh:
                    if line.startswith(field):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            pss = sum(self._proc_bytes(pid, "smaps_rollup", "Pss:") for pid in self._workers())
            self._workers_peak = max(self._workers_peak, pss)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = self._proc_bytes(self.jvm_pid, "status", "VmHWM:") + self._workers_peak


def _seq(s: Any) -> list[Any]:
    return [s.apply(i) for i in range(s.size())]


def _metrics(node: Any) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


_SCANS = ("FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec")
_WRITES = ("DataWritingCommandExec",)


def _is_python(cls: str) -> bool:
    return "Python" in cls or "Pandas" in cls or "InArrow" in cls


class SparkProbe:
    """Counters read from a live session at operation boundaries."""

    def __init__(self, spark: Any) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._lock = threading.Lock()
        self.events: list[Any] = []  # QueryExecutions, in completion order
        ensure_callback_server_started(self.sc._gateway)
        probe = self

        class _Listener:
            def onSuccess(self, func_name: str, qe: Any, duration_ns: int) -> None:
                probe._record(qe)

            def onFailure(self, func_name: str, qe: Any, exc: Any) -> None:
                probe._record(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = _Listener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._mx = self._jvm.java.lang.management.ManagementFactory

    def _record(self, qe: Any) -> None:
        with self._lock:
            self.events.append(qe)

    def mark(self) -> int:
        with self._lock:
            return len(self.events)

    def drain(self) -> None:
        """Wait until every posted event, ours included, is handled."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def since(self, mark: int) -> list[Any]:
        """QueryExecutions finished since ``mark`` (call ``drain``
        first: the listener bus is asynchronous)."""
        with self._lock:
            return self.events[mark:]

    @staticmethod
    def phases(qe: Any) -> dict[str, tuple[float, float]]:
        """Catalyst phase -> (start, end), epoch seconds."""
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = (kv._2().startTimeMs() / 1e3, kv._2().endTimeMs() / 1e3)
        return out

    def plan_stats(self, qe: Any) -> dict[str, float]:
        """Walk the final physical plan of one execution: node count,
        scans, cache scans, Python nodes and their traffic, file
        writes. Reused exchanges are not entered, so nothing is
        counted twice."""
        st: dict[str, float] = defaultdict(float)
        tables: set[str] = set()
        todo = [qe.executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            st["plan_nodes"] += 1
            kids = _seq(node.children())
            if cls == "AdaptiveSparkPlanExec":
                kids = [node.executedPlan()]
            elif cls.endswith("QueryStageExec"):
                kids = [node.plan()]
            elif cls.startswith("Reused"):
                kids = []
            kids += _seq(node.subqueries())
            todo.extend(kids)
            if cls in _SCANS:
                m = _metrics(node)
                st["scans"] += 1
                st["scan_rows"] += m.get("numOutputRows", 0)
                st["scan_bytes"] += m.get("filesSize", 0)
                if cls == "BatchScanExec":
                    scan = node.scan()
                    tables.add(scan.description())
                    if scan.getClass().getSimpleName().startswith("Python"):
                        st["python_nodes"] += 1
                else:
                    tables.add(node.relation().location().rootPaths().toString())
            elif cls == "InMemoryTableScanExec":
                st["cache_scans"] += 1
            elif _is_python(cls):
                m = _metrics(node)
                st["python_nodes"] += 1
                st["python_rows_received"] += m.get("pythonNumRowsReceived", 0)
                st["python_bytes_sent"] += m.get("pythonDataSent", 0)
                st["python_bytes_received"] += m.get("pythonDataReceived", 0)
            elif cls in _WRITES:
                m = _metrics(node)
                st["files_written"] += m.get("numFiles", 0)
                st["bytes_written"] += m.get("numOutputBytes", 0)
        st["tables"] = len(tables)
        return dict(st)

    def job_stats(self, group: str) -> dict[str, float]:
        """Jobs, executed stages, tasks, failed tasks, shuffle and
        spill bytes of every job started under ``group``."""
        st: dict[str, float] = defaultdict(float)
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            st["jobs"] += 1
            info = tracker.getJobInfo(jid)
            stages.update(info.stageIds if info else [])
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            st["stages"] += 1
            st["tasks"] += sd.numTasks()
            st["failed_tasks"] += sd.numFailedTasks()
            st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            st["shuffle_read_bytes"] += sd.shuffleReadBytes()
            st["spill_bytes"] += sd.diskBytesSpilled()
        return dict(st)

    def gc_seconds(self) -> float:
        beans = self._mx.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def _heap_pools(self) -> list[Any]:
        pools = self._mx.getMemoryPoolMXBeans()
        heap = self._jvm.java.lang.management.MemoryType.HEAP
        return [p for p in (pools.get(i) for i in range(pools.size())) if p.getType() == heap]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

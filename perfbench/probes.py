"""Measurements taken from outside the engine.

CPU time comes from /proc for the benchmark's whole process tree: the
Python driver, the JVM it launches and the Python workers under the
JVM, with the JVM's JIT compiler threads read apart.  Spark-side
counters come from the JVM's management beans and from Spark's own
status store, read through the public py4j gateway.
Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import NamedTuple

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _ticks(stat: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of one /proc stat line."""
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, utime+stime+cutime+cstime in ticks)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                comm, fields = _ticks(f.read())
        except OSError:  # the process ended while we listed /proc
            continue
        table[int(entry)] = (int(fields[1]), comm, sum(int(x) for x in fields[11:15]))
    return table


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def _thread_stat(pid: int, tid: str) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/task/{tid}/stat") as f:
            return _ticks(f.read())
    except OSError:  # the thread ended while we listed it
        return None


def _jit_threads(pid: int) -> list[str]:
    """Thread ids of the JVM's JIT compiler threads ("C1/C2
    CompilerThread<n>")."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return []
    names = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15 characters
    return [tid for tid in tids if (stat := _thread_stat(pid, tid)) and stat[0].startswith(names)]


class CpuSample(NamedTuple):
    tree: float  # the whole process tree
    workers: float  # every process under the JVM: the Python workers
    jit: float  # the JVM's JIT compiler threads

    @property
    def work(self) -> float:
        """The tree without the JIT compiler threads."""
        return self.tree - self.jit


class TreeCpu:
    """CPU seconds of this process and all its descendants.

    A child that exits is reaped by its parent, whose cutime/cstime then
    carry its time, so summing all four fields over the live tree keeps
    finished Python workers in the total."""

    def __init__(self) -> None:
        self.root = os.getpid()
        # The JVM runs with a fixed set of compiler threads, so they are
        # looked up once; none exits and takes its time out of the sum.
        self._jit_tids: dict[int, list[str]] = {}

    def _jit_ticks(self, pid: int) -> int:
        if not self._jit_tids.get(pid):
            self._jit_tids[pid] = _jit_threads(pid)
        stats = [_thread_stat(pid, tid) for tid in self._jit_tids[pid]]
        return sum(int(f[11]) + int(f[12]) for _, f in filter(None, stats))

    def sample(self) -> CpuSample:
        table = _proc_table()
        tree = [self.root] + _descendants(table, self.root)
        total = sum(table[p][2] for p in tree if p in table)
        jvms = [p for p in tree if p in table and table[p][1] == "java"]
        workers = sum(table[w][2] for p in jvms for w in _descendants(table, p))
        jit = sum(self._jit_ticks(p) for p in jvms)
        return CpuSample(total / CLK_TCK, workers / CLK_TCK, jit / CLK_TCK)

    def processes(self) -> list[int]:
        return _descendants(_proc_table(), self.root)


def jvm_peak_rss_mb(pids: list[int]) -> float:
    peak = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        if "\nName:\tjava" not in "\n" + status:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                peak = max(peak, int(line.split()[1]) / 1024.0)
    return peak


class Host:
    """Steal share from /proc/stat deltas and the 1-minute loadavg at
    both ends of the run.  A contended run is flagged, never dropped."""

    def __init__(self) -> None:
        self.start_cpu = self._cpu()
        self.load_start = os.getloadavg()[0]

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def finish(self) -> dict:
        end = self._cpu()
        delta = [b - a for a, b in zip(self.start_cpu, end)]
        # user nice system idle iowait irq softirq steal (guest time is
        # already inside user/nice)
        total = sum(delta[:8]) or 1
        steal = 100.0 * delta[7] / total
        load_end = os.getloadavg()[0]
        cpus = os.cpu_count() or 1
        return {
            "steal_pct": steal,
            "loadavg_1m": self.load_start,
            "loadavg_1m_end": load_end,
            "contended": steal > 5.0 or self.load_start > cpus,
        }


class Jvm:
    """JIT and GC time from the JVM's management beans."""

    def __init__(self, spark) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def jit_ms(self) -> float:
        return float(self._jit.getTotalCompilationTime())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gcs))


STAGE_FIELDS = {
    "executor.run_s": ("executorRunTime", 1e-3),
    "executor.cpu_s": ("executorCpuTime", 1e-9),
    "executor.gc_s": ("jvmGcTime", 1e-3),
    "input.bytes": ("inputBytes", 1),
    "shuffle.read_bytes": ("shuffleReadBytes", 1),
    "shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "spill.bytes": ("diskBytesSpilled", 1),
}


class StatusStore:
    """Jobs, stages, tasks and executor totals of one Spark job group,
    read from the status store right after the group's work, before
    the retention limits can drop it."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc
        self._tracker = jsc.statusTracker()
        self._store = jsc.sc().statusStore()
        self._bus = jsc.sc().listenerBus()

    def job_ids(self, group: str) -> list[int]:
        # The store is fed by the asynchronous listener bus; without the
        # drain the last job of an op is sometimes not there yet.
        self._bus.waitUntilEmpty(60_000)
        return sorted(self._tracker.getJobIdsForGroup(group))

    def jobs_summary(self, job_ids: list[int]) -> dict[str, float]:
        out = {"spark.jobs": float(len(job_ids)), "spark.stages": 0.0, "spark.tasks": 0.0}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        stage_ids = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds())
        for sid in sorted(stage_ids):
            try:
                stage = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage never submitted has no attempt
                continue
            if str(stage.status().toString()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += stage.numCompleteTasks()
            for name, (field, scale) in STAGE_FIELDS.items():
                out[name] += getattr(stage, field)() * scale
        return out


def planning_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of the plan that was
    extracted, from its QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[f"planning.{phase}_s"] = summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0
    return out


class Tracer:
    """Spans at each call into a layer: name, start, end, parent and
    the op they belong to.  Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op"]
        self.spans.append({"name": name, "parent": parent, "op": op_id,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by the span's children."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child_time):
            key = f"self.{s['name']}_s"
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

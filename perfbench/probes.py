"""Measurement probes: the process tree's /proc counters, Spark's status
store, and in-memory spans.

Everything here reads state the system already keeps; nothing is
patched into the engine. The /proc probe covers the whole process tree
of the benchmark: the driver's Python, the Spark JVM and every Python
worker the JVM starts (live ones directly, exited ones through their
parent's reaped-children counters).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class TreeSample:
    """CPU seconds by role, resident bytes and I/O bytes of the tree."""

    driver_cpu: float = 0.0
    jvm_cpu: float = 0.0
    pyworker_cpu: float = 0.0
    rss: int = 0
    read_bytes: int = 0
    write_bytes: int = 0

    @property
    def cpu(self) -> float:
        return self.driver_cpu + self.jvm_cpu + self.pyworker_cpu


def _stat(pid: str) -> tuple[int, str, int, int, int] | None:
    """(ppid, comm, own ticks, reaped-children ticks, rss pages)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    rp = s.rfind(")")
    comm = s[s.find("(") + 1 : rp]
    f = s[rp + 2 :].split()
    return int(f[1]), comm, int(f[11]) + int(f[12]), int(f[13]) + int(f[14]), int(f[21])


def _io(pid: int) -> tuple[int, int]:
    try:
        with open(f"/proc/{pid}/io") as fh:
            kv = dict(line.split(": ") for line in fh.read().splitlines())
    except OSError:
        return 0, 0
    return int(kv["rchar"]), int(kv["wchar"])


class ProcTree:
    """Samples the benchmark's process tree from /proc."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(name)
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, st in stats.items():
            kids.setdefault(st[0], []).append(pid)
        self._stats = stats
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree.append(pid)
                todo.extend(kids.get(pid, ()))
        return tree

    def sample(self, io: bool = False) -> TreeSample:
        out = TreeSample()
        for pid in self.pids():
            _ppid, comm, own, reaped, rss = self._stats[pid]
            out.rss += rss * _PAGE
            if pid == self.root:
                out.driver_cpu += own / _CLK
                out.jvm_cpu += reaped / _CLK  # the JVM is the driver's child
            elif comm == "java":
                out.jvm_cpu += own / _CLK
                out.pyworker_cpu += reaped / _CLK  # exited Python workers
            else:
                out.pyworker_cpu += (own + reaped) / _CLK
            if io:
                r, w = _io(pid)
                out.read_bytes += r
                out.write_bytes += w
        return out


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine from /proc/stat.
    Steal is time the hypervisor ran other guests on this machine's
    virtual CPUs; it lengthens wall times but not the tree's CPU times."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def delta(a: TreeSample, b: TreeSample) -> TreeSample:
    return TreeSample(
        b.driver_cpu - a.driver_cpu,
        b.jvm_cpu - a.jvm_cpu,
        b.pyworker_cpu - a.pyworker_cpu,
        b.rss,
        b.read_bytes - a.read_bytes,
        b.write_bytes - a.write_bytes,
    )


_STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleWriteBytes",
    "shuffleReadBytes", "memoryBytesSpilled", "diskBytesSpilled",
    "numCompleteTasks",
)


class SparkCounters:
    """Deltas of Spark's own job and stage counters since the last read.

    Reads the application status store over py4j, which is kept with
    the UI off. The listener bus is drained first so the store holds
    every event of the jobs that already returned.
    """

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        gateway = spark.sparkContext._gateway
        self._no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        self._last_stage = -1
        self._last_job = -1
        self.read()

    @staticmethod
    def _new(seq, key, last):
        """Items of a newest-first status-store list with key > last."""
        out = []
        for i in range(seq.size()):
            item = seq.apply(i)
            if key(item) <= last:
                break
            out.append(item)
        return out

    def read(self) -> dict:
        self._bus.waitUntilEmpty()
        jobs = self._new(self._store.jobsList(None), lambda j: j.jobId(), self._last_job)
        if jobs:
            self._last_job = max(j.jobId() for j in jobs)
        stages = self._new(
            self._store.stageList(None, False, False, self._no_quantiles, None),
            lambda s: s.stageId(),
            self._last_stage,
        )
        if stages:
            self._last_stage = max(s.stageId() for s in stages)
        out = {k: 0 for k in _STAGE_FIELDS}
        ran = 0
        for s in stages:
            if s.status().toString() == "SKIPPED":
                continue
            ran += 1
            for k in _STAGE_FIELDS:
                out[k] += getattr(s, k)()
        out["stages"] = ran
        out["jobs"] = len(jobs)
        return out


@dataclass
class Tracer:
    """Spans kept in memory: (name, start, end, parent index, op id).

    Disabled, ``span`` costs one attribute test and records nothing.
    """

    enabled: bool
    spans: list = field(default_factory=list)
    op_id: int | None = None
    _stack: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> dict[int, float]:
        """Total duration of spans called ``name``, per op id."""
        out: dict[int, float] = {}
        for n, t0, t1, _p, op in self.spans:
            if n == name and t1 is not None:
                out[op] = out.get(op, 0.0) + (t1 - t0)
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for n, t0, t1, p, _op in self.spans:
            if p is not None and t1 is not None:
                child[p] += t1 - t0
        out: dict[str, float] = {}
        for i, (n, t0, t1, _p, _op) in enumerate(self.spans):
            if t1 is not None:
                out[n] = out.get(n, 0.0) + (t1 - t0) - child[i]
        return out

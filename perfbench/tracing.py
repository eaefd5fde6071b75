"""Spans, counters and host/JVM probes for the benchmark.

Every span is opened by the benchmark around one public call into a
layer of the engine; nothing inside the engine is instrumented. A span
records its name, layer, start, end, parent span and cycle id, plus
the Spark jobs that ran under it (via a per-span job group). Spans are
kept in memory and summarised when the run ends.

``CountingLogStore`` is the commit-log boundary: it wraps the table's
default POSIX log store, counts list/read/put requests and records
each one as a ``storage`` span while tracing is on.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from data_lake_demo_spark.storage import LocalFSLogStore


@dataclass
class Span:
    name: str
    layer: str
    cycle: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0  # Spark jobs run under this span


@dataclass
class Tracer:
    """Span recorder. ``enabled`` is switched per cycle, so one run can
    interleave traced and untraced cycles and measure the overhead.

    Spans that count jobs (``jobs=True``) are the benchmark's calls
    into the engine and are never nested in one another; each gets
    its own Spark job group for the duration of the call.
    """

    sc: object = None  # SparkContext
    enabled: bool = False
    cycle: int = -1
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _groups: int = 0

    @contextmanager
    def span(self, layer: str, name: str, *, jobs: bool = True):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, self.cycle, parent, time.perf_counter())
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        group = None
        if jobs:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self.sc.setJobGroup(group, f"{layer}.{name}")
        try:
            yield
        finally:
            if group is not None:
                sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.end = time.perf_counter()
            self._stack.pop()


class CountingLogStore(LocalFSLogStore):
    """The table's POSIX log store, counting requests and their time."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer
        self.counts = {"lists": 0, "reads": 0, "puts": 0}
        self.seconds = 0.0

    def _timed(self, kind: str, fn, *args):
        self.counts[kind] += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("storage", kind, jobs=False):
                return fn(*args)
        finally:
            self.seconds += time.perf_counter() - t0

    def put_if_absent(self, name: str, data: bytes) -> None:
        return self._timed("puts", super().put_if_absent, name, data)

    def list_names(self) -> list[str]:
        return self._timed("lists", super().list_names)

    def read(self, name: str) -> bytes:
        return self._timed("reads", super().read, name)


def steal_seconds() -> float:
    """Host steal time so far, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def process_cpu_seconds(pid: int) -> float:
    """User+system CPU of one process (``/proc/<pid>/stat``)."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mib(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


class Probes:
    """Host, driver and JVM counters read at cycle boundaries: steal
    and CPU from ``/proc``, GC time from the JVM's GC MXBeans over py4j,
    and the request counts of every counting log store in ``stores``."""

    def __init__(self, spark, stores: list[CountingLogStore]):
        jvm = spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.stores = stores

    def read(self) -> dict[str, float]:
        t = os.times()
        out = {
            "host.steal_s": steal_seconds(),
            "spark.gc_s": sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0,
            "spark.jvm_cpu_s": process_cpu_seconds(self.jvm_pid),
            "spark.driver_cpu_s": t.user + t.system,
            "storage.log_s": sum(s.seconds for s in self.stores),
        }
        for kind in ("lists", "reads", "puts"):
            out[f"storage.{kind}"] = sum(s.counts[kind] for s in self.stores)
        return out

    def peak_rss_mib(self) -> tuple[float, float]:
        """(driver, JVM) peak resident memory, MiB."""
        return peak_rss_mib(os.getpid()), peak_rss_mib(self.jvm_pid)

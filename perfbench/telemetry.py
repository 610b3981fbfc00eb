"""Counters the benchmark reads around each call: the process tree's CPU
and memory and the machine's steal time from ``/proc`` (``psutil`` is not
a dependency), Spark's own executor and job counters from the driver's
status store, and in-memory spans for the traced run."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """``/proc/<pid>/stat`` split after the parenthesised command name;
    index 0 is the state field (field 3 of proc(5))."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant: the driver, the JVM that
    spark-submit starts, and the JVM's Python worker daemon and workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


@dataclass
class CpuSample:
    """CPU seconds of the tree, split by role. Each process counts its own
    time plus that of children it has reaped, so a finished Python worker's
    time stays in its daemon's total."""

    driver: float = 0.0
    jvm: float = 0.0
    pyworker: float = 0.0

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.pyworker

    def minus(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver - other.driver,
            self.jvm - other.jvm,
            self.pyworker - other.pyworker,
        )


def tree_cpu(root: int) -> CpuSample:
    s = CpuSample()
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        secs = sum(int(x) for x in fields[11:15]) / _TICK  # utime..cstime
        if pid == root:
            s.driver += secs
        elif _comm(pid) == "java":
            s.jvm += secs
        elif _comm(pid).startswith("python"):
            s.pyworker += secs
        else:  # launcher shells between the driver and the JVM
            s.jvm += secs
    return s


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (a forked Python worker and its daemon) split among them, so
    summing over the tree does not count them twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended
        pass
    return 0


def tree_memory_mb(root: int) -> float:
    return sum(_pss_kb(pid) for pid in process_tree(root)) / 1e3


class MemorySampler:
    """Background thread keeping the peak of the tree's summed resident
    memory (PSS)."""

    def __init__(self, root: int, interval: float = 0.2) -> None:
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_memory_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@dataclass
class MachineSample:
    """Whole-machine CPU seconds from ``/proc/stat`` and the 1-min load."""

    t: float
    busy: float
    steal: float
    load1: float


def machine() -> MachineSample:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user
    busy = cpu[0] + cpu[1] + cpu[2] + cpu[5] + cpu[6]
    return MachineSample(time.perf_counter(), busy / _TICK, cpu[7] / _TICK, load1)


def conditions(
    m0: MachineSample, m1: MachineSample, own_cpu_s: float
) -> dict[str, float]:
    """Run conditions over one window, recorded for diagnosis only:
    hypervisor steal, CPU used by processes outside this benchmark's tree,
    and the load average at the end."""
    return {
        "wall_s": m1.t - m0.t,
        "steal_s": m1.steal - m0.steal,
        "foreign_cpu_s": max(0.0, (m1.busy - m0.busy) - own_cpu_s),
        "load1": m1.load1,
    }


@dataclass
class SparkCounters:
    """Cumulative driver-side Spark counters (local mode: one executor,
    id ``driver``)."""

    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    failed_tasks: int = 0
    last_job: int = -1

    def minus(self, other: "SparkCounters") -> dict[str, float]:
        return {
            "task_s": self.task_s - other.task_s,
            "gc_s": self.gc_s - other.gc_s,
            "shuffle_mb": self.shuffle_mb - other.shuffle_mb,
            "failed_tasks": self.failed_tasks - other.failed_tasks,
            "jobs": self.last_job - other.last_job,
        }


def spark_counters(spark) -> SparkCounters:
    """Read the status store once the listener bus has delivered every
    event so far, so a just-finished action's tasks are counted. Jobs are
    counted by the newest job id, which keeps counting past the store's
    retention limit."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    ex = store.executorSummary("driver")
    jobs = store.jobsList(None)
    return SparkCounters(
        task_s=ex.totalDuration() / 1e3,
        gc_s=ex.totalGCTime() / 1e3,
        shuffle_mb=ex.totalShuffleWrite() / 1e6,
        failed_tasks=ex.failedTasks(),
        last_job=jobs.head().jobId() if jobs.nonEmpty() else -1,
    )


@dataclass
class Span:
    id: int
    name: str
    kind: str  # "pass", "op" or "layer"
    parent: int | None
    pass_no: int
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, object] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out when the run ends. When
    disabled, ``span`` only keeps the stack so callers need no branches,
    and no Spark counters are read."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_no = 0

    def span(self, name: str, kind: str, **attrs) -> "_SpanCtx":
        return _SpanCtx(self, name, kind, attrs)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it the span's children cover
        (children of one span run one after another)."""
        kids = [s for s in self.spans if s.parent == span.id]
        return span.wall_s - sum(k.wall_s for k in kids)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, kind: str, attrs: dict) -> None:
        self.t = tracer
        self.name, self.kind, self.attrs = name, kind, attrs

    def __enter__(self) -> Span | None:
        t = self.t
        if not t.enabled:
            return None
        parent = t._stack[-1].id if t._stack else None
        before = spark_counters(t.spark) if self.kind != "op" else None
        s = Span(len(t.spans), self.name, self.kind, parent, t.pass_no,
                 time.perf_counter(), attrs=dict(self.attrs))
        s.attrs["_before"] = before
        t.spans.append(s)
        t._stack.append(s)
        return s

    def __exit__(self, *exc) -> None:
        t = self.t
        if not t.enabled:
            return
        s = t._stack.pop()
        s.end = time.perf_counter()
        before = s.attrs.pop("_before")
        if before is not None:
            s.counters = spark_counters(t.spark).minus(before)
        if exc[0] is not None:
            s.attrs["error"] = repr(exc[1])[:200]

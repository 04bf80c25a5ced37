"""Instruments the benchmark places around the program's layers.

Nothing here edits the program. Spans come from wrapping public
functions while a traced pass runs (:class:`Patches`). Spark's counters
come from the DAGScheduler's id counters, the AppStatusStore and a
QueryExecutionListener; JVM counters come from the platform MXBeans.
Every read is metadata: none of them submits a Spark job. Process
counters come from ``/proc``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

# Public functions wrapped in a traced pass, by module, with the span
# (layer) name each call is charged to.
WRAPPED_FUNCTIONS = {
    "rdsa_utils_spark.plans.tuning": {
        "ensure_parallelism": "tuning.ensure_parallelism",
        "smart_coalesce": "tuning.smart_coalesce",
    },
    "rdsa_utils_spark.sources.readers": {"read_parquet": "sources.read_parquet"},
    "rdsa_utils_spark.sources.versioned": {
        "write_snapshot": "sources.write_snapshot",
        "read_snapshot": "sources.read_snapshot",
    },
    "rdsa_utils_spark.sources.writers": {
        "merge_upsert": "sources.merge_upsert",
        "compact_dataset": "sources.compact_dataset",
    },
}
SOURCES_FUNCTIONS = sorted(
    span.split(".", 1)[1]
    for spans in WRAPPED_FUNCTIONS.values()
    for span in spans.values()
    if span.startswith("sources.")
)
PIN_SPAN = "pin"  # DataFrame.localCheckpoint

# Retained-heap read: full collections HEAP_POLL_S apart until
# HEAP_QUIET_POLLS in a row each free less than HEAP_SETTLED_MB, at most
# HEAP_MAX_POLLS of them.
HEAP_POLL_S = 0.2
HEAP_SETTLED_MB = 1.0
HEAP_QUIET_POLLS = 3
HEAP_MAX_POLLS = 40
STOP_TIMEOUT_S = 60.0  # then whatever the session started is killed


@dataclass
class Span:
    name: str
    op: str
    parent: int | None
    start: float
    job0: int
    end: float = 0.0
    job1: int = 0


@dataclass
class Tracer:
    """In-memory span recorder. ``job_id`` reads the id the next Spark
    job will get, so a span's job count is the difference of two reads."""

    job_id: callable
    spans: list[Span] = field(default_factory=list)
    op: str = ""
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op, parent, time.perf_counter(), self.job_id()))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[idx]
            s.job1 = self.job_id()
            s.end = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


class NullTracer:
    """Stands in for :class:`Tracer` in untraced passes."""

    op = ""

    def span(self, name: str):
        return contextlib.nullcontext()


def self_times(spans: list[Span], op: str | None = None) -> dict[str, dict[str, float]]:
    """Per layer: summed self time (``s``), self jobs (``jobs``), jobs
    including those of nested layers (``jobs_incl``) and calls, over all
    spans or those of one ``op``. A span's self part is its own minus
    what its direct children cover; children of one span never overlap
    (one driver thread)."""
    child_s = [0.0] * len(spans)
    child_jobs = [0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] += s.end - s.start
            child_jobs[s.parent] += s.job1 - s.job0
    out: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        if op is not None and s.op != op:
            continue
        layer = out.setdefault(s.name, {"s": 0.0, "jobs": 0, "jobs_incl": 0, "calls": 0})
        layer["s"] += (s.end - s.start) - child_s[i]
        layer["jobs"] += (s.job1 - s.job0) - child_jobs[i]
        layer["jobs_incl"] += s.job1 - s.job0
        layer["calls"] += 1
    return out


class Patches:
    """Swap each wrapped function for its traced version in every loaded
    module of the program that bound it, and restore all on exit."""

    def __init__(self, tracer: Tracer, dataframe_class: type):
        self.tracer = tracer
        self.dataframe_class = dataframe_class
        self._saved: list[tuple[object, str, object]] = []

    def _swap(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def __enter__(self):
        original = self.dataframe_class.localCheckpoint
        self._swap(self.dataframe_class, "localCheckpoint",
                   self.tracer.wrap(original, PIN_SPAN))
        program = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == "__spark_entry__" or n.startswith("rdsa_utils_spark"))
        ]
        for module_name, functions in WRAPPED_FUNCTIONS.items():
            home = importlib.import_module(module_name)
            for fn_name, span_name in functions.items():
                fn = getattr(home, fn_name)
                traced = self.tracer.wrap(fn, span_name)
                for module in program:
                    if getattr(module, fn_name, None) is fn:
                        self._swap(module, fn_name, traced)
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, value in reversed(self._saved):
            setattr(owner, attr, value)
        self._saved.clear()


class SparkCounters:
    """Reads Spark's own counters from the JVM. Every call is a metadata
    read; none submits a job."""

    STAGE_FIELDS = {
        "tasks": "numCompleteTasks",
        "task_run_ms": "executorRunTime",
        "task_cpu_ms": "executorCpuTime",  # nanoseconds, scaled below
        "gc_ms": "jvmGcTime",
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "memory_spill_bytes": "memoryBytesSpilled",
        "disk_spill_bytes": "diskBytesSpilled",
    }

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._sc = jsc
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._mx = spark._jvm.java.lang.management.ManagementFactory

    def job_id(self) -> int:
        return self._dag.nextJobId()

    def stage_id(self) -> int:
        return self._dag.nextStageId()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def stage_totals(self, first: int, end: int) -> dict[str, float]:
        """Sums over stages ``first .. end-1`` (call :meth:`drain` first).
        Stages AQE skipped never ran and have no record."""
        totals = dict.fromkeys(self.STAGE_FIELDS, 0.0)
        totals["stages"] = 0
        for stage in range(first, end):
            try:
                data = self._store.lastStageAttempt(stage)
            except Exception:  # py4j: NoSuchElementException for a skipped stage
                continue
            totals["stages"] += 1
            for key, getter in self.STAGE_FIELDS.items():
                totals[key] += getattr(data, getter)()
        totals["task_cpu_ms"] /= 1e6
        return totals

    def jvm(self) -> dict[str, float]:
        gcs = list(self._mx.getGarbageCollectorMXBeans())
        heap = self._mx.getMemoryMXBean().getHeapMemoryUsage()
        return {
            "gc_count": sum(g.getCollectionCount() for g in gcs),
            "gc_s": sum(g.getCollectionTime() for g in gcs) / 1000,
            "heap_committed_mb": heap.getCommitted() / 2**20,
            "jit_s": self._mx.getCompilationMXBean().getTotalCompilationTime() / 1000,
            "classes_loaded": self._mx.getClassLoadingMXBean().getTotalLoadedClassCount(),
        }

    def retained_heap(self) -> dict[str, float]:
        """Heap still live once full collections stop freeing memory.

        Python drops its dead DataFrame handles first. One collection is
        not enough: objects reachable only through finalizers, cleaners
        and the ContextCleaner's weak references (unreferenced pins and
        broadcasts) are freed by a later one, after those threads have
        run. A single collection read 116-213 MB where the settled heap
        of the same run was 68 MB. So collections repeat, ``HEAP_POLL_S``
        apart, until ``HEAP_QUIET_POLLS`` in a row free less than
        ``HEAP_SETTLED_MB`` each. Returns the heap (``mb``), the collections
        made and the RDDs still pinned."""
        import gc

        gc.collect()
        memory = self._mx.getMemoryMXBean()
        used, quiet, polls = float("inf"), 0, 0
        while quiet < HEAP_QUIET_POLLS and polls < HEAP_MAX_POLLS:
            memory.gc()
            polls += 1
            time.sleep(HEAP_POLL_S)
            now = memory.getHeapMemoryUsage().getUsed() / 2**20
            quiet = quiet + 1 if used - now < HEAP_SETTLED_MB else 0
            used = min(used, now)
        return {"mb": used, "collections": polls,
                "pinned_rdds": self._sc.getPersistentRDDs().size()}


class PlanningPhases:
    """QueryExecutionListener (a py4j callback) summing Catalyst's phase
    times over every SQL execution that finishes while it is registered."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.totals = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def close(self) -> None:
        self._manager.unregister(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        phases = qe.tracker().phases().iterator()
        while phases.hasNext():
            pair = phases.next()
            if pair._1() in self.totals:
                self.totals[pair._1()] += pair._2().durationMs() / 1000

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# --- /proc -----------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return -1


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            kids.setdefault(_ppid(int(entry)), []).append(int(entry))
    return kids


def _descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _cpu_s(pid: int, with_children: bool) -> float:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    if with_children:
        ticks += int(fields[13]) + int(fields[14])  # waited-for children
    return ticks / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def python_workers() -> list[int]:
    """The PySpark worker daemon and the workers it forked (which keep
    its command line), under this process."""
    return [p for p in _descendants(os.getpid(), _children()) if "pyspark.daemon" in _cmdline(p)]


def pyworker_cpu_s() -> float:
    """CPU seconds of the worker daemon, its live workers and the
    workers it has already reaped."""
    pids = python_workers()
    parents = {p: _ppid(p) for p in pids}
    return sum(_cpu_s(p, with_children=parents[p] not in parents) for p in pids)


def pyworker_peak_rss_mb() -> float:
    """Sum of the workers' own peak RSS. Forked workers share the
    daemon's pages, so this counts shared pages once per worker."""
    return sum(_hwm_mb(p) for p in python_workers())


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants, counting
    reaped children through their parents. Time the host stole from
    the virtual CPUs is not in it."""
    return sum(
        _cpu_s(p, with_children=True)
        for p in [os.getpid(), *_descendants(os.getpid(), _children())]
    )


def tree_peak_rss_mb() -> float:
    """Sum of each process's own peak RSS over this process and all its
    descendants (JVM, worker daemon, workers). The peaks need not have
    coincided, so this bounds the tree's peak from above."""
    return sum(_hwm_mb(p) for p in [os.getpid(), *_descendants(os.getpid(), _children())])


def steal_s() -> float:
    """Host steal time so far, summed over CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until every process
    started under this one has exited. The JVM exits when its stdin
    closes; the PySpark worker daemon, its child, exits when the JVM
    does. Whatever still runs after ``STOP_TIMEOUT_S`` is killed."""
    started = _descendants(os.getpid(), _children())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    # Forget the dead gateway, so that a later session starts a new JVM.
    type(spark.sparkContext)._gateway = type(spark.sparkContext)._jvm = None
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while any(_running(p) for p in started):
        if time.monotonic() > deadline:
            for p in filter(_running, started):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)

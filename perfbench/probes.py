"""Measurement probes: spans, Spark counters, host CPU and memory.

Everything here observes the engine from outside. Spans are recorded
around the benchmark's own calls and around the engine's module-level
entry points (wrapped only in a traced run); counters come from Spark's
status stores (jobs and stages; SQL metrics) and the query-planning
tracker, read after each sample ends so that reading them is never
inside a timed interval.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from dataclasses import dataclass, field

# display names of the Python-UDF metrics in the SQL status store
_PY_METRICS = {
    "time to run Python workers": "operators.python_run_s",
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_returned",
}
_PY_METRIC_RE = re.compile(
    r"SQLPlanMetric\((" + "|".join(_PY_METRICS) + r"),(\d+),\w+\)"
)
# a sample starts far fewer SQL executions than this
_RECENT_EXECUTIONS = 64
# units of Spark's formatted SQL metric values
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
# stage-data fields summed per sample, with the scale to seconds
_STAGE_FIELDS = {
    "exec.executor_run_s": ("executorRunTime", 1e-3),
    "exec.executor_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    qid: int


@dataclass
class Tracer:
    """In-memory span recorder; ``active`` gates the engine wrappers."""

    spans: list[Span] = field(default_factory=list)
    active: bool = False
    qid: int = -1
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.qid))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def inside(self, name: str) -> bool:
        """Whether a ``name`` span is open."""
        return any(self.spans[i].name == name for i in self._stack)

    def self_times(self, qid: int) -> dict[str, float]:
        """Per span name: summed duration minus the time of direct children."""
        out: dict[str, float] = {}
        first = next(i for i, s in enumerate(self.spans) if s.qid == qid)
        for i in range(first, len(self.spans)):
            s = self.spans[i]
            if s.qid != qid:
                continue
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
            if s.parent is not None:
                p = self.spans[s.parent].name
                out[p] = out.get(p, 0.0) - (s.end - s.start)
        return out

    def total(self, qid: int, name: str) -> float:
        """Summed duration of the outermost ``name`` spans of a sample."""
        total = 0.0
        for s in self.spans:
            if s.qid == qid and s.name == name and not self._nested(s):
                total += s.end - s.start
        return total

    def _nested(self, span: Span) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].name == span.name:
                return True
            p = self.spans[p].parent
        return False


def _scala_items(jvm, obj):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(obj)


def _interval_union_s(intervals: list[tuple[int, int]]) -> float:
    total, cur_end = 0, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            total += b - a
            cur_end = b
        elif b > cur_end:
            total += b - cur_end
            cur_end = b
    return total / 1000.0


class SparkCounters:
    """Reads job, stage, plan and Catalyst counters through py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> dict[str, float]:
        """Job, stage and task counters for every job of a job group."""
        store = self._jsc.statusStore()
        out = {"exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0,
               "exec.spill_bytes": 0, "exec.jobs_wall_s": 0.0}
        out.update({k: 0 for k in _STAGE_FIELDS})
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["exec.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            for sid in _scala_items(self.jvm, job.stageIds()):
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numTasks()
                out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                for key, (attr, scale) in _STAGE_FIELDS.items():
                    out[key] += getattr(st, attr)() * scale
        out["exec.jobs_wall_s"] = _interval_union_s(intervals)
        return out

    def phases(self, df, since_ms: float) -> dict[str, float]:
        """Catalyst phase times of ``df``'s query execution that began at
        or after ``since_ms`` (epoch ms): a plan reused from the plan
        cache was analysed before the sample and contributes nothing."""
        out = {"catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0,
               "catalyst.planning_s": 0.0}
        tracker = df._jdf.queryExecution().tracker()
        for name, ph in _scala_items(self.jvm, tracker.phases()).items():
            key = f"catalyst.{name}_s"
            if key in out and ph.startTimeMs() >= since_ms:
                out[key] += ph.durationMs() / 1000.0
        return out

    def last_execution_id(self) -> int:
        """Id of the newest SQL execution in the status store (-1 if none)."""
        store = self._sql_store()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(n - 1, 1).head().executionId()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def python_metrics(self, after_id: int) -> dict[str, float]:
        """Python-UDF SQL metrics summed over every SQL execution newer
        than ``after_id``: the action's and any the build started."""
        out = {v: 0.0 for v in _PY_METRICS.values()}
        store = self._sql_store()
        n = store.executionsCount()
        recent = store.executionsList(max(n - _RECENT_EXECUTIONS, 0), _RECENT_EXECUTIONS)
        for ex in _scala_items(self.jvm, recent):
            if ex.executionId() <= after_id:
                continue
            values = store.executionMetrics(ex.executionId())
            for name, acc_id in _PY_METRIC_RE.findall(ex.metrics().toString()):
                value = values.get(int(acc_id))
                if value.isDefined():
                    out[_PY_METRICS[name]] += _parse_metric(value.get())
        return out


def _parse_metric(text: str) -> float:
    """A formatted SQL metric ("2.9 KiB", "332 ms", or a multi-task
    "total (min, med, max ...)" block) as bytes or seconds."""
    number, unit = text.strip().splitlines()[-1].split()[:2]
    return float(number.replace(",", "")) * _UNITS[unit]


def host_cpu() -> dict[str, float]:
    """Cumulative busy and steal CPU seconds of the host (/proc/stat)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals[:8]
    return {
        "host.cpu_busy_s": (user + nice + system + irq + softirq) / hz,
        "host.steal_s": steal / hz,
    }


def process_tree(root: int) -> list[int]:
    """``root`` and every process it started, transitively."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and a JVM's process tree."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.jvm_pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _sample(self) -> None:
        pids = [os.getpid()]
        if self.jvm_pid is not None:
            pids += process_tree(self.jvm_pid)
        self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self._sample()

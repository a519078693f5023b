"""What the benchmark reads from outside the engine: the process tree in
/proc, py4j round trips, Spark's status stores, and its own spans.

Nothing here changes what the engine computes. The Spark readers go
through the JVM status store that backs the Spark UI (it is filled
with ``spark.ui.enabled=false`` too), keyed by the job group the
harness sets around each call into a layer.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --- process tree: CPU and resident memory ---------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields 4 and 14-17 of proc(5), counted after the comm field
        out[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def _tree(stats: dict[int, tuple[int, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in stats:
            out.append(p)
            stack.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of this process and every descendant
    (the driver JVM and the Python workers it forks), including children
    already reaped."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, root or os.getpid())) / _HZ


def descendants_cpu_s(root: int) -> float:
    """CPU seconds of ``root``'s descendants, without ``root`` itself:
    for the JVM, its Python workers, whose CPU the JVM's task metrics
    leave out."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, root) if p != root) / _HZ


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass  # the process ended between listing and reading
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the process tree, counting each shared page once
    (proportional set size). Plain RSS would count the pages a forked
    Python worker shares with its daemon, or a short-lived child the JVM
    forks to run a shell command, once per process."""
    stats = _proc_stats()
    return sum(_pss_kb(p) for p in _tree(stats, root or os.getpid())) / 1024


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# --- statistics ----------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least ten samples above it, or None with ten samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return None
    k = n - 11  # xs[k] has exactly ten samples beyond it
    return 100.0 * (k + 1) / n, xs[k]


def median(values: list[float], default: float = 0.0) -> float:
    return statistics.median(values) if values else default


# --- py4j round trips ----------------------------------------------------------


class Py4jCounter:
    """Counts py4j commands the driver sends to the JVM while active.
    Object-release commands are left out: the Python garbage collector
    sends them whenever it runs, so they would make the count vary."""

    _RELEASE = "m\nd\n"

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.active = False
        orig = self.client.send_command

        def send_command(command, *args, **kwargs):
            if self.active and not command.startswith(self._RELEASE):
                self.calls += 1
            return orig(command, *args, **kwargs)

        self.client.send_command = send_command

    @contextmanager
    def counting(self):
        start = self.calls
        self.active = True
        try:
            yield lambda: self.calls - start
        finally:
            self.active = False


# --- Spark status stores ------------------------------------------------------


class SparkReader:
    """Reads per-job and per-stage figures for a set of jobs."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def jobs_wall_s(self, job_ids: list[int]) -> float:
        total = 0.0
        for j in job_ids:
            jd = self.store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                total += (jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()) / 1e3
        return total

    def stage_metrics(self, job_ids: list[int]) -> dict[str, float]:
        out = dict.fromkeys(
            [
                "execute.stages", "execute.tasks", "execute.task_run_s", "execute.task_cpu_s",
                "execute.gc_s", "execute.failed_tasks", "io.input_bytes", "io.input_rows",
                "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes", "shuffle.skew",
            ],
            0.0,
        )
        heaviest, heaviest_run = None, -1.0
        stages = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in sorted(stages):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or skipped: nothing ran
                continue
            if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                continue  # skipped stage (its shuffle output was reused)
            out["execute.stages"] += 1
            out["execute.tasks"] += sd.numTasks()
            out["execute.failed_tasks"] += sd.numFailedTasks()
            run_s = sd.executorRunTime() / 1e3
            out["execute.task_run_s"] += run_s
            out["execute.task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["execute.gc_s"] += sd.jvmGcTime() / 1e3
            out["io.input_bytes"] += sd.inputBytes()
            out["io.input_rows"] += sd.inputRecords()
            out["shuffle.write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle.read_bytes"] += sd.shuffleReadBytes()
            out["shuffle.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if run_s > heaviest_run:
                heaviest, heaviest_run = sd, run_s
        if heaviest is not None:
            summary = self.store.taskSummary(heaviest.stageId(), heaviest.attemptId(), self._quantiles)
            if summary.isDefined():
                q = summary.get().executorRunTime()
                med, mx = q.apply(0), q.apply(1)
                out["shuffle.skew"] = mx / med if med > 0 else 1.0
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[f"catalyst.{phase}_s"] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


# --- spans ----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end.
    A disabled tracer still times its spans, so traced and untraced runs
    share one code path; it just keeps nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a root span timed elsewhere (a micro-batch's sink call
        runs on Spark's callback thread, outside the current stack)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, None, attrs))

    def self_times(self) -> dict[str, float]:
        """Span name -> summed self time (duration minus direct children)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.duration - child[i]
        return out

    def write(self, path: str, context: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        doc = {
            "context": context,
            "spans": [
                {
                    "id": i,
                    "name": s.name,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "parent": s.parent,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }
                for i, s in enumerate(self.spans)
            ],
            "self_s": {k: round(v, 6) for k, v in sorted(self.self_times().items())},
        }
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, path)

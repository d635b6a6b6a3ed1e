"""Measurement for the benchmark: /proc and rusage readers, and the tracer
that splits each public call into phases and reads Spark's status store.

The tracer lives entirely in the benchmark's own files. With tracing off,
``Tracer.call`` and ``Tracer.sink`` only run the call, so the untraced run
measures the program alone.
"""

from __future__ import annotations

import json
import os
import resource
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "sources.io",
    "expressions",
    "operators.packer",
    "operators.crosslevel",
    "functions.dedup",
    "functions.similarity",
)
LAYER_METRICS = {
    "construct_s": "s",
    "eager_jobs": "count",
    "eager_s": "s",
    "plan_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "task_cpu_s": "s",
    "core_util": "ratio",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "write_mb": "MB",
    "cache_mb_left": "MB",
}
_MB = 1024 * 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# /proc and rusage readers
# --------------------------------------------------------------------------


def _stat_fields(pid: int | str) -> list[str]:
    """Fields of ``/proc/<pid>/stat``; ``pid`` may be ``"<pid>/task/<tid>"``."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # The command name may hold spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2 :].split()


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                kids[int(_stat_fields(int(entry))[1])].append(int(entry))
            except (OSError, ValueError, IndexError):
                continue
    return kids


def find_jvm_pid() -> int:
    """The Spark driver JVM: the ``java`` process among our descendants."""
    kids = _children_of()
    todo = list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
        todo.extend(kids.get(pid, []))
    raise RuntimeError("no Spark JVM found among this process's children")


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including the reaped children each one has waited for (Python workers
    the JVM forks show up here)."""
    kids = _children_of()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            f = _stat_fields(pid)
        except (OSError, IndexError):
            continue
        # utime, stime, cutime, cstime are fields 14..17 of /proc/pid/stat.
        total += sum(int(x) for x in f[11:15])
        todo.extend(kids.get(pid, []))
    return total / _CLK_TCK


def jit_cpu_s(pid: int) -> float:
    """User+system CPU seconds of the JVM's JIT compiler threads. The JVM
    must keep them alive (``-XX:-UseDynamicNumberOfCompilerThreads``), or
    the CPU of one that exits would leave this sum."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
            total += sum(int(x) for x in _stat_fields(f"{pid}/task/{tid}")[11:13])
        except (OSError, IndexError):
            continue
    return total / _CLK_TCK


def self_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def reset_peak_rss(pid: int) -> None:
    """Reset the kernel's peak-RSS watermark (VmHWM) of ``pid``."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Meter:
    """End-to-end readers: CPU of the driver plus the JVM tree less its
    JIT compiler threads, and the peak RSS of the JVM plus the Python
    driver."""

    def __init__(self) -> None:
        self.jvm = find_jvm_pid()

    def cpu_s(self) -> float:
        # Spark generates and the JVM compiles new classes for every query,
        # so the compiler threads never go quiet; their 1-4 s a pass varied
        # more from run to run than all the other threads' CPU together.
        return self_cpu_s() + tree_cpu_s(self.jvm) - jit_cpu_s(self.jvm)

    def reset_peaks(self) -> None:
        reset_peak_rss(self.jvm)
        reset_peak_rss(os.getpid())

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.jvm) + peak_rss_mb(os.getpid())


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    run: str
    name: str
    layer: str
    phase: str  # request | construct | plan | exec | job
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    cache_delta_mb: float = 0.0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    """Wraps the benchmark's calls into the package.

    ``call`` times a public call; the Spark jobs started while it runs are
    its eager jobs. ``sink`` forces the result's physical plan, then runs
    the consumer that executes it. Jobs are attributed to a step by the
    window of job ids it covers: jobs started on the operators' own driver
    threads land in the window even though no job group reaches them.
    """

    def __init__(self, spark, cores: int) -> None:
        self.enabled = False
        self.cores = cores
        self._sc = spark.sparkContext._jsc.sc()
        self._spans: list[Span] = []
        self._done: list[Span] = []
        self._counted_stages: set[int] = set()
        self._own_rdds: set[int] = set()
        self._run = ""
        self._request: Span | None = None
        self._storage_mb = 0.0

    # -- recording ---------------------------------------------------------

    def _next_job(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def _other_storage_mb(self) -> float:
        held = 0
        for info in self._sc.getRDDStorageInfo():
            if info.id() not in self._own_rdds:
                held += info.memSize() + info.diskSize()
        return held / _MB

    def own_current_caches(self) -> None:
        """Mark the blocks cached so far as the workload's own."""
        self._own_rdds = {info.id() for info in self._sc.getRDDStorageInfo()}

    def set_enabled(self, enabled: bool) -> None:
        """Turn tracing on or off; storage left behind is measured from
        the moment it turns on."""
        self.enabled = enabled
        if enabled:
            self._storage_mb = self._other_storage_mb()

    def _open(self, name: str, layer: str, phase: str, parent: Span | None) -> Span:
        span = Span(
            id=len(self._done) + len(self._spans),
            parent=parent.id if parent else None,
            run=self._run,
            name=name,
            layer=layer,
            phase=phase,
            start=time.time(),
        )
        self._spans.append(span)
        return span

    def _close(self, span: Span, first_job: int) -> None:
        span.end = time.time()
        span.jobs = list(range(first_job, self._next_job()))
        held = self._other_storage_mb()
        span.cache_delta_mb = held - self._storage_mb
        self._storage_mb = held

    @contextmanager
    def request(self, run: str, name: str):
        """A request span: the calls and sinks of one input share its run id."""
        self._run = run
        if self.enabled:
            self._request = self._open(name, "request", "request", None)
        try:
            yield
        finally:
            if self._request is not None:
                self._request.end = time.time()
            self._request = None

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """Run one public call; traced, it becomes a ``construct`` span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._open(f"{layer}.{name}", layer, "construct", self._request)
        first = self._next_job()
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(span, first)

    def sink(self, layer: str, name: str, df, consume):
        """Execute ``df`` through ``consume``; traced, the physical plan is
        forced first in its own ``plan`` span, then ``exec`` is timed."""
        if not self.enabled:
            return consume(df)
        span = self._open(f"{layer}.{name}", layer, "plan", self._request)
        first = self._next_job()
        try:
            df._jdf.queryExecution().executedPlan()
        finally:
            self._close(span, first)
        span = self._open(f"{layer}.{name}", layer, "exec", self._request)
        first = self._next_job()
        try:
            return consume(df)
        finally:
            self._close(span, first)

    # -- resolving ---------------------------------------------------------

    def _job_times(self, store, job_id: int) -> tuple[float, float, list[int]]:
        job = store.job(job_id)
        sub, end = job.submissionTime(), job.completionTime()
        start = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
        stop = end.get().getTime() / 1000 if end.isDefined() else start
        ids = job.stageIds()
        return start, stop, [ids.apply(i) for i in range(ids.length())]

    def _stage_totals(self, store, stage_ids: list[int]) -> dict[str, float]:
        """Counters of stages not yet counted: a stage reused by a later
        job (listed there as skipped) counts once, where it ran."""
        out = defaultdict(float)
        for sid in stage_ids:
            if sid in self._counted_stages:
                continue
            data = store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            self._counted_stages.add(sid)
            out["task_cpu_s"] += data.executorCpuTime() / 1e9
            out["task_run_s"] += data.executorRunTime() / 1e3
            out["shuffle_mb"] += data.shuffleWriteBytes() / _MB
            out["spill_mb"] += data.diskBytesSpilled() / _MB
            out["gc_s"] += data.jvmGcTime() / 1e3
            out["write_mb"] += data.outputBytes() / _MB
        return out

    def layer_metrics(self) -> dict[str, float]:
        """Resolve the spans recorded since the last call into
        ``<layer>.<metric>`` sums, and move them to the finished list."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        acc = {layer: defaultdict(float) for layer in LAYERS}
        wall = defaultdict(float)
        job_spans: list[Span] = []
        for span in self._spans:
            if span.phase == "request":
                continue
            m = acc[span.layer]
            dur = span.end - span.start
            wall[span.layer] += dur
            intervals, stages = [], []
            for jid in span.jobs:
                a, b, sids = self._job_times(store, jid)
                intervals.append((a, b))
                stages.extend(sids)
                job_spans.append(
                    Span(0, span.id, span.run, f"job {jid}", span.layer, "job", a, b)
                )
            if span.phase == "construct":
                eager = _covered(intervals, span.start, span.end)
                m["construct_s"] += dur - eager
                m["eager_s"] += eager
                m["eager_jobs"] += len(span.jobs)
            else:
                m[f"{span.phase}_s"] += dur
            m["jobs"] += len(span.jobs)
            m["cache_mb_left"] += span.cache_delta_mb
            for k, v in self._stage_totals(store, stages).items():
                m[k] += v
        out = {}
        for layer, m in acc.items():
            busy = wall[layer] * self.cores
            m["core_util"] = m.pop("task_run_s", 0.0) / busy if busy else 0.0
            for name in LAYER_METRICS:
                out[f"{layer}.{name}"] = m.get(name, 0.0)
        for s in job_spans:
            s.id = len(self._done) + len(self._spans)
            self._spans.append(s)
        self._done.extend(self._spans)
        self._spans = []
        return out

    def self_times(self) -> dict[int, float]:
        """Each finished span's duration minus the part its children cover."""
        children = defaultdict(list)
        for s in self._done:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        return {
            s.id: (s.end - s.start) - _covered(children[s.id], s.start, s.end)
            for s in self._done
        }

    def write(self, path: str) -> None:
        """Write every finished span, with its self time, as JSON lines."""
        selft = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self._done:
                f.write(json.dumps({**asdict(s), "self_s": selft[s.id]}) + "\n")


"""Spans, Spark counters and memory sampling for the benchmark.

Everything here wraps calls made from the benchmark's own files; nothing
inside ``dashing_spark`` is instrumented.

- :class:`Tracer` records one span per call into a layer (name, start,
  end, parent, run id). While a span is open, the Spark jobs it starts
  carry a job group ``<run id>:<span id>`` set by the benchmark on its
  own session, so the event log can attribute each stage to a span.
  Spans stay in memory and are written out when the run ends.
- :func:`stage_records` reads the session's own uncompressed event log
  (``spark.eventLog.compress=false``) after the session stopped.
- :class:`MemorySampler` sums the proportional set size over the driver
  JVM and every process below it (the Python daemon and workers) from
  ``/proc``, because ``psutil`` is not installed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

#: Spark task slots (``local[CORES]``); the denominator of core_util
CORES = 4
#: seconds between two memory samples
SAMPLE_PERIOD = 0.2


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With ``enabled=False`` spans are still timed (the
    benchmark's own timings come from them) but no job group is set."""

    def __init__(self, run_id: str, enabled: bool, sc=None, jvm_pid: int | None = None):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = sc
        self.jvm_pid = jvm_pid

    def _worker_cpu(self) -> float:
        if not self.enabled or self.jvm_pid is None:
            return 0.0
        return worker_cpu_seconds(self.jvm_pid)

    def group_id(self, span: Span) -> str:
        return f"{self.run_id}:{span.span_id}"

    def _set_group(self, span: Span | None) -> None:
        if not self.enabled or self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_id(span), span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            span_id=len(self.spans),
            parent=None if parent is None else parent.span_id,
            run_id=self.run_id,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        cpu0 = self._worker_cpu()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.attrs["worker_cpu_s"] = self._worker_cpu() - cpu0
            self._stack.pop()
            self._set_group(parent)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.span_id]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s.parent == pid:
                    out.append(s)
                    todo.append(s.span_id)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------------------ event log
_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "mem_spill_bytes",
    "internal.metrics.diskBytesSpilled": "disk_spill_bytes",
}


@dataclass
class StageRecord:
    stage_id: int
    group: str | None
    tasks: int
    seconds: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int


def stage_records(event_dir: str) -> tuple[list[StageRecord], dict[str, int]]:
    """(completed stages, job count per job group) from the event log(s)
    in ``event_dir``. Stages are attributed through the job group in
    their submission properties."""
    groups: dict[int, str | None] = {}
    jobs: dict[str, int] = {}
    stages: list[StageRecord] = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        jobs[g] = jobs.get(g, 0) + 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    groups[info["Stage ID"]] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {
                        _ACC[a["Name"]]: int(a["Value"])
                        for a in info.get("Accumulables", [])
                        if a.get("Name") in _ACC
                    }
                    sub = info.get("Submission Time") or 0
                    done = info.get("Completion Time") or sub
                    stages.append(
                        StageRecord(
                            stage_id=info["Stage ID"],
                            group=groups.get(info["Stage ID"]),
                            tasks=int(info.get("Number of Tasks", 0)),
                            seconds=(done - sub) / 1000.0,
                            cpu_s=acc.get("cpu_ns", 0) / 1e9,
                            gc_s=acc.get("gc_ms", 0) / 1000.0,
                            shuffle_write_bytes=acc.get("shuffle_write_bytes", 0),
                            spill_bytes=acc.get("mem_spill_bytes", 0)
                            + acc.get("disk_spill_bytes", 0),
                        )
                    )
    return stages, jobs


@dataclass
class SpanCounters:
    """Spark counters summed over the stages and jobs of a set of spans.
    ``cpu_s`` is task CPU: the executor CPU time Spark counts on JVM
    threads plus the CPU the Python workers used while the spans were
    open, which Spark's counter does not see."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    max_stage_s: float = 0.0
    max_stage_tasks: int = 0


def counters_for(
    tracer: Tracer,
    spans: list[Span],
    stages: list[StageRecord],
    jobs: dict[str, int],
) -> SpanCounters:
    """Counters of the jobs started while any of ``spans`` (or a span
    nested in one) was the innermost open span."""
    ids = set()
    for s in spans:
        ids.add(tracer.group_id(s))
        ids.update(tracer.group_id(d) for d in tracer.descendants(s))
    c = SpanCounters()
    c.cpu_s = sum(s.attrs.get("worker_cpu_s", 0.0) for s in spans)
    c.jobs = sum(jobs.get(g, 0) for g in ids)
    for st in stages:
        if st.group not in ids:
            continue
        c.stages += 1
        c.tasks += st.tasks
        c.cpu_s += st.cpu_s
        c.gc_s += st.gc_s
        c.shuffle_write_bytes += st.shuffle_write_bytes
        c.spill_bytes += st.spill_bytes
        if st.seconds > c.max_stage_s:
            c.max_stage_s = st.seconds
            c.max_stage_tasks = st.tasks
    return c


# ---------------------------------------------------------------- /proc
def _pss(pid: int) -> int:
    """Proportional set size of a process in bytes (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def worker_cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds used so far by every process below the JVM (the
    PySpark daemon and its workers), including reaped children."""
    total = 0
    for pid in process_tree(jvm_pid)[1:]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out.extend(int(x) for x in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            pass
    return out


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


class MemorySampler:
    """Peak memory of a process tree (the driver JVM, the PySpark daemon
    and its workers) while the sampler is entered: the largest summed
    ``Pss`` sampled every ``SAMPLE_PERIOD`` seconds. Proportional set size
    splits pages shared between the forked workers instead of counting
    them once per process, as a sum of ``VmRSS`` would."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(_pss(p) for p in process_tree(self.root))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(SAMPLE_PERIOD)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

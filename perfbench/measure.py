"""Measurement from outside the engine: Spark work by job-id window, spans,
streaming progress and process memory.

Nothing here changes what the engine does.  Spark counters come from the
driver's own status store (``statusStore`` over a job-id window, so jobs a
streaming query runs under its own job group are counted too); streaming
phases come from a ``StreamingQueryListener``; spans are wall-clock
intervals the benchmark records around its calls into the engine.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

WORK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
)


class SparkCounters:
    """Totals of the jobs whose ids fall in a window ``[lo, hi)``."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        # job and stage end events reach the status store asynchronously
        self._sc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        self._drain()
        jobs = self._sc.statusStore().jobsList(None)
        n = jobs.size()
        return 0 if n == 0 else max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) + 1

    def totals(self, lo: int, hi: int) -> dict[str, float]:
        self._drain()
        store = self._sc.statusStore()
        out = dict.fromkeys(WORK_KEYS, 0.0)
        seen: set[int] = set()
        for job_id in range(lo, hi):
            try:
                job = store.job(job_id)
            except Py4JJavaError:  # NoSuchElementException: the id never ran
                continue
            out["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        if jobs:
            s.attrs["job_lo"] = self.counters.next_job_id()
        idx = len(self.spans)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            if jobs:
                s.attrs["job_hi"] = self.counters.next_job_id()
                s.attrs["jobs"] = s.attrs["job_hi"] - s.attrs["job_lo"]

    def add_child(self, parent: Span, name: str, start: float, end: float, **attrs) -> None:
        """Attach an already-finished interval (e.g. a streaming trigger
        rebuilt from listener progress) as a child of ``parent``."""
        self.spans.append(Span(name, start, end, self.spans.index(parent), attrs))

    def self_times(self) -> list[float]:
        """Duration minus the part of it covered by the span's children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(i, [])):
                lo, hi = max(lo, s.start), min(hi, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += 0.0 if cur_hi is None else cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append((s.end - s.start) - covered)
        return out

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def to_json(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "self_s": selfs[i],
                **s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress as a plain dict."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        dur = dict(p.durationMs)
        self.progress.append(
            {
                "end": time.time(),
                "batch_id": p.batchId,
                "duration_ms": dur,
                "input_rows": p.numInputRows,
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                "state_memory_bytes": sum(op.memoryUsedBytes for op in p.stateOperators),
                "state_commit_ms": sum(op.commitTimeMs for op in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def file_sizes(roots: list[str]) -> dict[str, int]:
    """Size of every file under the given directories, by path."""
    import os

    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass  # removed between listing and stat
    return out


class FileLedger:
    """Bytes of files that appeared under a set of directories since the
    ledger last looked — rewritten files get new names, so a path seen for
    the first time is a write."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self._seen: set[str] = set()
        self.new_bytes()

    def new_bytes(self) -> int:
        files = file_sizes(self.roots)
        fresh = sum(size for p, size in files.items() if p not in self._seen)
        self._seen = set(files)
        return fresh

    def disk_bytes(self) -> int:
        return sum(file_sizes(self.roots).values())

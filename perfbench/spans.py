"""Tracing for the benchmark: spans, Spark stage metrics and RSS.

* :class:`Tracer` keeps spans (name, start, end, parent) in memory.  When
  enabled, each span sets a Spark job group, so every stage its jobs
  launch can be attributed back to it.  Jobs submitted from threads that
  do not inherit the group (the pipeline's wave pool) fall back to the
  innermost span open at their submission time.
* :func:`collect_stages` reads the driver's status store, which Spark
  fills even with the UI disabled.
* :func:`span_report` gives each span its self time and the Spark totals
  of the stages attributed to it and its children.
* :class:`RssSampler` samples the RSS of this process's whole tree (the
  driver JVM and the Python workers it forks) from ``/proc``.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import List, Optional

STAGE_SUMS = ("executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "stages", "tasks", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    stages: List[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  A disabled tracer still times its spans (the
    untraced run needs the set-up times) but sets no job group and keeps
    nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self.sc = None  # the SparkContext job groups go to, once one exists
        self.own_s = 0.0  # time spent tracing: the tracing overhead
        self._open: List[Span] = []
        self._ids = itertools.count(1)

    def _group(self, span: Optional[Span]) -> None:
        if self.sc is None:
            return
        t0 = time.perf_counter()
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span.id}", span.name)
        self.own_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(next(self._ids), name, parent.id if parent else None, time.time())
        self._open.append(s)
        if self.enabled:
            self._group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if self.enabled:
                self.spans.append(s)
                self._group(parent)

    def bind(self, sc) -> None:
        """Send job groups to ``sc`` (None while no session is up)."""
        self.sc = sc
        if self.enabled:
            self._group(self._open[-1] if self._open else None)

    def find(self, name: str) -> Span:
        """The latest closed span called ``name``."""
        return next(s for s in reversed(self.spans) if s.name == name)

    def snapshot(self) -> List[Span]:
        """Closed spans, plus the open ones as if they ended now."""
        now = time.time()
        return self.spans + [Span(s.id, s.name, s.parent, s.start, now) for s in self._open]


def _opt_ms(opt) -> Optional[float]:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def collect_stages(sc) -> List[dict]:
    """Every completed or failed stage attempt in the status store, with
    the job groups of the jobs that ran it."""
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    groups = {}
    for job in conv.asJava(store.jobsList(None)):
        g = job.jobGroup().get() if job.jobGroup().isDefined() else None
        for sid in conv.asJava(job.stageIds()):
            groups.setdefault(int(sid), g)
    stages = []
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for sd in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        submit = _opt_ms(sd.submissionTime())
        if submit is None:  # skipped: its output was reused, nothing ran
            continue
        stages.append({
            "stage_id": int(sd.stageId()),
            "attempt": int(sd.attemptId()),
            "group": groups.get(int(sd.stageId())),
            "submit": submit,
            "complete": _opt_ms(sd.completionTime()) or time.time(),
            "executor_run_s": sd.executorRunTime() / 1e3,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "jvm_gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_read_bytes": int(sd.shuffleReadBytes()),
            "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
            "spill_bytes": int(sd.diskBytesSpilled()),
            "stages": 1,
            "tasks": int(sd.numTasks()),
            "failed_tasks": int(sd.numFailedTasks()),
        })
    return stages


def task_skew(sc, stage: dict) -> float:
    """max / median task executor run time of one stage."""
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    runs = [
        t.taskMetrics().get().executorRunTime()
        for t in conv.asJava(store.taskList(stage["stage_id"], stage["attempt"], 100_000))
        if t.taskMetrics().isDefined()
    ]
    return max(runs) / max(statistics.median(runs), 1) if runs else 0.0


def attribute(spans: List[Span], stages: List[dict]) -> None:
    """Attach each stage to the span whose job group launched it, else to
    the innermost span open when it was submitted."""
    by_group = {f"span-{s.id}": s for s in spans}
    for st in stages:
        owner = by_group.get(st["group"])
        if owner is None:
            open_then = [s for s in spans if s.start <= st["submit"] <= s.end]
            owner = max(open_then, key=lambda s: s.start, default=None)
        if owner is not None:
            owner.stages.append(st)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def span_report(spans: List[Span]) -> List[dict]:
    """Per span: wall, self time (wall minus what its children cover),
    and Spark totals over its own and its descendants' stages, with the
    driver gap (wall during which none of those stages ran)."""
    children = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> List[dict]:
        return s.stages + [st for c in children.get(s.id, []) for st in subtree(c)]

    out = []
    for s in sorted(spans, key=lambda s: s.start):
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        stages = subtree(s)
        sums = {k: sum(st[k] for st in stages) for k in STAGE_SUMS}
        busy = _covered([(st["submit"], st["complete"]) for st in stages], s.start, s.end)
        out.append({
            "id": s.id, "name": s.name, "parent": s.parent,
            "start": round(s.start, 6), "end": round(s.end, 6),
            "wall_s": s.wall_s, "self_s": s.wall_s - _covered(kids, s.start, s.end),
            **sums, "driver_gap_s": s.wall_s - busy,
        })
    return out


def _tree_pids(root: int) -> List[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # comm may hold spaces: ppid is the 2nd field after ')'
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the process tree under ``root``,
    including exited children its members have reaped (Python workers
    forked by the worker daemon)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``peak``
    holds the largest sample taken between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak

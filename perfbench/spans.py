"""Span recorder and process-tree accounting for the benchmark.

A span is one call into a layer, made from the benchmark's own code. Each
span runs under its own Spark job group, so the counters of the jobs it
started can be read back from the AppStatusStore over py4j
(``sc._jsc.sc().statusStore()``, which works with ``spark.ui.enabled=false``).
Spans stay in memory and are written out when the run ends; a span's self
time is its duration minus the time its child spans cover.

Process-tree accounting sums ``/proc`` figures over this process and its
descendants (the JVM and its Python workers), leaving out subtrees the
benchmark runs as load generators.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans, each under its own job group."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in job-group switches and counter reads
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(rec)
        self._stack.append(idx)
        group = f"perfbench-{idx}"
        sc = self.spark.sparkContext
        t = time.perf_counter()
        sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            t = time.perf_counter()
            rec.counters = group_counters(self.spark, group)
            parent = self._stack[-1] if self._stack else None
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            self.overhead_s += time.perf_counter() - t

    def self_time(self, idx: int) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (s.start, s.end) for s in self.spans if s.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.spans[idx].duration - covered

    def by_name(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        out = [
            {
                "id": i,
                "name": s.name,
                "parent": s.parent,
                "start_s": s.start - t0,
                "duration_s": s.duration,
                "self_s": self.self_time(i),
                **s.counters,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def group_counters(spark, group: str) -> dict:
    """Jobs, tasks, executor CPU, shuffle write and spill of one job group."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = dict.fromkeys(COUNTERS, 0)
    out["cpu_s"] = 0.0
    stage_ids = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not (g.isDefined() and g.get() == group):
            continue
        out["jobs"] += 1
        ids = job.stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.size()))
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            continue  # skipped stages reused an earlier shuffle
        out["tasks"] += st.numCompleteTasks()
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


# -- process tree -----------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(exclude: set[int] = frozenset()) -> list[int]:
    """This process and its descendants, minus the subtrees in ``exclude``."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(exclude: set[int] = frozenset()) -> float:
    """User+system CPU of the tree, including reaped children of its members."""
    total = 0
    for pid in tree_pids(exclude):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK


def tree_peak_rss_mb(exclude: set[int] = frozenset()) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree_pids(exclude):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0

"""Benchmark-side tracing: spans, Spark job-group counts, store walks and
process memory.

Spark is lazy, so a span around a public call that returns a DataFrame only
covers plan construction; spans that should cover execution are opened
around the action (`collect`/`count`/write). Every span gets its own Spark
job group, so the jobs, stages and tasks an action launched are attributed
to the span that ran it (`finalize` resolves the counts once, after the
listener bus has drained). With tracing off every call here is a no-op.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._sc = None
        # the request top-level spans belong to; nested spans inherit theirs
        self.request_id: str | None = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, request_id: str | None = None):
        """Time a block; the yielded record is None when tracing is off."""
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request_id is None:
            request_id = (self.request_id if parent is None
                          else self.spans[parent]["request_id"])
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "request_id": request_id,
               "group": f"perfbench-{idx}"}
        self.spans.append(rec)
        self._stack.append(idx)
        if self._sc is not None:
            self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    self._sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    # ------------------------------------------------------------ results

    def finalize(self) -> None:
        """Resolve each span's own Spark jobs/stages/tasks."""
        if not (self.enabled and self._sc is not None):
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for i, rec in enumerate(self.spans):
            if rec["parent"] is not None:
                kids[rec["parent"]].append(i)
        return kids

    def named(self, name: str) -> list[int]:
        return [i for i, r in enumerate(self.spans) if r["name"] == name]

    def duration(self, i: int) -> float:
        r = self.spans[i]
        return r["end"] - r["start"]

    def self_time(self, i: int) -> float:
        """Duration minus the time its (sequential) child spans cover."""
        return self.duration(i) - sum(self.duration(c) for c in self._children()[i])

    def inclusive(self, i: int, key: str) -> int:
        """A span's job/stage/task count including all its descendants."""
        kids = self._children()
        total, todo = 0, [i]
        while todo:
            j = todo.pop()
            total += self.spans[j].get(key, 0)
            todo.extend(kids[j])
        return total

    def mean_self(self, name: str) -> float:
        ids = self.named(name)
        return sum(self.self_time(i) for i in ids) / len(ids) if ids else 0.0

    def mean_duration(self, name: str) -> float:
        ids = self.named(name)
        return sum(self.duration(i) for i in ids) / len(ids) if ids else 0.0

    def mean_inclusive(self, name: str, key: str) -> float:
        ids = self.named(name)
        return sum(self.inclusive(i, key) for i in ids) / len(ids) if ids else 0.0

    def sum_inclusive(self, names: list[str], key: str) -> int:
        return sum(self.inclusive(i, key) for n in names for i in self.named(n))

    def dump(self) -> list[dict]:
        return [
            {k: r.get(k) for k in ("name", "start", "end", "parent",
                                   "request_id", "jobs", "stages", "tasks")}
            for r in self.spans
        ]


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`. Hidden files (Spark's `.crc`
    checksums, `_SUCCESS` markers) are not counted."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


def descendants() -> set[int]:
    """Pids of every live process below this one (the JVM and its Python
    workers)."""
    parent_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent_of[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent_of.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree - {os.getpid()}


def process_tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and all its
    descendants, in MiB."""
    kb = 0
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0

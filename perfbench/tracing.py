"""Spans, Spark work counts and host readings, all taken from outside the
package under test.

A span records name, start, end, parent and trace id. Each span runs
under its own Spark job group, so the jobs, stages and tasks it caused
are read back exactly from ``sparkContext.statusTracker()``. Spans stay
in memory until ``Tracer.dump`` writes them out at the end of a run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, trace_id: str, t0: float):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def record(self, name: str, start: float, end: float) -> dict:
        """Add a span timed elsewhere (set-up phases run before Spark)."""
        span = {"id": len(self.spans), "name": name,
                "start": start - self.t0, "end": end - self.t0,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "trace_id": self.trace_id, "counts": {}}
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str):
        """Time the body; count the Spark jobs/stages/tasks it ran."""
        now = time.perf_counter()
        span = self.record(name, now, now)
        self._stack.append(span)
        group = f"perfbench-{self.trace_id}-{span['id']}"
        self.sc.setJobGroup(group, name)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            own = spark_work(self.sc, group)
            for k, v in own.items():
                span["counts"][k] = span["counts"].get(k, 0) + v
            if self._stack:
                parent = self._stack[-1]
                for k, v in span["counts"].items():
                    if k in own:
                        parent["counts"][k] = parent["counts"].get(k, 0) + v
                self.sc.setJobGroup(
                    f"perfbench-{self.trace_id}-{parent['id']}",
                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def wall(span: dict) -> float:
        return span["end"] - span["start"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, fh,
                      indent=1)


def spark_work(sc, group: str) -> dict:
    """Jobs, stages and completed tasks of one job group. The status store
    is filled from the asynchronous listener bus, so the bus is drained
    first: otherwise the last job's task-end events may not have arrived
    yet and the counts would come out short."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stage = st.getStageInfo(s)
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
    return {"spark_jobs": len(jobs), "stages": stages, "tasks": tasks}


# --- host readings ------------------------------------------------------------

def _proc_status(pid: int, key: str) -> int:
    """A ``kB`` field of /proc/<pid>/status (0 if the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc/*/stat ppids)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the JVM plus every Python worker it forked, in MiB."""
    pids = [jvm_pid] + descendants(jvm_pid)
    return sum(_proc_status(p, "VmHWM") for p in pids) / 1024.0


def tree_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a table directory; markers excluded."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size

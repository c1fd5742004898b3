"""Spans, Spark task counts and /proc sampling for the benchmark.

A :class:`Tracer` records one span per call into a layer's public entry
point: name, start, end, parent, run id and the Spark job group its jobs
ran under. Spans stay in memory; :meth:`Tracer.finish` attaches task and
stage counts from the status tracker, derives self time and CPU use, and
:meth:`Tracer.dump` writes them out as JSON once the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
SPAN_FIELDS = ("id", "name", "parent", "run_id", "job_group", "start", "end",
               "dur_s", "self_s", "cpu_s", "cpu_util", "jobs", "stages",
               "tasks", "failed_tasks", "max_stage_tasks", "counts")


class ProcTree:
    """The driver JVM and every process below it (the Python daemon and
    its workers), read from /proc."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while we looked
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_seconds(self) -> float:
        """User + system time of the tree, reaped children included."""
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15])
        return total / _CLK

    def peak_rss_mb(self) -> float:
        """Sum of VmHWM over the tree."""
        kb = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024.0


class Tracer:
    """In-memory span recorder. Each span runs its Spark jobs under its
    own job group, so task counts can be read back per span."""

    def __init__(self, run_id: str, cores: int):
        self.run_id, self.cores = run_id, cores
        self.sc = self.procs = None  # set by attach() once Spark is up
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.finished = False

    def attach(self, sc, procs: ProcTree) -> None:
        self.sc, self.procs = sc, procs

    def record(self, name: str, t0: float, t1: float) -> None:
        """A span timed before Spark was up (no jobs, no CPU figure)."""
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": None,
            "run_id": self.run_id, "job_group": None, "counts": {},
            "start": t0 - self._t0, "end": t1 - self._t0, "dur_s": t1 - t0,
            "cpu_s": 0.0})

    @contextmanager
    def span(self, name: str):
        """Time one layer call; yields the span's ``counts`` dict."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "job_group": f"{self.run_id}/{sid}",
               "counts": {}}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["job_group"], name)
        cpu0, t0 = self.procs.cpu_seconds(), time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            t1, cpu1 = time.perf_counter(), self.procs.cpu_seconds()
            rec.update(start=t0 - self._t0, end=t1 - self._t0,
                       dur_s=t1 - t0, cpu_s=cpu1 - cpu0)
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(
                self.spans[parent]["job_group"] if parent is not None
                else f"{self.run_id}/-", "untraced")

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def finish(self) -> None:
        """Attach Spark job/stage/task counts, self time and CPU use, once
        every span has ended. Later calls do nothing."""
        if self.finished:
            return
        self.finished = True
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in self.spans:
            jobs = list(st.getJobIdsForGroup(s["job_group"])) if s["job_group"] else []
            stage_ids = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            ran = [i for i in (st.getStageInfo(x) for x in stage_ids)
                   if i is not None and i.numCompletedTasks + i.numFailedTasks > 0]
            s.update(jobs=len(jobs), stages=len(ran),
                     tasks=sum(i.numCompletedTasks for i in ran),
                     failed_tasks=sum(i.numFailedTasks for i in ran),
                     max_stage_tasks=max((i.numTasks for i in ran), default=0))
        for s in reversed(self.spans):  # children before parents
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            for c in kids:
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    s[k] += c[k]
                s["max_stage_tasks"] = max(s["max_stage_tasks"], c["max_stage_tasks"])
            s["self_s"] = s["dur_s"] - _covered(kids, s["start"], s["end"])
            s["cpu_util"] = (s["cpu_s"] / (s["dur_s"] * self.cores)
                             if s["dur_s"] > 0 else 0.0)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra,
                       "spans": [{k: s.get(k) for k in SPAN_FIELDS} for s in self.spans]},
                      f, indent=1)


def _covered(kids: list[dict], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the kids' intervals."""
    total, cur = 0.0, lo
    for a, b in sorted((max(k["start"], lo), min(k["end"], hi)) for k in kids):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total

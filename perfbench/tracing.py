"""Spans, Spark counters and /proc readings for the benchmark.

A :class:`Tracer` records one span per layer call made by the benchmark
(name, start, end, parent span, request id) and sets a Spark job group
per span, so the jobs a layer call launched can be counted through
``statusTracker`` and matched to task metrics in the event log.  Spans
stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, sc, run_tag: str):
        self.sc = sc
        self.run_tag = run_tag
        self.spans: list[dict] = []
        self.request = -1  # the operation being traced; measure() advances it
        self.probe = None  # the probe workload's name while one runs
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time one layer call; yields a dict for the span's counts."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "probe": self.probe,
            "group": f"{self.run_tag}-{len(self.spans)}",
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def read_status(self) -> None:
        """Attach jobs / stages / tasks / failed tasks to every span from
        the live ``statusTracker`` (call before the context stops)."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numCompletedTasks + info.numFailedTasks
                    failed += info.numFailedTasks
            rec["status"] = {
                "jobs": len(jobs), "stages": len(stages),
                "tasks": tasks, "tasks_failed": failed,
            }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from Spark event logs:
    shuffle bytes written/read, executor CPU seconds, spill bytes."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for name in sorted(os.listdir(log_dir)):
        stage_group.clear()  # stage ids restart with every context
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    c = out[group]
                    c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    r = m["Shuffle Read Metrics"]
                    c["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
                    c["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                    c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return out


# ------------------------------------------------------------------ /proc
def steal_seconds() -> float:
    """Cumulative hypervisor steal time of all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def _parents() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _parents()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's RSS high-water mark (VmHWM)."""
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss(pids: list[int]) -> int:
    """Sum of the processes' RSS high-water marks, in bytes."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
    return total

"""Spans, Spark job-group counts, peak RSS and host-contention accounting.

A ``Tracer`` records spans (name, start, end, parent, op id) in memory and
writes them out as JSON lines when the run ends.  Span names are
``<layer>.<call>``; a layer's self time is the time its spans cover minus
the part of that time their child spans cover.  A disabled tracer records
nothing, so the untraced run pays one attribute check per call.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: dict | None = None):
        """Yields the span record (None when disabled); ``parent`` links a
        span to one opened on another thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else parent
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the union of its
        children's intervals, summed by layer (the name's first part)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs, executed stages and completed tasks per op, read from
    the status tracker by job group.  Ops set their group on the calling
    thread (PySpark pins Python threads to JVM threads)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.ops = 0
        self.jobs = self.stages = self.tasks = 0
        self._lock = threading.Lock()

    @contextmanager
    def op(self, op_id: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count(op_id)

    def _count(self, op_id: str) -> None:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(op_id)
        stage_ids = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        with self._lock:
            self.ops += 1
            self.jobs += len(job_ids)
            self.stages += stages
            self.tasks += tasks

    def per_op(self) -> dict[str, float]:
        n = max(1, self.ops)
        return {"jobs": self.jobs / n, "stages": self.stages / n, "tasks": self.tasks / n}


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cumulative CPU seconds incl. reaped children)."""
    stats = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process exited while we listed
        stats[int(p)] = (int(st[1]), sum(int(x) for x in st[11:15]) / _CLK_TCK)
    return stats


def own_pids(stats: dict[int, tuple[int, float]]) -> set[int]:
    """This process and every live descendant (the JVM, its workers)."""
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if pid not in mine and ppid in mine:
                mine.add(pid)
                grew = True
    return mine


def cpu_totals() -> tuple[float, float]:
    """(host busy CPU seconds, this process tree's CPU seconds)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    busy = (sum(vals) - vals[3] - vals[4]) / _CLK_TCK  # minus idle and iowait
    stats = _proc_stats()
    return busy, sum(stats[p][1] for p in own_pids(stats) if p in stats)


class HostMeter:
    """External CPU (host busy minus our tree) over a measured window, in
    cores.  Above ``CONTENDED_CORES`` the run shared the host and its
    timings are not evidence of a regression."""

    CONTENDED_CORES = 0.5

    def __init__(self):
        self._t0 = time.perf_counter()
        self._c0 = cpu_totals()

    def ext_cores(self) -> float:
        busy, mine = cpu_totals()
        wall = max(1e-9, time.perf_counter() - self._t0)
        return max(0.0, (busy - self._c0[0]) - (mine - self._c0[1])) / wall


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every live descendant, MB."""
    total_kb = 0
    for pid in own_pids(_proc_stats()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0

"""Spans, Spark job/stage accounting and process memory for the benchmark.

Spans are recorded from outside the engine, around calls into its public
functions.  Each traced span runs under its own Spark job group, so the
jobs it caused can be counted with ``SparkContext.statusTracker`` and
their stages looked up in the local Spark UI REST API (busy time, GC
time, shuffle bytes, active intervals).  Spans stay in memory and are
written out once, after the timed window.

With tracing off, ``span`` only yields; nothing is recorded and no job
group is set, so the untraced run times the engine alone.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request
from datetime import datetime, timezone


def _ui_time(s: str | None) -> float | None:
    """Spark UI timestamp ('2026-01-01T10:00:00.123GMT') -> epoch seconds."""
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: run phase stamped on each span: "setup", "window" or "after"
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str, req: int | None = None, **attrs):
        """Record ``name`` around the body; yields the span dict (or
        None when tracing is off) so callers can attach counts.  The
        tracer's own time on entry and exit is kept as ``trace_s``."""
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "req": req if req is not None else (parent or {}).get("req"),
              "group": f"pb-span-{len(self.spans)}", "phase": self.phase,
              **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["trace_s"] = time.perf_counter() - b0
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            b1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp["trace_s"] += time.perf_counter() - b1

    # ----------------------------------------------------- after the window
    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def resolve(self) -> None:
        """Attach job, task, stage-time, GC and shuffle figures to every
        span.  A span whose jobs ran under a job group the engine set
        itself (a streaming query's run id) names it in ``job_group``."""
        if not self.enabled:
            return
        stages = {}
        for st in self._rest("stages?status=complete"):
            stages.setdefault(st["stageId"], st)
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            job_ids = tracker.getJobIdsForGroup(sp.get("job_group", sp["group"]))
            stage_ids = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            busy = gc = shuffle = 0.0
            tasks = 0
            intervals = []
            for sid in stage_ids:
                st = stages.get(sid)
                if st is None:  # skipped stage: its output was reused
                    continue
                tasks += st.get("numCompleteTasks", 0)
                busy += st.get("executorRunTime", 0) / 1e3
                gc += st.get("jvmGcTime", 0) / 1e3
                shuffle += st.get("shuffleWriteBytes", 0)
                s, e = (_ui_time(st.get("submissionTime")),
                        _ui_time(st.get("completionTime")))
                if s is not None and e is not None:
                    intervals.append((max(s, sp["start"]), min(e, sp["end"])))
            wall = sp["end"] - sp["start"]
            sp.update(jobs=len(job_ids), tasks=tasks, executor_s=busy,
                      gc_s=gc, shuffle_write_bytes=shuffle,
                      driver_s=max(0.0, wall - _union_length(
                          [(s, e) for s, e in intervals if e > s])))
        by_id = {sp["id"]: sp for sp in self.spans}
        for sp in self.spans:
            kids = [by_id[c["id"]] for c in self.spans if c["parent"] == sp["id"]]
            sp["self_s"] = (sp["end"] - sp["start"]) - _union_length(
                [(k["start"], k["end"]) for k in kids])

    def cached_mb(self) -> float:
        """Spark storage memory held now (all persisted RDDs)."""
        rdds = self._rest("storage/rdd")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in rdds) / 2**20

    def select(self, name: str, phase: str | None = None) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name
                and phase in (None, sp["phase"])]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


class PythonRss:
    """Summed RSS of this Python process plus every Python process
    descended from the Spark JVM (the PySpark daemon and its workers),
    sampled from /proc in a background thread between ``start`` and
    ``stop``.  The mean over the samples is reported: the peak depends on
    whether a sample catches a short-lived extra worker.  Even the mean
    moves by a worker's footprint between runs, because the number of
    worker processes PySpark keeps alive varies, so the process count is
    reported beside it."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.samples: list[tuple[int, int]] = []  # (bytes, processes)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def _stat(pid: str):
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            return None
        # rest[1] is the parent pid, rest[21] the RSS in pages
        return int(rest[1]), int(rest[21]) * os.sysconf("SC_PAGE_SIZE"), comm

    def sample(self) -> int:
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = self._stat(pid)
                if st is not None:
                    procs[int(pid)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total, n = procs.get(os.getpid(), (0, 0, ""))[1], 1
        todo = list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            if procs[pid][2].startswith("python"):
                total += procs[pid][1]
                n += 1
        self.samples.append((total, n))

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, float]:
        """(mean MB, mean number of Python processes) over the samples."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()
        return (sum(b for b, _ in self.samples) / len(self.samples) / 2**20,
                sum(n for _, n in self.samples) / len(self.samples))

"""Spans around the benchmark's calls into the program, Spark job
accounting per span, memory sampling and host state.

A traced call runs under its own Spark job group, so every job, stage
and task it starts can be attributed afterwards: job and stage ids and
task counts come from the status tracker, executor time, GC time,
input and shuffle bytes and job start/end times from the Spark driver's
local UI REST endpoint. Spans stay in memory until ``attach`` runs
once, after the measured loop.
"""

from __future__ import annotations

import calendar
import contextlib
import hashlib
import json
import os
import threading
import time
import urllib.request
from datetime import datetime


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, layer: str, fn: str, **attrs):
        """Record one call as a span; spans of one benchmark operation
        share its ``op`` attribute."""
        self._next += 1
        rec = {"id": self._next, "layer": layer, "fn": fn,
               "group": f"perfbench-{self._next}", **attrs}
        self.sc.setJobGroup(rec["group"], f"{layer}.{fn}")
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def attach(self, timeout_s: float = 20.0) -> None:
        """Attach Spark job/stage/task counts, executor and GC time,
        bytes and the driver gap (span wall not covered by any of its
        jobs) to every span."""
        if not self.spans:
            return
        tracker = self.sc.statusTracker()
        want = {s["group"]: sorted(tracker.getJobIdsForGroup(s["group"])) for s in self.spans}
        n_want = sum(len(v) for v in want.values())
        base = _rest_base(self.sc)
        deadline = time.time() + timeout_s
        while True:
            jobs = _get_json(f"{base}/jobs")
            done = [j for j in jobs if j.get("jobGroup") in want and j["status"] != "RUNNING"]
            if len(done) >= n_want or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {(st["stageId"], st["attemptId"]): st for st in _get_json(f"{base}/stages")}
        by_stage: dict[int, list[dict]] = {}
        for st in stages.values():
            by_stage.setdefault(st["stageId"], []).append(st)
        jobs_by_group: dict[str, list[dict]] = {}
        for j in jobs:
            jobs_by_group.setdefault(j.get("jobGroup"), []).append(j)
        for s in self.spans:
            js = jobs_by_group.get(s["group"], [])
            s["jobs"] = len(want[s["group"]])
            stage_ids = sorted({sid for j in js for sid in j.get("stageIds", [])})
            attempts = [a for sid in stage_ids for a in by_stage.get(sid, [])
                        if a.get("status") != "SKIPPED"]
            s["stages"] = len(attempts)
            s["tasks"] = sum(a.get("numCompleteTasks", 0) + a.get("numFailedTasks", 0) for a in attempts)
            s["task_failures"] = sum(a.get("numFailedTasks", 0) for a in attempts)
            s["executor_run_s"] = sum(a.get("executorRunTime", 0) for a in attempts) / 1e3
            s["gc_s"] = sum(a.get("jvmGcTime", 0) for a in attempts) / 1e3
            s["input_bytes"] = sum(a.get("inputBytes", 0) for a in attempts)
            s["input_records"] = sum(a.get("inputRecords", 0) for a in attempts)
            s["shuffle_write_bytes"] = sum(a.get("shuffleWriteBytes", 0) for a in attempts)
            spans = []
            for j in js:
                if j.get("submissionTime") and j.get("completionTime"):
                    spans.append((max(_ts(j["submissionTime"]), s["start"]),
                                  min(_ts(j["completionTime"]), s["end"])))
            s["job_s"] = _covered(spans)
            s["driver_gap_s"] = max(0.0, s["wall_s"] - s["job_s"])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _rest_base(sc) -> str:
    # the UI binds every interface; address it by loopback, not by the
    # host name in uiWebUrl
    port = sc.uiWebUrl.rsplit(":", 1)[1].strip("/")
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _ts(s: str) -> float:
    """'2026-01-02T03:04:05.678GMT' -> epoch seconds."""
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ------------------------------------------------------------------ memory


def _descendants(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out.append((c, parent))
            todo.append(c)
    return out


def _proc_kb(path: str, key: str) -> float:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0.0


class MemorySampler:
    """Peak summed memory of this process's descendants: the Spark driver
    JVM and its Python workers.

    The Python workers are forked and share pages, so they count by
    proportional set size (PSS: a shared page is split between the
    processes sharing it), sampled. The JVM, this process's child,
    shares pages with nothing, so its resident set equals its PSS; it
    counts by the peak resident set the kernel keeps for it (``VmHWM``),
    which a sample cannot miss, and which costs no page-table walk as
    PSS does. On a 4-core host, PSS for every process sampled every
    0.25 s took about 10 s of CPU in a one-minute run; this way, every
    0.5 s, it takes about 1-2 s."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        jvm_kb = py_kb = 0.0
        py_procs = 0
        for pid, ppid in _descendants(me):
            if ppid == me:
                jvm_kb += _proc_kb(f"/proc/{pid}/status", "VmHWM:")
            else:
                py_kb += _proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
                py_procs += 1
        if (jvm_kb + py_kb) / 1024 > self.peak_mb:
            self.peak_mb = (jvm_kb + py_kb) / 1024
            # what the peak is made of, to attribute an unsteady reading
            self.peak_parts = {"jvm_mb": round(jvm_kb / 1024), "python_mb": round(py_kb / 1024),
                               "python_procs": py_procs}

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def wait_descendants_gone(timeout_s: float = 30.0) -> list[int]:
    """Wait until every child process has exited; returns stragglers."""
    deadline = time.time() + timeout_s
    while True:
        left = [pid for pid, _ in _descendants(os.getpid())]
        if not left or time.time() > deadline:
            return left
        time.sleep(0.1)


# --------------------------------------------------------------- host state


def cpu_probe_s() -> float:
    """Fixed single-thread probe: min of 3 sha256 passes over 64 MiB.
    Recorded beside each run to attribute unsteady runs; metrics are
    never normalized by it."""
    data = b"\xab" * (64 * 2**20)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.sha256(data).digest()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def loadavg() -> list[float]:
    return [round(v, 2) for v in os.getloadavg()]


def steal_s() -> float:
    """CPU time, summed over CPUs, that the hypervisor gave to other
    guests since boot (the ``steal`` column of ``/proc/stat``); 0 where
    it is not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0

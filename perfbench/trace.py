"""Measurement plumbing for the benchmark: job ledger, spans, memory
sampling and Spark event-log parsing.

Everything here wraps the package from the outside. Spans are recorded
around calls into the package's public methods, never inside it.
"""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict


def tail(values):
    """(value, percentile, n): the highest whole percentile with at
    least ten samples above it. With 20 or fewer samples no percentile
    above the median qualifies, so the median is returned."""
    n = len(values)
    pct = int(100 * (n - 10) / n) if n > 20 else 50
    if pct == 50:
        return statistics.median(values), pct, n
    s = sorted(values)
    return s[min(n - 1, math.ceil(pct / 100 * n) - 1)], pct, n


class JobLedger:
    """Tags each op with its own Spark job group, then asks the status
    tracker which jobs ran under it: exact job counts at the cost of
    two py4j calls per op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = None

    def begin(self, op_id: str, kind: str) -> None:
        self.group = op_id
        self.sc.setJobGroup(op_id, kind)

    def jobs(self) -> list:
        if self.group is None:
            return []
        return sorted(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def end(self) -> list:
        ids = self.jobs()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.group = None
        return ids


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent,
    op id, jobs started inside it); spans are written out by the caller
    at exit."""

    def __init__(self, ledger: JobLedger):
        self.ledger = ledger
        self.spans = []
        self._stack = []
        self.op_id = None

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, obj, method: str, name=None) -> None:
        """Replace `obj.method` on this instance with a span-recording
        wrapper. Internal calls through `self.method` pick it up too.
        `name` may be a callable taking the call's arguments."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return inner(*args, **kwargs)

        setattr(obj, method, wrapper)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        self.parent = t._stack[-1]["id"] if t._stack else None
        self.rec = {"id": len(t.spans), "name": self.name, "parent": self.parent,
                    "op": t.op_id, "jobs0": set(t.ledger.jobs())}
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        rec = self.rec
        rec["end"] = time.perf_counter()
        rec["jobs"] = len(set(self.t.ledger.jobs()) - rec.pop("jobs0"))
        rec["error"] = exc[0] is not None
        self.t._stack.pop()
        return False


def span_summary(spans: list) -> dict:
    """Per span name: calls, busy_s (inclusive), self_s (minus the part
    covered by child spans), jobs (inclusive) and the job count of each
    call. A name nested inside itself is counted once, at its outermost
    span."""
    by_id = {s["id"]: s for s in spans}
    child_time = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out = defaultdict(lambda: {"calls": 0, "busy_s": 0.0, "self_s": 0.0, "jobs": 0,
                               "jobs_per_call": []})
    for s in spans:
        dur = s["end"] - s["start"]
        rec = out[s["name"]]
        rec["self_s"] += dur - child_time[s["id"]]
        p, nested = s["parent"], False
        while p is not None:
            if by_id[p]["name"] == s["name"]:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            rec["calls"] += 1
            rec["busy_s"] += dur
            rec["jobs"] += s["jobs"]
            rec["jobs_per_call"].append(s["jobs"])
    return dict(out)


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    driver JVM and the Python workers it forks), sampled from /proc.

    Counts proportional set size (PSS): pages shared between processes
    are split among them, so a JVM thread that forks a helper is not
    counted twice while the child still shares the parent's pages."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_parts = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self, pid: int) -> list:
        pids, todo = [], [pid]
        while todo:
            p = todo.pop()
            pids.append(p)
            for task in glob.glob(f"/proc/{p}/task/*/children"):
                try:
                    with open(task) as f:
                        todo.extend(int(c) for c in f.read().split())
                except OSError:
                    pass
        return pids

    def sample(self) -> int:
        total, parts = 0, {}
        for p in self._tree(os.getpid()):
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    rss = next(int(line.split()[1]) * 1024 for line in f
                               if line.startswith("Pss:"))
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
            except (OSError, StopIteration):
                continue
            total += rss
            parts[comm] = parts.get(comm, 0) + rss
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts
        return total

    def _run(self):
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def eventlog_conf(log_dir: str) -> dict:
    """Confs for an uncompressed, single-file event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_eventlog(path: str) -> dict:
    """Per job group: job windows and task-level totals."""
    job_group, job_win, stage_job = {}, {}, {}
    stages_done = defaultdict(set)
    stage_submit = {}
    groups = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[jid] = gid
                job_win[jid] = [ev["Submission Time"], ev["Submission Time"]]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_win:
                    job_win[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get(
                    "Submission Time")
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                gid = job_group.get(stage_job.get(sid))
                stages_done[gid].add((sid, ev["Stage Info"]["Stage Attempt ID"]))
            elif kind == "SparkListenerTaskEnd":
                gid = job_group.get(stage_job.get(ev["Stage ID"]))
                g = groups[gid]
                info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sub = stage_submit.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                if sub and info.get("Launch Time"):
                    g["task_wait_s"] += max(0, info["Launch Time"] - sub) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0)
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                g["input_bytes"] += inp.get("Bytes Read", 0)
                g["input_rows"] += inp.get("Records Read", 0)
    windows = defaultdict(list)
    for jid, gid in job_group.items():
        windows[gid].append(tuple(job_win[jid]))
    return {gid: {**groups.get(gid, {}), "jobs": len(windows[gid]),
                  "stages": len(stages_done.get(gid, ())), "windows_ms": sorted(windows[gid])}
            for gid in set(windows) | set(groups)}


def union_s(windows_ms: list) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(windows_ms):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3

"""Tracing for the per-layer run: spans recorded by wrappers the benchmark
installs around the engine's public calls, job counts from job tags and
``statusTracker``, and task metrics parsed offline from a Spark event log.

Nothing here runs in a timed (``--trace 0``) run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

# Spark 4.1 Python SQL metric names, as they appear in task accumulables
PY_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.received_bytes",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
}


class Tracer:
    """Spans (name, start, end, parent, tag) kept in memory. Each span also
    adds a Spark job tag while open, so the jobs it started can be counted
    from ``statusTracker`` afterwards. Parents are tracked per thread: the
    foreachBatch handler runs on a callback thread of its own.

    Wrappers are installed before a stream starts (foreachBatch holds the
    handler it was given) and record only while ``enabled``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, tag=None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            rec = {
                "name": name,
                "tag": tag,
                "parent": stack[-1] if stack else None,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        job_tag = f"perfbench-span-{idx}"
        stack.append(idx)
        self.sc.addJobTag(job_tag)
        try:
            yield rec
        finally:
            self.sc.removeJobTag(job_tag)
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, tag_arg: int | None = None):
        """Replace ``owner.attr`` with a wrapper that records a span around
        each call; ``tag_arg`` picks the positional argument used as tag."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            tag = args[tag_arg] if tag_arg is not None and len(args) > tag_arg else None
            with self.span(name, tag):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reading the spans back ---------------------------------------------
    def jobs_of(self, idx: int) -> list[int]:
        tracker = self.sc._jsc.sc().statusTracker()
        return list(tracker.getJobIdsForTag(f"perfbench-span-{idx}"))

    def stages_of(self, job_ids) -> int:
        tracker = self.sc.statusTracker()
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return len(stages)

    def select(self, name: str, since: float = 0.0) -> list[int]:
        return [
            i
            for i, s in enumerate(self.spans)
            if s["name"] == name and s["start"] >= since and s["end"] is not None
        ]

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s["end"] - s["start"]

    def self_time(self, idx: int) -> float:
        """Span duration minus the union of its direct children's intervals."""
        s = self.spans[idx]
        kids = sorted(
            (c["start"], c["end"])
            for c in self.spans
            if c["parent"] == idx and c["end"] is not None
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # keep every job of the run visible to statusTracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _events(log_dir: str):
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def event_log_metrics(log_dir: str, t0: float, t1: float, wall_s: float, cores: int) -> dict:
    """Executor, shuffle, spill and Python-boundary totals over the tasks
    launched in [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000, t1 * 1000
    jobs = stages = tasks = failed = 0
    run_ms = gc_ms = 0
    cpu_ns = 0
    sh_w = sh_r = spill = 0
    py = {k: 0.0 for k in PY_METRICS.values()}
    read_by_stage: dict[int, list[int]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev.get("Submission Time", 0) <= hi:
                jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if lo <= info.get("Submission Time", 0) <= hi:
                stages += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not lo <= info["Launch Time"] <= hi:
                continue
            tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                failed += 1
            m = ev.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            spill += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sh_w += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            r = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sh_r += r
            read_by_stage.setdefault(ev["Stage ID"], []).append(r)
            for acc in info.get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    py[key] += float(acc.get("Update") or 0)
    skew = 0.0
    if read_by_stage:
        biggest = max(read_by_stage.values(), key=sum)
        med = statistics.median(biggest)
        if sum(biggest):
            skew = max(biggest) / med if med else float(len(biggest))
    for key in ("python.run_s", "python.boot_s", "python.init_s"):
        py[key] /= 1000  # SQL "timing" metrics are in milliseconds
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.failed_tasks": failed,
        "exec.run_s": run_ms / 1000,
        "exec.cpu_s": cpu_ns / 1e9,
        "exec.gc_s": gc_ms / 1000,
        "exec.busy_ratio": (run_ms / 1000) / (wall_s * cores) if wall_s else 0.0,
        "shuffle.write_bytes": sh_w,
        "shuffle.read_bytes": sh_r,
        "shuffle.skew": skew,
        "spill.bytes": spill,
        **py,
    }

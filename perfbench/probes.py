"""Measurement from outside the engine: spans, Spark job counts, the
Spark event log, process memory and a host stamp.

Nothing here is imported by the engine; every number comes from timing
calls into the engine's public functions or from what Spark and the OS
report about them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out by
    `dump`.  A disabled tracer records nothing and costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"run": self.run_id, "id": idx, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group `group`, read from
    the StatusTracker.  Stages skipped because their shuffle output was
    reused are not counted: they launch no tasks."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            if st is None or st.numCompletedTasks == 0 or s in stages:
                continue
            stages.add(s)
            tasks += st.numTasks
    return len(jobs), len(stages), tasks


# ---------------------------------------------------------------------------
# Spark event log


def eventlog_submit_args(log_dir: str) -> str:
    """spark-submit options that turn the event log on for one process.
    Passed through PYSPARK_SUBMIT_ARGS, i.e. from outside the engine's own
    session settings."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
    )


def _scope_names(stage_info: dict) -> list[str]:
    names = []
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.append(json.loads(scope)["name"])
            except (ValueError, KeyError):
                pass
    return names


def read_eventlog(log_dir: str, group_prefix: str) -> dict:
    """Task metrics of every job whose job group starts with
    `group_prefix`, attributed to stages and to the plan nodes (RDD
    scope names) each stage runs.  Every stage of a DataFrame action is
    named `$anonfun$withThreadLocalCaptured$2`, so the scope names are
    what tells a decode stage (MapInPandas) from an exchange or a scan.
    Each session writes its own log, and stage ids restart in each, so
    stages are keyed by (log file, stage id)."""
    stage_scopes: dict[tuple, list[str]] = {}
    stage_run_ms: dict[tuple, int] = {}
    totals = {"run_ms": 0, "shuffle_write": 0, "spill": 0}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        ours: set[int] = set()
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        ours.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_scopes[(path, info["Stage ID"])] = \
                        _scope_names(info)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    if sid not in ours:
                        continue
                    m = ev.get("Task Metrics") or {}
                    run_ms = int(m.get("Executor Run Time", 0))
                    key = (path, sid)
                    stage_run_ms[key] = stage_run_ms.get(key, 0) + run_ms
                    totals["run_ms"] += run_ms
                    sw = m.get("Shuffle Write Metrics") or {}
                    totals["shuffle_write"] += int(
                        sw.get("Shuffle Bytes Written", 0))
                    totals["spill"] += int(m.get("Memory Bytes Spilled", 0)) \
                        + int(m.get("Disk Bytes Spilled", 0))
    by_node: dict[str, int] = {}
    decode_ms = 0
    for key, ms in stage_run_ms.items():
        scopes = stage_scopes.get(key, [])
        for name in set(scopes):
            by_node[name] = by_node.get(name, 0) + ms
        if "MapInPandas" in scopes:
            decode_ms += ms
    return {
        **totals, "decode_ms": decode_ms,
        "by_node_ms": dict(sorted(by_node.items(), key=lambda kv: -kv[1])),
    }


# ---------------------------------------------------------------------------
# process memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of `root` and all its descendants (the driver JVM
    and the Python workers are children of this process)."""
    kids = _children()
    todo, total, page = [root], 0, os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


RSS_INTERVAL_S = 0.25


class RssSampler:
    """Samples tree_rss_bytes every RSS_INTERVAL_S in a background thread;
    `peak` is the largest sample."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------------------------
# host stamp


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_probe() -> float:
    """Seconds for a fixed single-core loop (median of 5, after one
    untimed pass)."""
    times = []
    for _ in range(6):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


# The probe may read slower at the end of a run (a competitor appeared)
# or faster (a competitor left, or the governor ramped up); both mean the
# run did not see one steady machine.
PROBE_DRIFT_RANGE = (-0.15, 0.05)


def host_stamp(start: dict, end_probe: float, end_load: float) -> dict:
    """The run keeps every core busy itself, so the load averages are
    quiet while they stay under one more than the core count."""
    nproc = len(os.sched_getaffinity(0))
    drift = end_probe / start["probe_s"] - 1.0
    lo, hi = PROBE_DRIFT_RANGE
    return {
        "nproc": nproc,
        "loadavg_start": start["load"], "loadavg_end": end_load,
        "probe_start_s": start["probe_s"], "probe_end_s": end_probe,
        "probe_drift": drift,
        "quiet": bool(lo < drift < hi
                      and max(start["load"], end_load) < nproc + 1),
    }

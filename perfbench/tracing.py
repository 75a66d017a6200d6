"""Spans around calls into the package, attributed to Spark work.

A span sets a job group of its own on the calling thread, so every
Spark job the call causes carries the span's id; the Spark event log
(enabled at JVM launch) then gives the span's jobs, stages and task
metrics.  Spans are kept in memory and joined with the event log once
the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time

#: per-span counters taken from the event log
COUNTERS = (
    "jobs", "stages", "single_task_stages", "tasks", "failed_tasks",
    "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_records", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
#: per-span times measured by the benchmark's clock
SPAN_TIMES = ("wall_ms", "self_ms", "driver_ms")


class NullTracer:
    """Untraced runs: spans cost one ``with`` and nothing else."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    """Keeps one record per span; each span runs its Spark jobs under a
    job group of its own on the calling thread, so concurrent callers
    stay apart."""

    enabled = True

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = f"pb-{next(self._ids)}"
        rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None, **attrs}
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(sid, name)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if prev is not None:
                self._sc.setJobGroup(prev, stack[-1]["name"] if stack else "")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)


def eventlog_conf(log_dir: str) -> list[str]:
    """``--conf`` flags that turn the event log on at JVM launch."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
    ]


def read_eventlog(log_dir: str) -> dict[str, dict]:
    """Per job group: its jobs' wall intervals and summed counters."""
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)),
        key=lambda p: (os.path.dirname(p), _roll_index(p)),
    )
    stage_group: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    groups: dict[str, dict] = {}

    def grp(gid):
        return groups.setdefault(gid, {"intervals": [], **{c: 0 for c in COUNTERS}})

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        jobs[ev["Job ID"]] = {"gid": gid, "start": ev["Submission Time"] / 1e3}
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    job = jobs.pop(ev["Job ID"])
                    g = grp(job["gid"])
                    g["intervals"].append((job["start"], ev["Completion Time"] / 1e3))
                    g["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        stage_group[ev["Stage Info"]["Stage ID"]] = gid
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    gid = stage_group.get(info["Stage ID"])
                    if gid:
                        g = grp(gid)
                        g["stages"] += 1
                        g["single_task_stages"] += info["Number of Tasks"] == 1
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    if not gid:
                        continue
                    g = grp(gid)
                    g["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    g["failed_tasks"] += bool(info.get("Failed"))
                    m = ev.get("Task Metrics") or {}
                    g["executor_run_ms"] += m.get("Executor Run Time", 0)
                    g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    inp = m.get("Input Metrics") or {}
                    g["input_records"] += inp.get("Records Read", 0)
                    g["input_bytes"] += inp.get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return groups


def _roll_index(path: str) -> int:
    base = os.path.basename(path)
    if base.startswith("events_"):
        try:
            return int(base.split("_")[1])
        except (IndexError, ValueError):
            return 0
    return 0


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi], in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1e3


def span_rows(spans: list[dict], groups: dict[str, dict]) -> list[dict]:
    """One row per span: wall, self and driver time plus its counters."""
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    rows = []
    for s in spans:
        g = groups.get(s["id"], {"intervals": []})
        wall = (s["end"] - s["start"]) * 1e3
        row = {
            "name": s["name"],
            "wall_ms": wall,
            "self_ms": wall - _union_ms(children.get(s["id"], []), s["start"], s["end"]),
            "driver_ms": wall - _union_ms(g["intervals"], s["start"], s["end"]),
            **{c: g.get(c, 0) for c in COUNTERS},
        }
        row.update({k: v for k, v in s.items() if k not in ("id", "name", "parent", "start", "end")})
        rows.append(row)
    return rows


def per_call(rows: list[dict], name: str, fields) -> dict[str, float]:
    """Median wall/self/driver time and mean counters per call of ``name``
    (zero when the workload never calls it)."""
    mine = [r for r in rows if r["name"] == name]
    out = {}
    for f in fields:
        vals = [float(r.get(f, 0)) for r in mine]
        if not vals:
            out[f"{name}.{f}"] = 0.0
        elif f in SPAN_TIMES:
            out[f"{name}.{f}"] = statistics.median(vals)
        else:
            out[f"{name}.{f}"] = statistics.fmean(vals)
    return out

"""Pure helpers for the benchmark: percentiles, span self time, event-log job
attribution and the storage ratios. No Spark import, so the self-tests run
in a second."""

from __future__ import annotations

import math
import statistics


def median(values):
    return statistics.median(values) if values else None


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0] if values else None
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(values, min_beyond: int = 10):
    """The highest of p99/p90/p50 that leaves at least `min_beyond` samples
    above it, as (label, value); (None, None) when even p50 has too few.

    A percentile p over n samples has n * (1 - p/100) samples beyond it, so
    p90 needs 100 samples and p50 needs 20."""
    n = len(values)
    ordered = sorted(values)
    for p in (99, 90, 50):
        if n * (100 - p) / 100 >= min_beyond:
            # nearest-rank percentile
            rank = max(1, math.ceil(p / 100 * n))
            return f"p{p}", ordered[rank - 1]
    return None, None


def self_times(spans):
    """Self time per span id: its wall minus the union of the intervals its
    direct children cover inside it. `spans` are dicts with id, parent,
    start, end."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        wall = s["end"] - s["start"]
        out[s["id"]] = wall * (1.0 - covered_share(children.get(s["id"], []), s["start"], s["end"]))
    return out


def covered_share(intervals, start: float, end: float) -> float:
    """Share of [start, end] covered by the union of `intervals`."""
    if end <= start:
        return 0.0
    total = 0.0
    cur = start
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, cur), min(hi, end)
        if hi > lo:
            total += hi - lo
            cur = hi
    return total / (end - start)


def parse_event_log(lines):
    """Reduce Spark event-log JSON lines to jobs, stages and tasks.

    Returns {"jobs": {job_id: {"group", "desc", "stages", "start", "end"}},
    "stage_job": {stage_id: job_id}, "tasks": [{"stage", "start", "end",
    "run_s", "shuffle_bytes", "spill_bytes", "failed"}]} with times in
    seconds since the epoch. Jobs carry the job group and description they
    were submitted under, which is how spans claim them."""
    import json

    jobs: dict = {}
    stage_job: dict = {}
    tasks = []
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "desc": props.get("spark.job.description"),
                "stages": list(ev.get("Stage IDs", [])),
                "start": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": ev.get("Stage ID"),
                "start": info.get("Launch Time", 0) / 1000.0,
                "end": info.get("Finish Time", 0) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "failed": bool(info.get("Failed")),
            })
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def attribute_jobs(jobs: dict, windows: dict) -> dict:
    """Map each job id to the span that owns it.

    A job submitted under a span's job group belongs to that span. A job
    with no group (one submitted from a worker thread, which does not
    inherit the group) belongs to the innermost span whose fence-job window
    (first_job_id, last_job_id) brackets its id. `windows` maps span name to
    (lo, hi) job-id bounds, exclusive."""
    out = {}
    for jid, job in jobs.items():
        group = job.get("group")
        if group and group in windows:
            out[jid] = group
            continue
        best = None
        for name, (lo, hi) in windows.items():
            if lo < jid < hi and (best is None or hi - lo < windows[best][1] - windows[best][0]):
                best = name
        if best is not None:
            out[jid] = best
    return out


def space_amp(store_bytes: int, live_bytes: int) -> float:
    """Bytes the store holds on disk ÷ bytes of the files the latest manifest
    references: 1.0 means no dead copy-on-write versions are kept."""
    return store_bytes / live_bytes if live_bytes else float("nan")


def rows_scanned_per_row(rows_scanned: int, rows_returned: int) -> float:
    """Rows in the files a point read opened ÷ rows it returned: 1.0 means
    the layout delivered exactly the rows asked for."""
    return rows_scanned / rows_returned if rows_returned else float(rows_scanned)

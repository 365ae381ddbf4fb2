"""Spans around the benchmark's calls into each engine module, and the
per-layer metrics derived from them.

A span records name, start, end, parent and run id in memory. With tracing
on it also tags the Spark jobs it submits: it sets a job group unique to the
span and brackets itself with one-task fence jobs (the `bench_extra.measure`
method), so jobs submitted from threads that do not inherit the group still
fall inside its job-id window. Task time, shuffle and spill come from the
Spark event logs, one per Spark application, read after the sessions stop.
With tracing off a span costs two clock reads.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import contextmanager

from perfbench import stats


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


def _fence_job_id(sc, tag: str) -> int:
    """Run a 1-task fence job in its own group and return its job id."""
    group = f"fence_{tag}"
    sc.setJobGroup(group, group)
    sc.parallelize([0], 1).count()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    return max(ids) if ids else -1


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.sc = None  # set while a traced stretch runs

    def attach(self, sc) -> None:
        """Tag jobs for the spans opened from now on (the traced rounds)."""
        self.sc = sc

    def detach(self) -> None:
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        self._next += 1
        rec = {
            "id": self._next,
            "key": f"span{self._next}_{name}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "traced": self.sc is not None,
            "attrs": dict(attrs),
        }
        sc = self.sc
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = sc.getLocalProperty("spark.job.description")
            rec["app"] = sc.applicationId
            rec["rdds_start"] = persisted_rdds(sc)
            t0 = time.time()
            rec["fence_lo"] = _fence_job_id(sc, rec["key"] + "_lo")
            rec["fence_s"] = time.time() - t0
            sc.setJobGroup(rec["key"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                t0 = time.time()
                rec["fence_hi"] = _fence_job_id(sc, rec["key"] + "_hi")
                rec["fence_s"] += time.time() - t0
                rec["rdds_end"] = persisted_rdds(sc)
                if prev_group is not None:
                    sc.setJobGroup(prev_group, prev_desc or prev_group)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def named(self, name: str, traced: bool | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (traced is None or s["traced"] == traced)
        ]


def read_event_log(log_dir: str, app_id: str) -> list[str]:
    """Lines of the event log Spark wrote for `app_id` (after the session
    stopped, so the file is complete)."""
    pattern = os.path.join(log_dir, "**", f"*{app_id}*")
    paths = sorted(p for p in glob.glob(pattern, recursive=True) if os.path.isfile(p))
    lines: list[str] = []
    for p in paths:
        with open(p) as f:
            lines.extend(f)
    return lines


def remove_event_logs(log_dir: str, app_ids: list[str]) -> None:
    import shutil

    for app_id in app_ids:
        for p in glob.glob(os.path.join(log_dir, f"*{app_id}*")):
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


def job_table(tracer: Tracer, logs: dict[str, list[str]]) -> dict:
    """Per traced span key: the jobs, tasks and task metrics it owns.
    `logs` maps each application id to its event-log lines; job ids are
    only unique within one application."""
    per_span = {s["key"]: {"jobs": [], "tasks": []} for s in tracer.spans if s["traced"]}
    failed = 0
    for app, lines in logs.items():
        log = stats.parse_event_log(lines)
        traced = [s for s in tracer.spans if s["traced"] and s["app"] == app]
        windows = {s["key"]: (s["fence_lo"], s["fence_hi"]) for s in traced}
        jobs = {
            j: v for j, v in log["jobs"].items()
            if not (v.get("group") or "").startswith("fence_")
        }
        owner = stats.attribute_jobs(jobs, windows)
        for jid, key in owner.items():
            per_span[key]["jobs"].append(jid)
        for t in log["tasks"]:
            key = owner.get(log["stage_job"].get(t["stage"]))
            if key is not None:
                per_span[key]["tasks"].append(t)
        failed += sum(1 for t in log["tasks"] if t["failed"])
    return {"per_span": per_span, "failed_tasks": failed}


def spark_layer(tracer: Tracer, table: dict, name: str) -> dict:
    """Means per call of the seven Spark-side metrics of one layer."""
    spans = tracer.named(name, traced=True)
    wall = sum(s["end"] - s["start"] for s in spans)
    jobs = tasks = 0
    task_s = shuffle = spill = 0.0
    intervals = []
    for s in spans:
        own = table["per_span"][s["key"]]
        jobs += len(own["jobs"])
        tasks += len(own["tasks"])
        for t in own["tasks"]:
            task_s += t["run_s"]
            shuffle += t["shuffle_bytes"]
            spill += t["spill_bytes"]
            intervals.append((t["start"], t["end"]))
    busy = sum(
        stats.covered_share(intervals, s["start"], s["end"]) * (s["end"] - s["start"])
        for s in spans
    )
    n = max(len(spans), 1)
    return {
        "wall_s": wall / n,
        "jobs": jobs / n,
        "tasks": tasks / n,
        "task_s": task_s / n,
        "shuffle_mb": shuffle / 1e6 / n,
        "spill_mb": spill / 1e6 / n,
        "idle_frac": 1.0 - busy / wall if wall > 0 else 0.0,
    }


def descendants(tracer: Tracer, ids: set) -> list[dict]:
    """Spans below any of `ids`, at any depth."""
    out, frontier = [], set(ids)
    while frontier:
        kids = [s for s in tracer.spans if s["parent"] in frontier]
        out += kids
        frontier = {s["id"] for s in kids}
    return out


def attr_mean(tracer: Tracer, name: str, attr: str) -> float:
    vals = [s["attrs"][attr] for s in tracer.named(name, traced=True) if attr in s["attrs"]]
    return sum(vals) / len(vals) if vals else 0.0

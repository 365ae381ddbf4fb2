"""Names and units of every metric the benchmark prints. BENCHMARK.json
lists the same names; a self-test keeps the two in step."""

from __future__ import annotations

# wall_s, the round's wall time, is in every run's record but not here: its
# spread over ten seeds on a shared 4-core VM (0.36-0.62 in slow stretches)
# exceeded the largest bound the benchmark may set
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

SPARK_METRICS = ("wall_s", "jobs", "tasks", "task_s", "shuffle_mb", "spill_mb", "idle_frac")
PIPELINE_LAYERS = ("extract", "cells", "tree", "join", "knn")  # tile_join, one call per round

# snapshot_serve: (layer, metric) per call; wall_s and jobs come from the job
# table, the rest from the span's own attributes
SNAPSHOT_METRICS = (
    ("snapshot.commit", "wall_s"), ("snapshot.commit", "jobs"), ("snapshot.commit", "write_skew"),
    ("snapshot.read_tile", "files_opened"), ("snapshot.read_tile", "rows_scanned_per_row"),
    ("snapshot.get_by_key", "files_opened"), ("snapshot.get_by_key", "jobs"),
    ("streaming.diff_commit", "wall_s"), ("streaming.diff_commit", "jobs"),
    ("streaming.diff_commit", "files_rewritten_frac"), ("streaming.diff_commit", "mb_written"),
    ("snapshot.time_travel", "wall_s"), ("snapshot.time_travel", "files_opened"),
)

RUN_METRICS = (
    "session.start_s", "session.warmup_s", "spark.failed_tasks", "spark.persisted_rdds",
    "trace.overhead_frac", "trace.unattributed_frac",
)


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in PIPELINE_LAYERS for m in SPARK_METRICS]
    names += [f"{layer}.{m}" for layer, m in SNAPSHOT_METRICS]
    return names + list(RUN_METRICS)


def per_layer_unit(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb") or metric.startswith("mb_"):
        return "MB"
    if metric in ("jobs", "tasks", "files_opened", "failed_tasks", "persisted_rdds"):
        return "count"
    return "ratio"

"""Self-tests of the benchmark's pure logic, on tiny inputs. No Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import compare, stats

HERE = os.path.dirname(os.path.abspath(__file__))


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(list(range(19))) == (None, None)
    label, v = stats.tail_percentile(list(range(1, 21)))
    assert label == "p50" and v == 10  # 10 samples above
    label, v = stats.tail_percentile(list(range(1, 101)))
    assert label == "p90" and v == 90
    label, v = stats.tail_percentile(list(range(1, 1001)))
    assert label == "p99" and v == 990
    assert stats.tail_percentile(list(range(1, 100)))[0] == "p50"  # 99 < 100 for p90


def test_quartiles_match_statistics_quantiles():
    q1, med, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert stats.quartiles([4.0]) == (4.0, 4.0, 4.0)


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 3, "start": 3.5, "end": 4.5},
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # runs past the parent
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10 - 5 - 1)  # children cover [1,6] and [9,10]
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(3.0)


def test_covered_share_merges_overlaps():
    assert stats.covered_share([(1, 3), (2, 4), (8, 20)], 0, 10) == pytest.approx(0.5)
    assert stats.covered_share([], 0, 10) == 0.0


def _event_log():
    def job_start(jid, stages, group=None, t=0):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Submission Time": t, "Properties": props}

    def task_end(stage, start, end, run_ms, shuffle=0, spill=0, failed=False):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": start, "Finish Time": end, "Failed": failed},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": shuffle},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    events = [
        job_start(0, [0], "fence_a_lo"),
        job_start(1, [1, 2], "spanA"),
        task_end(1, 1000, 2000, 900, shuffle=10),
        task_end(2, 2000, 2500, 400, spill=5),
        job_start(2, [3]),  # no group: a job from a worker thread
        task_end(3, 2600, 2700, 90, failed=True),
        job_start(3, [4], "fence_a_hi"),
        job_start(4, [5]),  # outside every window
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
    ]
    return [json.dumps(e) for e in events] + ["not json"]


def test_event_log_parse_and_job_attribution():
    log = stats.parse_event_log(_event_log())
    assert set(log["jobs"]) == {0, 1, 2, 3, 4}
    assert log["jobs"][1]["group"] == "spanA" and log["jobs"][1]["end"] == 2.5
    assert log["stage_job"][2] == 1
    assert [t["run_s"] for t in log["tasks"]] == [0.9, 0.4, 0.09]
    assert log["tasks"][0]["shuffle_bytes"] == 20 and log["tasks"][1]["spill_bytes"] == 5
    assert log["tasks"][2]["failed"]
    jobs = {j: v for j, v in log["jobs"].items() if not (v["group"] or "").startswith("fence_")}
    owner = stats.attribute_jobs(jobs, {"spanA": (0, 3), "outer": (-1, 10)})
    # job 1 by its group, job 2 by the innermost fence window, job 4 by the outer one
    assert owner == {1: "spanA", 2: "spanA", 4: "outer"}


def test_space_amp_and_rows_scanned_per_row():
    assert stats.space_amp(300, 100) == 3.0
    assert stats.space_amp(100, 100) == 1.0
    assert stats.rows_scanned_per_row(150, 3) == 50.0
    assert stats.rows_scanned_per_row(150, 0) == 150.0  # an empty answer still scanned


def test_benchmark_json_names_what_the_harness_prints():
    from perfbench import metrics as M

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(M.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(M.END_TO_END.values())
    assert [m["name"] for m in spec["per_layer"]] == M.per_layer_names()
    assert [m["unit"] for m in spec["per_layer"]] == [M.per_layer_unit(n) for n in M.per_layer_names()]


def test_compare_flags_regressions_and_unresolved(tmp_path):
    def dump(path, values):
        with open(path, "w") as f:
            for v in values:
                f.write(json.dumps({"perfbench_record": {"workload": "w", "trace": 0, "seed": 1}}) + "\n")
                f.write(json.dumps({"correct": True, "attempted": 1, "failed": 0,
                                    "metrics": {"wall_s": {"value": v, "unit": "s"}}}) + "\n")

    dump(tmp_path / "a.txt", [10.0, 10.1, 9.9, 10.0, 10.05])
    dump(tmp_path / "b.txt", [13.0, 13.1, 12.9, 13.0, 13.05])
    dump(tmp_path / "c.txt", [5.0, 20.0, 10.0, 2.0, 15.0])
    spec = {"end_to_end": [{"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.2}]}
    base = compare.load_runs(tmp_path / "a.txt")
    [row] = compare.compare(base, compare.load_runs(tmp_path / "b.txt"), spec)
    assert row["verdict"] == "REGRESSION" and row["worse_by"] == pytest.approx(0.3)
    [row] = compare.compare(base, compare.load_runs(tmp_path / "a.txt"), spec)
    assert row["verdict"] == "within bound" and row["steady"]
    [row] = compare.compare(base, compare.load_runs(tmp_path / "c.txt"), spec)
    assert row["verdict"] == "unresolved"

#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 1 --trace 0

Run it from the root of a tiledspark checkout. The run generates its inputs
from --seed (cached under .perfbench_cache/), starts one Spark driver on
local[2] (fewer when nproc is lower), sets up several times (session start plus the
workload's warm-up) and reports the median of the restarts, runs the
workload's fixed number of rounds (--seconds is accepted but the amount of
work does not depend on it), then checks the outputs. The second-to-last stdout line is a
full record ({"perfbench_record": ...}: host fingerprint, every named
metric, checks, per-round numbers); the last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
rounds are traced and the metrics are the per-layer ones (see
perfbench/README.md). Exits 2 without a result when run outside a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:  # run as a script: make the perfbench package importable
    sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench import stats  # noqa: E402

SETUP_SAMPLES = 4  # one cold start, then restarts in the same JVM
# two task slots, not nproc: on a shared 4-core VM the tasks, the JVM's JIT
# and GC threads, the Python driver and the other tenants' runnable threads
# then fit on the cores. A round is bound by per-job cost, so local[2] ran
# as many docs/s as local[4] in calm minutes (see perfbench/README.md)
TASK_SLOTS = 2
DRIVER_MEM = "2g"  # the driver JVM's heap, -Xms and -Xmx alike
YOUNG_GEN = "512m"
REQUIRED = ("tiledspark/__init__.py", "bench.py", "tests/golden/tile_tree_sf0.001.json")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def checkout_problem() -> str | None:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    return f"not a tiledspark checkout: {ROOT} lacks {', '.join(missing)}" if missing else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, logs, setup) -> dict:
    from perfbench import trace

    table = trace.job_table(tracer, logs)
    rounds = tracer.named("round", traced=True)
    out: dict[str, float] = {}
    for layer in M.PIPELINE_LAYERS:
        for m, v in trace.spark_layer(tracer, table, layer).items():
            out[f"{layer}.{m}"] = v
    for layer, m in M.SNAPSHOT_METRICS:
        if m in ("wall_s", "jobs"):
            out[f"{layer}.{m}"] = trace.spark_layer(tracer, table, layer)[m]
        else:
            out[f"{layer}.{m}"] = trace.attr_mean(tracer, layer, m)
    out["session.start_s"] = statistics.median(s["start_s"] for s in setup[1:])
    out["session.warmup_s"] = statistics.median(s["warmup_s"] for s in setup[1:])
    out["spark.failed_tasks"] = table["failed_tasks"]
    out["spark.persisted_rdds"] = (
        sum(s["rdds_end"] - s["rdds_start"] for s in rounds) / len(rounds) if rounds else 0.0
    )
    # time inside the rounds that no layer span holds: the self time of the
    # rounds and other non-layer spans, less their children's fence jobs,
    # which run just outside each child
    inside = [*rounds, *trace.descendants(tracer, {s["id"] for s in rounds})]
    self_s = stats.self_times(inside)
    layer_names = {n.rsplit(".", 1)[0] for n in M.per_layer_names()}
    fence_by_parent: dict = {}
    for s in inside:
        fence_by_parent[s["parent"]] = fence_by_parent.get(s["parent"], 0.0) + s["fence_s"]
    gaps = sum(
        self_s[s["id"]] - fence_by_parent.get(s["id"], 0.0)
        for s in inside if s["name"] not in layer_names
    )
    round_s = sum(s["end"] - s["start"] for s in rounds)
    fences = sum(s["fence_s"] for s in inside if s["name"] != "round")
    out["trace.overhead_frac"] = fences / round_s if round_s else 0.0
    out["trace.unattributed_frac"] = gaps / round_s if round_s else 0.0
    return out


def run(args) -> int:
    t_run = time.perf_counter()
    problem = checkout_problem()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )  # the Python workers import tiledspark too
    cache = os.path.join(ROOT, ".perfbench_cache")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the engine's driver-memory setting: the heap grows with GC timing, so
    # the JVM's RSS swung 2x between runs with the 12g default and 1.4-2.6 GB
    # with 4g; the workloads' data needs far less than 2g
    os.environ["TILEDSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    # every JVM Spark launches keeps its temp files in the checkout too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    from perfbench import host, trace
    from tiledspark.session import get_spark

    n = min(TASK_SLOTS, os.cpu_count() or 1)
    master = f"local[{n}]"
    fingerprint = host.fingerprint(ROOT, master)
    ticks = host.cpu_ticks()
    event_dir = os.path.join(cache, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
        # a fixed heap and young generation: G1 otherwise sizes eden by its
        # pause goal, and the JVM's resident memory still moved 1.04-1.32 GB
        # over five tile_join runs of the same code at 2g; with both fixed
        # it moved 1.43-1.57 GB over thirty, so peak memory follows what the
        # workload keeps live (old generation, off-heap, Python processes),
        # not GC timing
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = trace.Tracer(run_id)
    wl = WORKLOADS[args.workload](ROOT, cache, args.seed, tracer)
    t0 = time.perf_counter()
    wl.prepare()
    input_s = time.perf_counter() - t0

    spark = None
    setup, rounds, checks, app_ids = [], [], [], []
    errors = 0
    try:
        with host.RssSampler(os.getpid()) as rss:
            for k in range(SETUP_SAMPLES):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_spark(master=master, app_name="perfbench", shuffle_partitions=n,
                                  extra_conf=conf)
                t1 = time.perf_counter()
                app_ids.append(spark.sparkContext.applicationId)
                if args.trace:
                    tracer.attach(spark.sparkContext)  # spans in set-up are traced too
                wl.warm_up(spark)
                tracer.detach()
                t2 = time.perf_counter()
                setup.append({"start_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0})

            t0 = time.perf_counter()
            wl.after_setup(spark)
            after_setup_s = time.perf_counter() - t0
            sc = spark.sparkContext
            t_start = time.perf_counter()
            if args.trace:
                tracer.attach(sc)
            for i in range(wl.rounds):  # a fixed amount of work in every run
                try:
                    with tracer.span("round", index=i) as r:
                        res = wl.run_round(spark, tracer)
                    res["wall_s"] = r["end"] - r["start"]
                    rounds.append(res)
                except Exception:  # noqa: BLE001 — a failed round is counted, the run goes on
                    traceback.print_exc(file=sys.stderr)
                    errors += 1
            tracer.detach()
            timed_s = time.perf_counter() - t_start
        t0 = time.perf_counter()
        try:
            checks = wl.check(spark)
        except Exception as e:  # noqa: BLE001 — a crashed check is a failed check
            traceback.print_exc(file=sys.stderr)
            checks = [("check_crashed", False, repr(e))]
        check_s = time.perf_counter() - t0
        summary = wl.summary(rounds) if rounds else {}
    finally:
        if spark is not None:
            stop_spark(spark)
        wl.cleanup()

    attempted = wl.ops + len(checks)
    failed = errors + wl.wrong + sum(1 for _, ok, _ in checks if not ok)
    e2e = {
        "setup_s": statistics.median(s["total_s"] for s in setup[1:]),
        "wall_s": statistics.median(r["wall_s"] for r in rounds) if rounds else None,
        "throughput_per_s": summary.get("throughput_per_s"),
        "peak_rss_mb": rss.peak_mb,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id, "host": fingerprint,
        "input_s": input_s, "cold_start_s": setup[0]["total_s"], "setup": setup,
        "after_setup_s": after_setup_s, "timed_s": timed_s, "check_s": check_s,
        "rounds": rounds, "error_rate": failed / max(attempted, 1),
        "peak_rss_parts_mb": rss.part_peaks_mb,
        "checks": [{"name": c, "ok": ok, "detail": d} for c, ok, d in checks],
        **e2e, **summary,
    }
    if args.trace:
        logs = {app: trace.read_event_log(event_dir, app) for app in app_ids}
        trace.remove_event_logs(event_dir, app_ids)
        metrics = layer_metrics(tracer, logs, setup)
        spans_path = os.path.join(cache, "spans", run_id + ".jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
        record.update(per_layer=metrics, spans_file=os.path.relpath(spans_path, ROOT))
        result = {k: {"value": metrics[k], "unit": M.per_layer_unit(k)} for k in M.per_layer_names()}
    else:
        result = {k: {"value": e2e[k], "unit": u} for k, u in M.END_TO_END.items()}
    record["run_s"] = time.perf_counter() - t_run
    record["host"]["steal_frac"] = host.steal_share(ticks, host.cpu_ticks())
    print(json.dumps({"perfbench_record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0 and all(v["value"] is not None for v in result.values()),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": result,
    }))
    return 0


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())

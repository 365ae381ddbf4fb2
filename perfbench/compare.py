#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarise one.

    python3 perfbench/compare.py BASE.txt [CANDIDATE.txt]

Each file holds the stdout of any number of `perfbench/run.py` runs. Runs
are grouped by the workload their record names. For every workload and
metric the command prints each side's median and quartiles (as
`statistics.quantiles(values, n=4)` gives them) and the spread, the distance
between the quartiles as a share of the median. With two files it also
prints how much worse the candidate's median is than the base's, as a
share of the base median, and whether that stays within the metric's bound
in BENCHMARK.json. A metric whose spread on either side exceeds its bound
is reported as unresolved, not as unchanged. Metrics without a bound (the
workload's named metrics in the record) are summarised only. When the base
file holds traced and plain runs of a workload, the ratio of their median
round walls is reported as `trace_overhead`. The last line is the same
report as JSON.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402


def load_runs(path: str) -> list[dict]:
    """[{"workload", "trace", "metrics": {name: value}}] from a stdout dump:
    each result line is paired with the record line just before it."""
    runs, record = [], None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "perfbench_record" in obj:
                record = obj["perfbench_record"]
            elif "metrics" in obj and record is not None:
                named = {
                    k: v for k, v in record.items()
                    if isinstance(v, (int, float)) and not isinstance(v, bool)
                    and k not in ("seed", "seconds", "trace")
                }
                named.update({k: v["value"] for k, v in obj["metrics"].items()})
                runs.append({
                    "workload": record["workload"], "trace": record["trace"],
                    "correct": obj["correct"], "metrics": named,
                })
                record = None
    return runs


def side(values: list[float]) -> dict:
    q1, med, q3 = stats.quartiles(values)
    spread = (q3 - q1) / abs(med) if med else float("inf")
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": spread}


def compare(base: list[dict], cand: list[dict] | None, spec: dict) -> list[dict]:
    bounds = {m["name"]: m for m in spec.get("end_to_end", [])}
    rows = []
    for wl in sorted({r["workload"] for r in base}):
        for trace in (0, 1):
            b_runs = [r for r in base if r["workload"] == wl and r["trace"] == trace]
            c_runs = [r for r in cand or [] if r["workload"] == wl and r["trace"] == trace]
            if not b_runs:
                continue
            names = sorted(set().union(*(r["metrics"] for r in b_runs)))
            for name in names:
                bv = [r["metrics"][name] for r in b_runs if r["metrics"].get(name) is not None]
                if not bv:
                    continue
                row = {"workload": wl, "trace": trace, "metric": name, "base": side(bv)}
                m = bounds.get(name) if trace == 0 else None
                if m:
                    row["bound"] = m["bound"]
                    row["steady"] = row["base"]["spread"] <= m["bound"] / 3
                cv = [r["metrics"][name] for r in c_runs if r["metrics"].get(name) is not None]
                if cv:
                    row["candidate"] = side(cv)
                    bm, cm = row["base"]["median"], row["candidate"]["median"]
                    if bm:
                        worse = (cm - bm) / abs(bm)
                        if m and m["better"] == "higher":
                            worse = -worse
                        row["worse_by"] = worse
                        if m:
                            unresolved = max(row["base"]["spread"], row["candidate"]["spread"]) > m["bound"]
                            row["verdict"] = (
                                "unresolved" if unresolved
                                else "within bound" if worse <= m["bound"] else "REGRESSION"
                            )
                rows.append(row)
        walls = {
            t: [r["metrics"]["wall_s"] for r in base
                if r["workload"] == wl and r["trace"] == t and "wall_s" in r["metrics"]]
            for t in (0, 1)
        }
        plain, traced = walls[0], walls[1]
        if plain and traced:
            rows.append({
                "workload": wl, "trace": 1, "metric": "trace_overhead",
                "base": side([stats.median(traced) / stats.median(plain)]),
            })
    return rows


def fmt(x) -> str:
    return "-" if x is None else f"{x:.4g}"


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = load_runs(argv[0])
    cand = load_runs(argv[1]) if len(argv) == 2 else None
    rows = compare(base, cand, spec)
    for r in rows:
        b = r["base"]
        line = (f"{r['workload']:<15} {'traced ' if r['trace'] else ''}{r['metric']:<34} "
                f"base n={b['n']} med={fmt(b['median'])} q1={fmt(b['q1'])} q3={fmt(b['q3'])} "
                f"spread={fmt(b['spread'])}")
        if "bound" in r:
            line += f" bound={r['bound']} steady={r['steady']}"
        if "candidate" in r:
            c = r["candidate"]
            line += (f" | cand n={c['n']} med={fmt(c['median'])} spread={fmt(c['spread'])} "
                     f"worse_by={fmt(r.get('worse_by'))} {r.get('verdict', '')}")
        print(line)
    print(json.dumps({"rows": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

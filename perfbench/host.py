"""Host fingerprint for every result record, and the peak-RSS sampler."""

from __future__ import annotations

import os
import subprocess
import threading


def fingerprint(root: str, master: str) -> dict:
    """nproc, master, loadavg, commit, and bench.py's CPU calibration and
    idle check (imported, not copied, so both benchmarks read the host the
    same way). A busy host is annotated, never refused."""
    import bench

    idle = bench._host_idle_check()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "master": master,
        "loadavg": load,
        "git_commit": commit,
        "cpu_calibration_sec": bench._cpu_calibration(),
        **idle,
    }


def cpu_ticks() -> list[int]:
    """The machine-wide `cpu` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time between two `cpu_ticks` readings that the
    hypervisor gave to other guests. On a shared VM this is what makes whole
    runs slow: with 10-30% steal a run's throughput fell by a quarter."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def tree_rss_mb(pid: int) -> dict[str, float]:
    """Resident memory of the Python driver (`pid`), the JVM it launched and
    the JVM's Python workers, as PSS: pages that forked workers share with
    the worker daemon count once, split among the sharers. Other descendants
    are left out: the JVM starts short-lived helpers (`chmod` through
    `jspawnhelper`), and one caught between fork and exec reports the JVM's
    whole memory a second time."""
    kids = _children()
    parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    stack = [(pid, "")]
    while stack:
        p, parent_comm = stack.pop()
        try:
            comm = _read(f"/proc/{p}/comm").strip()
            cmdline = _read(f"/proc/{p}/cmdline")
            rollup = _read(f"/proc/{p}/smaps_rollup")
        except OSError:
            continue
        stack.extend((k, comm) for k in kids.get(p, []))
        if p == pid:
            kind = "driver"
        elif comm == "java" and parent_comm != "java":
            kind = "jvm"
        elif "pyspark" in cmdline:
            kind = "workers"
        else:
            continue
        kb = next((int(line.split()[1]) for line in rollup.splitlines()
                   if line.startswith("Pss:")), 0)
        parts[kind] += kb / 1024.0
    return parts


class RssSampler:
    """Background thread that keeps the peak of the summed `tree_rss_mb` over
    its life, and each part's own peak."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid, self.interval_s = pid, interval_s
        self.peak_mb = 0.0
        self.part_peaks_mb = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_mb(self.pid)
        self.peak_mb = max(self.peak_mb, sum(parts.values()))
        for k, v in parts.items():
            self.part_peaks_mb[k] = max(self.part_peaks_mb[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

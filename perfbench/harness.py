"""Run-level plumbing shared by every workload: host shape, session sizing,
the per-run scratch root, process-tree RSS sampling, and the statistics the
result reports (nearest-rank percentiles, the tail rule, interval unions).
Nothing here imports Spark, so the helpers are testable on their own."""

from __future__ import annotations

import math
import os
import platform
import re
import shutil
import statistics
import subprocess
import threading
import time

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
TAIL_TARGET = 10  # samples that must lie beyond the reported tail percentile


# ----------------------------------------------------------------- statistics

def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    xs = sorted(values)
    rank = math.ceil(p / 100.0 * len(xs))
    return xs[max(rank, 1) - 1]


def tail_percentile(n: int, beyond: int = TAIL_TARGET) -> int | None:
    """The highest whole percentile whose nearest-rank sample has at least
    ``beyond`` samples above it, or None when ``n`` is too small for any."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def tail(values: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, n)`` by the tail rule. With too few samples for
    any percentile the maximum is returned, labelled 100."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), 100, len(values)
    return percentile(values, p), p, len(values)


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values: list[float]) -> float:
    """The middle sample, or the mean of the two middle ones: unlike the
    nearest-rank 50th percentile it does not jump to the lower of them when
    a run's operation count is even."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


# ----------------------------------------------------------------- host shape

def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def driver_heap_mb(meminfo: dict[str, int]) -> int:
    """Driver heap from the host: an eighth of physical memory, at most half
    of what is available now, kept between 1 GiB and 4 GiB in 256 MiB steps.
    The session pins -Xms to this value, so it must fit in free memory; it
    follows MemTotal first so that it stays the same from run to run."""
    total_mb = meminfo["MemTotal"] // 1024
    avail_mb = meminfo.get("MemAvailable", meminfo["MemTotal"]) // 1024
    mb = min(4096, total_mb // 8, avail_mb // 2)
    return max(1024, mb // 256 * 256)


def _version(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stderr or out.stdout).strip().splitlines()
    return text[0] if text else "unknown"


def host_shape(root: str, seed: int, heap_mb: int) -> dict:
    import pyarrow
    import pyspark

    mem = meminfo_kb()
    commit = _version(["git", "-C", root, "rev-parse", "HEAD"])
    if not re.fullmatch(r"[0-9a-f]{40}", commit):
        commit = "unknown (not a git checkout)"
    return {
        "cores": os.cpu_count(),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": _version(["java", "-version"]),
        "commit": commit,
        "seed": seed,
        "driver_heap_mb": heap_mb,
    }


# ------------------------------------------------------------------ run root

class RunRoot:
    """Per-run scratch directory inside the checkout. ``TMPDIR`` and Spark's
    local dirs point into it, so no cache from an earlier run (such as the
    gate index's disk cache under ``$TMPDIR``) turns a cold set-up warm.
    Removed, with every index written under it, when the run ends."""

    def __init__(self, base: str):
        self.path = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark-local")

    def dir(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


# ----------------------------------------------------------------------- RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def descendants() -> list[int]:
    """Descendants of this process."""
    return _descendants(os.getpid(), _children_map())


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Samples the RSS of this process's descendants every ``interval``
    seconds: the driver JVM, and separately everything else (the Python
    workers the JVM forks). Peaks are of the per-sample sums; ``mean`` is
    the mean of the per-sample totals."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = {"driver": 0, "workers": 0, "total": 0}
        self._sum = 0
        self._n = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kids = _children_map()
        jvm = workers = 0
        for pid in _descendants(os.getpid(), kids):
            rss = _rss_kb(pid)
            if _is_jvm(pid):
                jvm += rss
            elif rss:
                workers += rss
        for key, val in (("driver", jvm), ("workers", workers), ("total", jvm + workers)):
            self.peak[key] = max(self.peak[key], val)
        self._sum += jvm + workers
        self._n += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        out = {k: v / 1024.0 for k, v in self.peak.items()}
        out["mean"] = self._sum / self._n / 1024.0
        return out

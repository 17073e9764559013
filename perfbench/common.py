"""Shared helpers: run isolation, quantiles, process-tree RSS, op tally."""

from __future__ import annotations

import os
import statistics
import threading
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def engine_env(run_dir: str, root: str) -> dict[str, str]:
    """Environment for an engine process confined to ``run_dir``: temp
    files, Spark scratch and the JVM tmpdir stay inside it, and the JVM
    writes no perf-data file. Memory settings are the engine's own."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def median(vals) -> float:
    return float(statistics.median(vals)) if vals else 0.0


def pct(vals, q: float) -> float:
    """The q-th percentile (0-100), linear interpolation; 0.0 when empty."""
    vals = sorted(vals)
    if not vals:
        return 0.0
    if len(vals) == 1:
        return float(vals[0])
    pos = (len(vals) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (pos - lo))


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (from /proc)."""
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        kids.setdefault(int(st[1]), []).append(pid)
        rss[pid] = int(st[21]) * page
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(kids.get(p, ()))
    return total


class RssSampler:
    """Samples a process tree's RSS every ``period`` seconds; ``peak_mb``."""

    def __init__(self, root: int, period: float = 0.25):
        self.root, self.period, self.peak = root, period, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="tfb-rss", daemon=True)
        self._t.start()

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak / 2**20


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def wait_until(t: float) -> None:
    d = t - time.monotonic()
    if d > 0:
        time.sleep(d)


class Tally:
    """Thread-safe attempted/failed counters with the first errors kept."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def add(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 5:
                    self.errors.append(what[:300])

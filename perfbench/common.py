"""Shared helpers for the benchmark: statistics, host diagnostics, the
per-run work directory and the result record every workload returns."""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field


def repo_root() -> str:
    """The checkout root: the directory holding ``perfbench/``."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def engine_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "leaf_spark", "__init__.py"))


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# -- statistics --------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) — no interpolation, so a p90
    over n samples is an observed value and the sample count says how
    many observations sit beyond it."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = max(0, min(len(xs) - 1, math.ceil(q / 100.0 * len(xs)) - 1))
    return xs[k]


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def halves(xs) -> dict:
    """First-half and second-half medians of a time-ordered series: when
    warm-up is long enough the two agree."""
    xs = list(xs)
    h = len(xs) // 2
    if h == 0:
        return {"n": len(xs)}
    return {
        "n": len(xs),
        "first_half_p50": median(xs[:h]),
        "second_half_p50": median(xs[h:]),
    }


def latency_stats(xs, pcts=(50, 90, 99)) -> dict:
    xs = list(xs)
    out = {"n": len(xs), "series": [round(x, 3) for x in xs]}
    for p in pcts:
        out[f"p{p}"] = pct(xs, p)
        # observations strictly above the percentile: a percentile is
        # trustworthy once about ten samples lie beyond it
        out[f"beyond_p{p}"] = sum(1 for x in xs if x > out[f"p{p}"]) if xs else 0
    out.update(halves(xs))
    return out


# -- host diagnostics --------------------------------------------------------


def _cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from /proc/stat; (0, 0) if absent."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return 0, 0
    vals = [int(v) for v in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


class HostSampler:
    """CPU steal share and load average over an interval, so a run on a
    noisy host can be told apart from a slow engine."""

    def __init__(self):
        self.load1_before = os.getloadavg()[0]
        self._t0, self._s0 = _cpu_times()

    def steal_share(self) -> float:
        t1, s1 = _cpu_times()
        dt = t1 - self._t0
        return (s1 - self._s0) / dt if dt > 0 else 0.0

    def summary(self) -> dict:
        return {
            "nproc": nproc(),
            "load1_before": self.load1_before,
            "load1_after": os.getloadavg()[0],
            "steal_share": self.steal_share(),
        }


# -- per-run state -----------------------------------------------------------


class WorkDir:
    """A fresh directory under the checkout for one run's tables, stream
    roots and Spark scratch space; removed when the run ends."""

    def __init__(self, root: str, tag: str):
        self.base = os.path.join(root, ".perfbench_work")
        self.path = os.path.join(self.base, f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


@dataclass
class Outcome:
    """What one workload run hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)  # (name, ok, detail)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    details: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return bool(ok)

    @property
    def correct(self) -> bool:
        return all(ok for _, ok, _ in self.checks) and self.failed == 0

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


class Clock:
    """Monotonic stopwatch anchored at process start for ``setup_s``."""

    def __init__(self, t0: float | None = None):
        self.t0 = time.perf_counter() if t0 is None else t0
        self.excluded = 0.0  # benchmark-side work kept out of setup_s

    def exclude(self):
        clock = self

        class _Ex:
            def __enter__(self):
                self.t = time.perf_counter()

            def __exit__(self, *exc):
                clock.excluded += time.perf_counter() - self.t

        return _Ex()

    def setup_s(self) -> float:
        return time.perf_counter() - self.t0 - self.excluded


def stop_spark() -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    with contextlib.suppress(Exception):
        gw.shutdown()
    with contextlib.suppress(OSError):
        proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=20)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None

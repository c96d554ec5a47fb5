"""Protocol stamp carried by every result, and the rule that two
results are comparable only at the same core count."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time


def cpus() -> int:
    """Cores this process may run on (what `nproc` prints with
    ``OMP_NUM_THREADS`` unset)."""
    return len(os.sched_getaffinity(0))


def calibration_s() -> float:
    """The single-core pure-Python loop `bench.py` times at start
    (5M multiply-adds); a host speed anchor, not a program metric."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i * i
    if s <= 0:
        raise RuntimeError("calibration loop overflowed")
    return time.perf_counter() - t0


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, or None outside a git repository."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stamp(root: str, calibration: float) -> dict:
    import pyspark

    return {
        "nproc": cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "platform": platform.platform(),
        "git_commit": git_commit(root),
        "calibration_s": calibration,
    }


def comparable(a: dict, b: dict) -> str | None:
    """None if two stamped results may be compared, else the reason
    they may not."""
    for key in ("nproc", "SPARK_GRAFT_CPUS"):
        if a["stamp"].get(key) != b["stamp"].get(key):
            return f"{key} differs: {a['stamp'].get(key)} vs {b['stamp'].get(key)}"
    if a.get("workload") != b.get("workload"):
        return f"workload differs: {a.get('workload')} vs {b.get('workload')}"
    return None

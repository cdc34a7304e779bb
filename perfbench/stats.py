"""Percentiles and run-record helpers."""
from __future__ import annotations

import os
import platform
import subprocess
import time

import numpy as np


def supported_percentile(n: int, candidates=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """The highest candidate percentile with at least ten samples
    beyond it, or None when not even the median qualifies."""
    for q in candidates:
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return None


def summary_ms(latencies_s: list[float]) -> dict:
    """Median, the highest supported tail percentile, and the count."""
    out: dict = {"n": len(latencies_s)}
    if not latencies_s:
        return out
    ms = [x * 1000.0 for x in latencies_s]
    out["p50_ms"] = float(np.percentile(ms, 50))
    q = supported_percentile(len(ms))
    if q is not None and q > 50:
        out[f"p{q:g}_ms"] = float(np.percentile(ms, q))
    return out


def _run(cmd: list[str], cwd: str) -> str:
    try:
        out = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=20)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout or out.stderr).strip()
    return text.splitlines()[0] if out.returncode == 0 and text else "unknown"


def host_stamps(root: str, cpus: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": cpus,
        "commit": _run(["git", "rev-parse", "HEAD"], root),
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _run(["java", "-XX:-UsePerfData", "-version"], root),
        "loadavg_start": os.getloadavg(),
    }

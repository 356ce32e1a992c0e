"""Host context printed with every run, peak memory, and reaping of the
processes a run leaves behind (the Spark JVM and ``pyspark.daemon``)."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def snapshot() -> list[int]:
    """Aggregate CPU jiffies from ``/proc/stat`` (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _git_commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def describe(spark, root: str) -> list[str]:
    import pyspark

    a = snapshot()
    time.sleep(0.5)
    b = snapshot()
    jvm = spark.sparkContext._jvm.System.getProperty("java.version")
    return [
        f"nproc: {os.cpu_count()}",
        f"steal fraction (0.5 s sample): {steal_frac(a, b):.4f}",
        f"loadavg: {' '.join(f'{x:.2f}' for x in os.getloadavg())}",
        f"memory free / available: {_meminfo_mb('MemFree'):.0f} / {_meminfo_mb('MemAvailable'):.0f} MB",
        f"git commit: {_git_commit(root)}",
        f"pyspark {pyspark.__version__}, JVM {jvm}, Spark master {spark.sparkContext.master}",
    ]


def _children() -> dict[int, int]:
    """pid -> ppid for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int | None = None) -> list[int]:
    pid = pid or os.getpid()
    parent = _children()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its live descendants (the
    driver JVM and any Python workers), in MB."""
    return (_hwm_kb("self") + sum(_hwm_kb(p) for p in descendants())) / 1024.0


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate every descendant still running and wait for it to end."""
    pids = descendants()
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        for p in list(pids):
            try:
                os.waitpid(p, os.WNOHANG)  # reaps direct children
            except ChildProcessError:
                pass
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
            os.waitpid(p, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


"""Host fingerprint, process-tree RSS sampling and latency statistics."""

from __future__ import annotations

import os
import platform
import subprocess
import threading


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (out.stderr or out.stdout).splitlines()
    return lines[0].strip() if lines else "unknown"


def fingerprint(width: int) -> dict:
    """What must match for two records to be comparable."""
    import pyspark
    return {"nproc": cores(), "cpu_model": cpu_model(),
            "python": platform.python_version(), "spark": pyspark.__version__,
            "java": java_version(), "local_width": width,
            "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "")}


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far, in seconds."""
    try:
        with open("/proc/stat", encoding="utf-8") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="utf-8") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def tree_rss_bytes(root: int) -> int:
    total, todo, page = 0, [root], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class PeakRss:
    """Samples the RSS of this process and all its descendants (driver
    Python, JVM, Python workers) until ``stop``; ``peak_mb`` is the max."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / (1024.0 * 1024.0)


def tail(values: list[float], beyond: int = 10) -> dict | None:
    """The highest percentile that still has ``beyond`` samples above it:
    the (n - beyond)-th smallest of n samples. None below beyond + 1."""
    n = len(values)
    if n <= beyond:
        return None
    s = sorted(values)
    return {"value": s[n - beyond - 1], "percentile": int(100 * (n - beyond) / n),
            "samples": n}

"""Size Spark to the host and fingerprint the host a result came from.

``local[N]`` takes N from the process's CPU affinity and the driver
heap from ``MemTotal``, never from the package's 32-CPU / 48g
defaults. A request for more cores than the affinity set holds is a
misfit: the run is reported invalid instead of producing a number
(``taskset -c 2-9`` on a 4-CPU host silently pins to 2 CPUs).
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading


class HostMisfit(ValueError):
    """The requested parallelism does not fit the CPUs this process may use."""


def affinity() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def mem_total_bytes(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo, encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_cpus(requested: int | None, cpus: list[int]) -> int:
    """The core count to run with: ``requested`` if the affinity set
    holds that many CPUs, the whole set when nothing is requested."""
    if requested is None:
        return len(cpus)
    if requested < 1:
        raise HostMisfit(f"requested {requested} cores")
    if requested > len(cpus):
        raise HostMisfit(
            f"requested {requested} cores but the affinity set has "
            f"{len(cpus)} ({cpus})")
    return requested


def driver_mem_mb(total_bytes: int) -> int:
    """A quarter of physical memory, between 1 and 2 GiB: the inputs
    here are tens of MB, and the host is shared."""
    return max(1024, min(2048, total_bytes // 4 // (1 << 20)))


def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def _git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def fingerprint(root: str, cpus: int) -> dict:
    import pyspark

    return {
        "cpus": cpus,
        "affinity": affinity(),
        "mem_total_mb": mem_total_bytes() // (1 << 20),
        "git_sha": _git_sha(root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "machine": platform.machine(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used by
    a process and its descendants."""
    total = 0
    for pid in _tree(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root_pid: int) -> int:
    """RSS of a process and all its descendants (driver, JVM, Python
    workers)."""
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

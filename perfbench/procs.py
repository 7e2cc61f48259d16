"""Process-level measurements: peak RSS and CPU time of the driver's
process tree, and run provenance (commit, cores, machine load, CPU steal, a GEMM
calibration)."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root``
    and all its descendants: the Python driver, the JVM and the Python
    workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root``'s process tree."""
    return sum(int(f[21]) for f in _tree(root).values()) * _PAGE


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) spent so
    far by ``root``'s process tree. Unlike wall time, it does not count
    time the machine gave to other tenants."""
    return sum(sum(map(int, f[11:15])) for f in _tree(root).values()) / _TICK


class RssSampler:
    """Background sampler of :func:`tree_rss_bytes`; ``stop()`` joins
    the thread and returns the peak in MiB."""

    def __init__(self, root: int, interval: float = 0.2):
        self._root = root
        self._interval = interval
        self._stop = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self._peak = max(self._peak, tree_rss_bytes(self._root))
            if self._stop.wait(self._interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self._peak / 2**20


def gemm_calibration_s(reps: int = 20) -> float:
    """Seconds for ``reps`` fixed 384×384 float64 GEMMs — a machine
    speed and contention marker to read beside the timings."""
    a = np.random.default_rng(0).standard_normal((384, 384))
    t0 = time.perf_counter()
    for _ in range(reps):
        a @ a
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU ticks between two :func:`cpu_ticks` readings that
    the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def provenance(root: str, spark_cores: int) -> dict:
    import pyspark

    return {
        "commit": _commit(root),
        "nproc": os.cpu_count(),
        "affinity_cores": len(os.sched_getaffinity(0)),
        "spark_cores": spark_cores,
        "loadavg_before": loadavg(),
        "gemm_calibration_s_before": gemm_calibration_s(),
        "python": platform.python_version(),
        "numpy": np.__version__,
        "pyspark": pyspark.__version__,
    }

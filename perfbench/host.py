"""Host stamp (cores, CPU steal, health canary) and process-tree peak memory.

The canary repeats the two probes of the repository's ``bench.py`` at a
tenth of their size so every run can afford them: a single-thread sort of
2M doubles (cold, then warm) and the system time a fresh interpreter burns
importing numpy, pandas and pyarrow with BLAS pinned to one thread. A
degraded host shows up here before it shows up as a slow benchmark.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time


def cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    total = sum(d)
    return round(100.0 * d[7] / total, 2) if total and len(d) > 7 else 0.0


def canary() -> dict:
    import numpy as np

    a = np.random.default_rng(0).normal(size=2_000_000)
    t0 = time.perf_counter()
    np.sort(a)
    cold = time.perf_counter() - t0
    t0 = time.perf_counter()
    np.sort(a)
    warm = time.perf_counter() - t0
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1", MKL_NUM_THREADS="1")
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "import resource, numpy, pandas, pyarrow; "
            "print(resource.getrusage(resource.RUSAGE_SELF).ru_stime)",
        ],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        check=True,
    )
    return {
        "np_sort_2m_cold_s": round(cold, 4),
        "np_sort_2m_warm_s": round(warm, 4),
        "import_sys_s_blas1": round(float(r.stdout.split()[-1]), 3),
    }


def host_stamp() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "canary": canary(),
    }


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants: the driver, the JVM it launched and
    the Python workers the JVM forked."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    the process tree under ``root`` (default: this process). Time the
    hypervisor steals from the guest is not in it, so it is a steadier cost
    figure than wall time on a shared host."""
    ticks = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_kib(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it, so a sum over processes counts the
    pages forked workers share with their daemon once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the process tree (driver, JVM, Python worker
    daemon and workers). Every ``period`` seconds a daemon thread sums the
    PSS of the processes alive at that moment; ``peak_mb`` is the largest
    sum. A peak shorter than the period can be missed."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            live = sum(_pss_kib(p) for p in _tree_pids(os.getpid()))
            self.peak_kib = max(self.peak_kib, live)
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0

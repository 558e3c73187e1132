"""Host-side probes: peak RSS of the Spark process tree and a host canary.

``psutil`` is not available, so both read ``/proc`` and the standard
library only.
"""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum, over ``root_pid`` and all its descendants, of each process's
    peak resident set (``VmHWM``, kept by the kernel, so no sampling)."""
    kids = _children_map()
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass  # ended meanwhile, or a kernel thread
    return total_kb / 1024


def canary_gbps(threads: int = 4, seconds: float = 0.5) -> float:
    """Aggregate memory-read bandwidth in GB/s: the method of
    ``tools/host_canary.py`` (summing 64 MB arrays in parallel), run on
    threads for ``seconds`` so that it fits before and after every
    benchmark run (NumPy releases the interpreter lock while summing).
    Context only: on a shared host the figure swings with co-tenant
    load, so it is never compared."""
    import numpy as np

    rates = []

    def work():
        a = np.ones(64_000_000 // 8, dtype=np.float64)  # 64 MB
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < seconds:
            a.sum()
            n += 1
        rates.append(n * a.nbytes / (time.perf_counter() - t0))

    ts = [threading.Thread(target=work) for _ in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return round(sum(rates) / 1e9, 2)

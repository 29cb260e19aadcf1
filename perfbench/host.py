"""Host-side probes: the process-tree RSS sampler and the fixed-flops
calibration stamp."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every descendant: the driver, the JVM it launched and
    the JVM's Python workers."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo += _children(pid)
    return seen


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0  # the process ended between listing and reading


class RssSampler:
    """Samples the summed RSS of this process tree every ``interval``
    seconds on a background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree_pids(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def calib_ms() -> float:
    """Fixed-flops numpy stamp (8 chained 512x512 matmuls). A run whose
    stamp reads well above its neighbours ran in a throttled window."""
    a = np.random.default_rng(0).standard_normal((512, 512))
    a @ a  # the first product in a process pays the BLAS thread-pool start
    t0 = time.perf_counter()
    for _ in range(8):
        a = a @ a / 512.0
    return (time.perf_counter() - t0) * 1e3

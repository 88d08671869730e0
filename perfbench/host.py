"""Measurements of the host and of the benchmark's own process tree."""

from __future__ import annotations

import os
import threading
import time


class RssSampler:
    """Peak resident memory (MB) of each given process, sampled from /proc
    every 20 ms while running."""

    def __init__(self, pids: dict[str, int]) -> None:
        self.pids = pids
        self.peak_mb = dict.fromkeys(pids, 0.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20

    def _sample(self) -> None:
        for name, pid in self.pids.items():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page_mb
            except (OSError, ValueError, IndexError):
                continue
            self.peak_mb[name] = max(self.peak_mb[name], rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.02)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def launch_floor(spark, reps: int = 3) -> list[float]:
    """Wall time of a trivial one-task-per-core job: host load canary."""
    n = spark.sparkContext.defaultParallelism
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(0, n, 1, n).count()
        out.append(time.perf_counter() - t)
    return out

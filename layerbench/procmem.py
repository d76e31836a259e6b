"""Peak resident size of PySpark's Python workers, sampled from /proc."""

from __future__ import annotations

import os
import threading

_MARKERS = (b"pyspark.daemon", b"pyspark/daemon.py", b"pyspark.worker", b"pyspark/worker.py")


def worker_rss_kb() -> list[int]:
    """VmRSS (kB) of every running PySpark daemon or worker process."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if not any(m in cmd for m in _MARKERS):
                continue
            with open(f"/proc/{pid}/status", "rb") as f:
                for line in f:
                    if line.startswith(b"VmRSS:"):
                        out.append(int(line.split()[1]))
                        break
        except OSError:  # the process ended between listing and reading
            continue
    return out


class PeakSampler:
    """Context manager: samples worker RSS every ``interval`` seconds on a
    background thread; ``peak_mb`` is the largest value seen."""

    def __init__(self, interval: float = 0.02):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_kb = max([self.peak_kb, *worker_rss_kb()])
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max([self.peak_kb, *worker_rss_kb()])

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

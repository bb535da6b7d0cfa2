"""Host fitting and host-side measurements: CPU set, driver heap size,
a short memory probe, and a sampler for the peak RSS of the driver JVM
and its Python workers."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")
PROBE_MB = 64  # host probe buffer
RSS_PERIOD_S = 0.1  # RSS sampling period
RSS_RESCAN = 10  # samples between re-reads of the process list


def cpu_count() -> int:
    """CPUs this process may run on (taskset/cgroup aware)."""
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """Driver heap from MemTotal: a tenth of RAM, clamped to 1-2 GB.

    The heap is fixed (-Xms = -Xmx), so the JVM's RSS grows to about
    this size; the crawl shapes need well under 1 GB. The rest of RAM
    is left to the Python workers and the page cache that holds the
    workdir tables."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return int(min(2048, max(1024, kb // 1024 // 10)))


def host_probe() -> dict:
    """memcpy and first-touch page-fault rates, GB/s (context only).

    The crawl is sensitive to both: shuffles and Arrow batches copy
    memory, and fresh JVM heap or worker buffers fault pages in."""
    n = PROBE_MB << 20
    src = np.ones(n, dtype=np.uint8)
    dst = np.empty_like(src)
    np.copyto(dst, src)
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t)
    t = time.perf_counter()
    fresh = np.empty(n, dtype=np.uint8)
    fresh[::_PAGE] = 1  # one write per page: pure fault cost
    fault = time.perf_counter() - t
    return {"memcpy_gb_per_s": n / best / 1e9, "fault_gb_per_s": n / fault / 1e9}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited between listing and reading
    return total


class RssSampler:
    """Peak summed RSS of every process below this one (the driver JVM
    and the Python workers it forks), sampled every RSS_PERIOD_S while
    the sampler is running. The process list is re-read every
    RSS_RESCAN samples: walking /proc holds the driver's GIL far longer
    than reading a few statm files."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me, n, pids = os.getpid(), 0, []
        while not self._stop.is_set():
            if n % RSS_RESCAN == 0:
                pids = descendants(me)
            n += 1
            self.peak = max(self.peak, _rss_bytes(pids))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

"""Memory and CPU-steal sampling from /proc (psutil is not installed).

Memory is split by owner: the Python worker processes that run the
program's UDF code (``worker_rss_mb``) and the JVM (``session.jvm_rss_mb``),
so a saving that only moves memory from one into the other shows.
"""

from __future__ import annotations

import os
import threading

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB / 1024.0
    except OSError:
        return 0.0


def spark_processes() -> tuple[list[int], list[int]]:
    """(JVM pids, Python worker pids) descending from this process."""
    kids = _children()
    desc = _descendants(os.getpid(), kids)
    jvms = [p for p in desc if "org.apache.spark" in _cmdline(p) and "java" in _cmdline(p)]
    workers = [p for p in desc if "pyspark.daemon" in _cmdline(p) or "pyspark.worker" in _cmdline(p)]
    return jvms, workers


class RssSampler:
    """Background sampler of peak summed RSS (MB) of the JVM and of the
    Python workers, every ``interval`` seconds between start and stop."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_worker_mb = 0.0
        self.peak_jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvms, workers = spark_processes()
        self.peak_jvm_mb = max(self.peak_jvm_mb, sum(_rss_mb(p) for p in jvms))
        self.peak_worker_mb = max(self.peak_worker_mb, sum(_rss_mb(p) for p in workers))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def cpu_counters() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0

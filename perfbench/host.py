"""Host context read from ``/proc``: Spark process RSS and CPU steal."""

from __future__ import annotations

import os
import threading


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    total = sum(vals[:8])
    steal = vals[7] if len(vals) > 7 else 0
    return total, steal


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    children = _children_map()
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples, on a background thread, the RSS of the Spark driver JVM
    plus that of its PySpark daemon and worker processes. Short-lived
    children the JVM forks for other commands are left out: until they
    exec, they report the JVM's own RSS a second time. ``peak_mb`` is
    the largest sum seen between ``start`` and the first ``stop``."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2) -> None:
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_python_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        # workers are forked from the daemon and keep its command line
        python = sum(
            rss_kb(p) for p in descendants(self.jvm_pid) if "pyspark.daemon" in cmdline(p))
        total = rss_kb(self.jvm_pid) + python
        if total > self.peak_kb:
            self.peak_kb, self.peak_python_kb = total, python

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

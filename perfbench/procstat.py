"""Host and process readings from /proc: resident memory and CPU time of
the Spark JVM plus its Python workers, and the host's CPU steal."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """root and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_seconds(pid: int, with_reaped_children: bool = False) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
    ticks = int(f[11]) + int(f[12])
    if with_reaped_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


class SparkProcs:
    """The JVM launched for the session and the Python workers below it."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def workers(self) -> list[int]:
        return [p for p in descendants(self.jvm_pid) if p != self.jvm_pid]

    def rss(self) -> int:
        return rss_bytes(descendants(self.jvm_pid))

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU seconds, Python-worker CPU seconds incl. reaped ones)."""
        jvm = cpu_seconds(self.jvm_pid)
        workers = sum(cpu_seconds(p, with_reaped_children=True) for p in self.workers())
        return jvm, workers


class PeakRss:
    """Samples the JVM tree's resident memory every `interval` seconds
    on a background thread; `peak` is the largest sum seen."""

    def __init__(self, procs: SparkProcs, interval: float = 0.2):
        self.procs = procs
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, self.procs.rss())

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) from the host's /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dt if dt > 0 else 0.0

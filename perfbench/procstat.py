"""CPU, RSS and load readings from ``/proc`` for the processes the
benchmark starts: the Spark JVM and its Python workers, i.e. every
descendant of the benchmark's own process (which is not counted)."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the whole machine from /proc/stat; the
    steal share of a run tells how much a hypervisor neighbour took."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _stat(pid: str) -> tuple[int, str, int] | None:
    """(ppid, comm, utime+stime+cutime+cstime ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15])


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 1e6
    except OSError:
        return 0.0


def descendants(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (comm, cpu ticks) for every live descendant of ``root``."""
    info: dict[int, tuple[int, str, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                info[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _t) in info.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, int]] = {}
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out[pid] = (info[pid][1], info[pid][2])
        stack.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """CPU seconds used so far by the live descendants of ``root``,
    including the children they have reaped (Python workers forked by
    the worker daemon land in the daemon's cutime once reaped)."""
    return sum(t for _c, t in descendants(root).values()) / _TICK


class Sampler:
    """Background RSS sampler over the descendants of ``root``.

    Since the last :meth:`reset`: ``peak_mb`` is the highest summed RSS,
    ``jvm_peak_mb`` / ``python_peak_mb`` the highest RSS summed over the
    Java / Python processes alone, and ``worker_peak_mb`` the highest
    RSS of a single Python process."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self.reset()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "Sampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0
            self.jvm_peak_mb = 0.0
            self.python_peak_mb = 0.0
            self.worker_peak_mb = 0.0

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "peak_mb": self.peak_mb,
                "jvm_peak_mb": self.jvm_peak_mb,
                "python_peak_mb": self.python_peak_mb,
                "worker_peak_mb": self.worker_peak_mb,
            }

    def sample(self) -> None:
        jvm = py = worker = 0.0
        for pid, (comm, _t) in descendants(self.root).items():
            rss = _rss_mb(pid)
            if comm.startswith("python"):
                py += rss
                worker = max(worker, rss)
            else:
                jvm += rss
        with self._lock:
            self.peak_mb = max(self.peak_mb, jvm + py)
            self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
            self.python_peak_mb = max(self.python_peak_mb, py)
            self.worker_peak_mb = max(self.worker_peak_mb, worker)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

"""Process-tree CPU and RSS meter over ``/proc``.

Only descendants of one root process are counted, each keyed on
``(pid, starttime)``: a concurrent Spark application on the same host is
never a descendant, and a PID the kernel reuses for a new process gets a
new key instead of inheriting the old process's counters.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _fields(pid: int) -> list[str] | None:
    """``/proc/<pid>/stat`` from field 3 (state) on, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode(errors="replace")
    except OSError:
        return None
    # comm (field 2) may hold spaces or parens: split after its last ')'
    return raw[raw.rindex(")") + 2:].split()


def _stat(pid: int) -> tuple[int, int, float] | None:
    """(ppid, starttime, own user+system CPU seconds) of ``pid``."""
    fields = _fields(pid)
    if fields is None:
        return None
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    return int(fields[1]), int(fields[19]), cpu


def alive(pid: int, start: int) -> bool:
    """True while process ``(pid, starttime)`` exists and is not a zombie."""
    fields = _fields(pid)
    return fields is not None and int(fields[19]) == start and fields[0] != "Z"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> dict[tuple[int, int], tuple[int, float]]:
    """Every live process under ``root`` (root included):
    ``{(pid, starttime): (pid, cpu_s)}``."""
    table: dict[int, tuple[int, int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                table[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _start, _cpu) in table.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[tuple[int, int], tuple[int, float]] = {}
    stack = [root] if root in table else []
    while stack:
        pid = stack.pop()
        _ppid, start, cpu = table[pid]
        out[(pid, start)] = (pid, cpu)
        stack.extend(children.get(pid, ()))
    return out


def is_python_worker(pid: int) -> bool:
    """A PySpark worker or worker daemon (stock or this package's
    warm-fork daemon), as opposed to the driver or the JVM."""
    cmd = _cmdline(pid)
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd or "fastdaemon" in cmd


class TreeMeter:
    """Samples a process tree (CPU per ``(pid, starttime)``, summed RSS)
    on a background thread.

    CPU used is the last seen CPU of every ``(pid, starttime)`` minus
    its CPU when the meter was made. A process that starts and exits
    between two samples is not seen, so the interval is kept short;
    ``mark()`` samples at once, for exact deltas around a phase.
    """

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._base: dict[tuple[int, int], float] = {}
        self._last: dict[tuple[int, int], float] = {}
        self._py: set[tuple[int, int]] = set()
        self.rss_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        for key, (_pid, cpu) in descendants(root).items():
            self._base[key] = cpu
            self._last[key] = cpu

    def start(self) -> TreeMeter:
        self._thread.start()
        return self

    def _sample(self) -> None:
        procs = descendants(self.root)
        rss = sum(_rss_bytes(pid) for pid, _cpu in procs.values())
        with self._lock:
            for key, (pid, cpu) in procs.items():
                if key not in self._last:
                    self._base.setdefault(key, 0.0)
                    if is_python_worker(pid):
                        self._py.add(key)
                self._last[key] = max(cpu, self._last.get(key, 0.0))
            self.rss_peak = max(self.rss_peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def mark(self) -> dict[str, float]:
        """Sample now; return the CPU-s used so far by the whole tree,
        by its Python workers and by the root process alone."""
        self._sample()
        with self._lock:
            used = {k: self._last[k] - self._base[k] for k in self._last}
        return {
            "tree": sum(used.values()),
            "py_workers": sum(used[k] for k in self._py),
            "root": sum(v for (pid, _s), v in used.items() if pid == self.root),
        }

    def seen(self) -> list[tuple[int, int]]:
        """Every (pid, starttime) sampled so far."""
        with self._lock:
            return list(self._last)

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

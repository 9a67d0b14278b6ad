"""Process-tree helpers read from /proc: resident memory of a process's
descendants (the Spark driver JVM and the Python workers it forks)."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: split after the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _statm_rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def resident(pids: list[int]) -> dict[int, tuple[str, int]]:
    """pid -> (command name, resident bytes) of the JVM and the Python
    processes among ``pids``.

    The JVM counts its RSS: it forks nothing. Python processes (the
    daemon and its forked workers) count their proportional set size
    (PSS), because summed RSS would count their shared copy-on-write
    pages once per worker; reading the JVM's PSS instead costs ~20 ms,
    walking its page tables. Other processes are transient launch
    helpers and are skipped: the ``spark-submit`` scripts, and the
    children the JVM spawns, which share its address space (and show its
    RSS) until they exec. The command name is read at every sample
    because the JVM's pid starts out as the ``spark-submit`` script.
    """
    out: dict[int, tuple[str, int]] = {}
    for pid in pids:
        try:
            comm = _comm(pid)
            if comm == "java":
                out[pid] = (comm, _statm_rss(pid))
            elif comm.startswith("python"):
                out[pid] = (comm, _pss(pid))
        except OSError:  # the process ended meanwhile
            continue
    return out


class PeakRss:
    """Samples the resident memory of ``root``'s descendants every
    ``interval`` seconds on a background thread, keeping the peak total
    and the per-process breakdown at that peak."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            now = resident(descendants(self.root))
            total = sum(b for _, b in now.values())
            if total > self.peak:
                self.peak, self.at_peak = total, now
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

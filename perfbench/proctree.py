"""CPU time and memory of a process tree, read from /proc.

The benchmark's tree is the benchmark process, the Spark JVM it launches,
the JVM's Python worker daemon and the workers the daemon forks. A
process's `cutime`/`cstime` hold the CPU of children it has reaped, so a
worker that exits between two readings is still counted (through its
parent, which stays in the tree).

Memory is the summed proportional set size (PSS): resident pages, with a
page shared by k processes counted 1/k in each. Forked Python workers
share most of their pages with the daemon, so a plain sum of RSS would
count those pages once per worker.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, float]]:
    """{pid: (ppid, user+sys CPU seconds including reaped children)}."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            raw = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        # the command name is in parentheses and may hold spaces
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(entry)] = (int(fields[1]),
                           sum(int(fields[k]) for k in (11, 12, 13, 14)) * _TICK_S)
    return out


def _tree(root: int, procs: dict[int, tuple[int, float]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(pid)
            stack.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    return [pid for pid in _tree(root, _procs()) if pid != root]


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root`'s tree. The difference of two
    readings is the CPU used in between: a process that ended was reaped
    by a parent in the tree, whose child counters took over its time."""
    procs = _procs()
    return sum(procs[pid][1] for pid in _tree(root, procs))


def _pss_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024.0
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def tree_pss_mb(root: int) -> dict[str, float]:
    """Summed PSS of `root`'s tree: in total, of its Python processes (the
    benchmark and Spark's Python workers) and of its JVM."""
    out = {"total": 0.0, "python": 0.0, "jvm": 0.0}
    for pid in _tree(root, _procs()):
        try:
            comm = Path(f"/proc/{pid}/comm").read_text().strip()
        except OSError:
            continue
        mb = _pss_mb(pid)
        out["total"] += mb
        if comm.startswith("python"):
            out["python"] += mb
        elif comm == "java":
            out["jvm"] += mb
    return out


class PeakMemory:
    """Peaks of `tree_pss_mb(root)` between `start()` and `stop()`, sampled
    by a background thread."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = {"total": 0.0, "python": 0.0, "jvm": 0.0}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for k, v in tree_pss_mb(self.root).items():
            self.peak_mb[k] = max(self.peak_mb[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

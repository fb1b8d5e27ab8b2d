"""Process-tree resource use from /proc: summed memory and CPU seconds of
this process and every descendant (Spark JVM, Python workers).

Memory is PSS (proportional set size): a page shared by n processes counts
1/n in each, so the sum is the tree's real footprint. Summed RSS counts a
forked child's copy-on-write pages twice and reads a brief fork of the
multi-GB JVM as a doubling of memory."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return None
    return st[st.rindex(")") + 2:].split()


def tree_pss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended between listing and reading
            continue
    return total


def tree_cpu_s(pids: list[int]) -> dict[int, float]:
    """pid → user+sys seconds of the process plus its reaped children."""
    out = {}
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            out[p] = sum(int(x) for x in f[11:15]) / _TICK
    return out


def cpu_snapshot() -> dict[int, float]:
    return tree_cpu_s(tree_pids())


def cpu_since(snapshot: dict[int, float]) -> float:
    """CPU seconds the tree used since ``snapshot`` was taken."""
    return sum(v - snapshot.get(p, 0.0) for p, v in cpu_snapshot().items())


class TreeMonitor:
    """Samples the tree's summed PSS every ``interval`` seconds on a
    background thread between ``start`` and ``stop``; ``peak_bytes`` is the
    highest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self.peak_bytes = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(tree_pids()))
            if self._stop.wait(self.interval):
                return

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("PSS sampler did not stop")

"""Timing statistics and process-tree accounting for the benchmark."""

from __future__ import annotations

import math
import os
import statistics
import threading

MIN_BEYOND = 10  # a percentile is reported only with this many samples past it


def percentile(values, q: float) -> float:
    """Nearest-rank q-quantile (0 < q < 1) of values.  Refuses (raises
    ValueError) when fewer than MIN_BEYOND samples lie beyond it, since a
    tail percentile resting on a handful of samples is not a measurement."""
    xs = sorted(values)
    rank = math.ceil(q * len(xs))
    beyond = len(xs) - rank
    if rank < 1 or beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {len(xs)} samples has {max(beyond, 0)} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return xs[rank - 1]


def median(values) -> float:
    return statistics.median(values)


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int):
    """(ppid, CPU seconds including reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3): ppid = field 4, utime..cstime = 14..17
    return int(fields[1]), sum(int(f) for f in fields[11:15]) / _TICK


def _tree(root: int | None = None) -> dict[int, float]:
    """{pid: CPU seconds} for root and all its descendants — here the
    benchmark driver, the Spark JVM, the PySpark daemon and its forked
    Python workers.  Exited workers count through their parent's
    reaped-children CPU."""
    root = root or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu() -> float:
    return sum(_tree().values())


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the daemon and its
    forked workers are split between them instead of counted per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss() -> int:
    return sum(_pss_bytes(pid) for pid in _tree())


class MemSampler:
    """Background sampler (every INTERVAL_S) of the process tree's summed
    PSS; `peak` is the largest sum seen since start()."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss())
            self._stop.wait(self.INTERVAL_S)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss())

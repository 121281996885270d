"""Run statistics: the percentile rule, per-slot medians, process-tree
memory sampling and the box-contention snapshot."""

from __future__ import annotations

import math
import os
import statistics
import threading


def tail_percentile(n: int, cap: float = 90.0) -> float:
    """Highest percentile (a whole number, at most ``cap``) that leaves at
    least ten of ``n`` samples strictly beyond it. Below 20 samples no
    percentile qualifies and the median is returned; callers report the
    sample count alongside."""
    best = 50.0
    for p in range(50, int(cap) + 1):
        if n - math.ceil(n * p / 100.0) >= 10:
            best = float(p)
    return best


# ------------------------------------------------------------ processes


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (ppid, state, command) for every readable process."""
    out: dict[int, tuple[int, str, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, rest = fh.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue
        f = rest.split()  # after the command: state, ppid, ...
        out[int(name)] = (int(f[1]), f[0], head.split("(", 1)[1])
    return out


def _tree(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    return _tree(_proc_table(), root)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


def tree_pss(root: int) -> dict[str, int]:
    """Memory of ``root`` and all its descendants (the JVM launched by
    spark-submit and the Python workers it forks), by command name.

    PSS, not RSS: forked children share pages with their parent (Python
    workers with their daemon; the JVM's short-lived helper forks with
    the whole JVM), and summed RSS would count those pages once per
    process."""
    table = _proc_table()
    out: dict[str, int] = {}
    for pid in [root, *_tree(table, root)]:
        if pid in table:
            comm = table[pid][2]
            out[comm] = out.get(comm, 0) + _pss_bytes(pid)
    return out


class MemSampler:
    """Background thread recording the peak summed PSS of this process
    tree, sampled every ``interval`` seconds from /proc, and the split
    by command name at that peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        split = tree_pss(os.getpid())
        total = sum(split.values())
        if total > self.peak:
            self.peak, self.split = total, split

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ... (clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def pass_time(ops: list[dict]) -> float:
    """Seconds for one pass of the op mix: the sum, over the op slots of
    a pass, of each slot's median time across passes. A slow op in one
    pass does not set the figure, as it would in the median pass sum."""
    return sum(slot_medians(ops).values())


def slot_medians(ops: list[dict]) -> dict[str, float]:
    """Each op slot's median time across passes."""
    by_slot: dict[str, list[float]] = {}
    for o in ops:
        by_slot.setdefault(o["slot"], []).append(o["s"])
    return {k: statistics.median(v) for k, v in by_slot.items()}


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def box_snapshot() -> dict:
    """Load average and the number of other runnable processes outside
    this process tree — evidence of contention from other tenants."""
    table = _proc_table()
    mine = {os.getpid(), *_tree(table, os.getpid())}
    running = sum(
        1 for pid, row in table.items() if row[1] == "R" and pid not in mine
    )
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "other_running_procs": running,
    }

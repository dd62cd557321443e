"""Process-tree and host probes read from ``/proc``.

The benchmark's process tree is the bench's own Python process, the Spark
JVM it launches, and the Python worker processes the JVM forks. CPU seconds
and RSS are summed over that tree; the Python workers are also summed on
their own so the Arrow-UDF path can be told apart from the JVM.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, comm, cpu seconds incl. reaped children, rss bytes) of a pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may contain spaces; it is the text between the first "(" and the last ")"
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5): utime=14, stime=15,
    # cutime=16, cstime=17, rss=24
    ppid = int(fields[1])
    cpu = (int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, comm, cpu, rss


def tree_snapshot(root: int) -> dict[int, tuple[str, float, int]]:
    """{pid: (comm, cpu_s, rss_bytes)} for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _cpu, _rss) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            _ppid, comm, cpu, rss = stats[pid]
            out[pid] = (comm, cpu, rss)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int) -> tuple[float, float]:
    """(CPU seconds of the whole tree, CPU seconds of its Python workers).

    Python workers are the python processes below the root; a worker that
    exits is reaped by the pyspark daemon, so its time stays in the
    daemon's cutime/cstime and is still counted."""
    total = workers = 0.0
    for pid, (comm, cpu, _rss) in tree_snapshot(root).items():
        total += cpu
        if pid != root and comm.startswith("python"):
            workers += cpu
    return total, workers


# Processes whose RSS counts: the bench and the Python workers (python*) and
# the JVM (java). A JVM thread that forks a helper command shows up for a
# moment as a copy of the JVM, named after the thread and with the JVM's
# RSS; counting it would double the JVM.
_RSS_COMMS = ("python", "java")


class RssSampler:
    """Samples the tree's summed RSS on a background thread; ``peak_mb``
    is the highest sum seen since the last ``reset``."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self._root = root
        self._interval = interval_s
        self._peak = 0
        self._peak_by_comm: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        snap = [v for v in tree_snapshot(self._root).values() if v[0].startswith(_RSS_COMMS)]
        rss = sum(r for _c, _cpu, r in snap)
        with self._lock:
            if rss > self._peak:
                self._peak = rss
                self._peak_by_comm = {}
                for comm, _cpu, r in snap:
                    self._peak_by_comm[comm] = self._peak_by_comm.get(comm, 0) + r / 2**20

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
            self._peak_by_comm = {}

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    @property
    def peak_by_comm_mb(self) -> dict[str, float]:
        """RSS per process name at the moment of the peak."""
        with self._lock:
            return dict(self._peak_by_comm)


def _steal_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def box_probe(iters: int = 2_000_000) -> dict[str, float]:
    """Noisy-neighbour probe: a single-core busy loop and the share of host
    CPU time stolen by the hypervisor while it ran. A slow loop or a high
    steal share marks a degraded window in which every timing inflates."""
    s0, t0_all = _steal_ticks()
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc ^= i * 7
    busy = time.perf_counter() - t0
    s1, t1_all = _steal_ticks()
    steal = (s1 - s0) / (t1_all - t0_all) if t1_all > t0_all else 0.0
    return {"busy_loop_s": round(busy, 4), "steal_frac": round(steal, 4)}

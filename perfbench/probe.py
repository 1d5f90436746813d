"""Process-tree and host probes read from /proc.

- CPU seconds of the benchmark's process tree: the driver Python process,
  the JVM it launches and the Python workers the JVM forks. Each process
  contributes utime + stime plus the cutime + cstime of children it has
  already reaped, so a worker that exits between two readings is still
  counted once, by its parent.
- The share of that CPU spent by the JVM's JIT compiler threads.
- Peak resident memory of the tree, sampled by a background thread.
- Host contention: steal ticks from /proc/stat and the 1-minute loadavg,
  reported beside the metrics so a run slowed by a noisy neighbour can be
  told from a regression.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name may contain spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds consumed so far by the process tree (see module doc)."""
    ticks = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5);
            # after dropping pid and comm they sit at indices 11-14.
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _TICK


def jit_cpu_s() -> float:
    """CPU seconds consumed so far by the JVM's JIT compiler threads in the
    process tree. Their work is warm-up that lands in whichever pass the
    compile queue happens to reach, so cpu_s leaves it out. The JVM must
    keep its compiler threads for its lifetime
    (``-XX:-UseDynamicNumberOfCompilerThreads``): an exited thread's time
    would move into the process total."""
    ticks = 0
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            if raw[raw.index("(") + 1:].startswith(("C1 Compiler", "C2 Compiler")):
                ticks += sum(int(f) for f in raw[raw.rindex(")") + 2:].split()[11:13])
    return ticks / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21]) * _PAGE
    return total


def host_sample() -> dict:
    """Cumulative steal ticks and the 1-minute loadavg."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"steal": int(cpu[8]), "load1": load1}


class PeakRss:
    """Samples the tree's resident memory every ``interval`` seconds on a
    daemon thread; ``peak`` is the largest total seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())

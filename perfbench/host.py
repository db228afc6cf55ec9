"""Host-side probes: /proc/stat steal, a fixed memory-bandwidth probe,
process-tree RSS sampling, and process-tree cleanup.

Steal and bandwidth are per-run noise evidence (diagnostics, not
metrics): co-tenant CPU pressure shows up as hypervisor steal, while
co-tenant bandwidth pressure does not, so each run carries both and an
unsteady window can be told apart from a regression.
"""

from __future__ import annotations

import os
import signal
import threading
import time

__all__ = ["cpu_ticks", "steal_fraction", "membw_mb_s", "RssSampler", "kill_tree", "reap"]


def cpu_ticks() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the aggregate /proc/stat line."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def membw_mb_s() -> float:
    """Single-thread read bandwidth over a 64 MiB array (larger than any
    cache), best of three."""
    import numpy as np

    a = np.ones(8 * 1024 * 1024, dtype=np.int64)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(4):
            a.sum()
        best = max(best, 4 * a.nbytes / (time.perf_counter() - t0) / 1e6)
    return best


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _hwm_mb(pid: int) -> float:
    """A process's peak RSS so far (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (OSError, ValueError):
        pass
    return 0.0


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            args = fh.read().split(b"\0")
    except OSError:
        return "?"
    # the interpreter or launcher plus the module or script it runs
    return " ".join(os.path.basename(a.decode(errors="replace")) for a in args[:3])[:80]


class RssSampler:
    """Samples a process tree on a background thread.  ``peak_mb`` is the
    highest sum, over the processes alive at one sample, of each one's peak
    RSS so far (VmHWM): the kernel keeps each high-water mark, so a
    transient peak between samples is not missed."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid = pid
        self.interval = interval
        self.peak_mb = 0.0
        self.seen: set[int] = set()
        # the processes behind the peak: pid -> (command, VmHWM MB)
        self.at_peak: dict[int, tuple[str, float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            hwm = {p: _hwm_mb(p) for p in tree(self.pid)}
            self.seen.update(hwm)
            if sum(hwm.values()) > self.peak_mb:
                self.peak_mb = sum(hwm.values())
                self.at_peak = {p: (_command(p), mb) for p, mb in hwm.items()}
            self._stop.wait(self.interval)


def kill_tree(pid: int) -> None:
    """SIGKILL a process and all its descendants (children first found,
    so none is re-parented out of reach)."""
    for p in reversed(tree(pid)):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def reap(pids, timeout: float = 15.0) -> None:
    """Wait for processes that outlived their parent (the JVM and Python
    workers exit after the driver process), killing any still running at
    the timeout."""
    end = time.time() + timeout
    while any(_running(p) for p in pids) and time.time() < end:
        time.sleep(0.1)
    for p in pids:
        if _running(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

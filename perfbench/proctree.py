"""CPU time and resident memory of this process's descendants, read from
``/proc`` (psutil is not available).

The benchmark's own Python process launches the JVM; the JVM launches the
PySpark worker daemon, which forks the Python workers.  Summing over every
descendant therefore covers "JVM plus all Python workers" and leaves out
the benchmark's own process.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def descendants() -> list[int]:
    """Every live descendant pid of this process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """user+system CPU seconds of the descendants, including children they
    have already reaped (exited Python workers land in the daemon's
    cutime/cstime, so no work is lost between two readings)."""
    total = 0
    for pid in descendants():
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def tree_rss_mb() -> float:
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Background sampler of the descendants' summed RSS; ``peak_mb`` is
    the highest sample seen between ``start`` and ``stop``."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


def stop_descendants(timeout_s: float = 30.0) -> list[int]:
    """SIGTERM, then SIGKILL, every remaining descendant and wait until
    none is left.  Returns the pids that still existed at the deadline."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        pids = descendants()
        if not pids:
            return []
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        # reap direct children so they do not linger as zombies
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if time.monotonic() > deadline:
            return descendants()
        if time.monotonic() > deadline - timeout_s / 2:
            sig = signal.SIGKILL
        time.sleep(0.2)

"""Process-tree and host accounting from /proc (Linux only).

The benchmark's CPU and memory metrics cover the whole process tree it
starts: the driver Python process, the Spark JVM and the Python worker
daemons under it. Host noise (steal and iowait share, load average) is
recorded over each timed window so a slow run can be told apart from a
busy host.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
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


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree, including children that
    already exited and were reaped inside it (cutime/cstime)."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident MB of the tree by executable (``java``, ``python3``, ...),
    summed as PSS: a page shared between processes (Python workers forked
    from one daemon, or a child the JVM forks for a moment) is split
    between them, not counted once per process."""
    out: dict[str, float] = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0.0) + kb / 1024
    return out


def _host_cpu() -> list[int]:
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal ...
        return [int(x) for x in f.readline().split()[1:9]]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Window:
    """One timed window: wall time, tree CPU, peak tree RSS (sampled on a
    background thread), and the host's steal/iowait share and load."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.peak_by_exe: dict[str, float] = {}
        self._loads: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            rss = tree_rss_mb(self.root)
            self.peak_rss_mb = max(self.peak_rss_mb, sum(rss.values()))
            for comm, mb in rss.items():
                self.peak_by_exe[comm] = max(self.peak_by_exe.get(comm, 0.0), mb)
            self._loads.append(_loadavg())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "Window":
        self._host0 = _host_cpu()
        self._cpu0 = tree_cpu_s(self.root)
        self._t0 = time.perf_counter()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0
        self._stop.set()
        self._thread.join(timeout=5)
        host = [b - a for a, b in zip(self._host0, _host_cpu())]
        busy = max(sum(host), 1)
        self.host = {
            "steal_share": round(host[7] / busy, 5),
            "iowait_share": round(host[4] / busy, 5),
            "loadavg_1m_mean": round(sum(self._loads) / max(len(self._loads), 1), 3),
            "loadavg_1m_max": max(self._loads, default=0.0),
            "peak_rss_mb_by_exe": self.peak_by_exe,
        }


def kill_tree(root: int, grace_s: float = 10.0) -> list[int]:
    """SIGTERM every descendant of ``root`` (not ``root`` itself), then
    SIGKILL what is still alive after ``grace_s``. Returns the pids that
    had to be killed; waits until each is gone."""
    victims = [p for p in tree_pids(root) if p != root]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in victims:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            _reap()
            if not any(_alive(p) for p in victims):
                return victims
            time.sleep(0.1)
    return victims


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return

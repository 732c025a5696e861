"""/proc readings for the benchmark's own process tree.

The tree is this Python driver, the JVM it launched, and the pyspark
daemon with its forked workers. Readings are taken at op boundaries only;
no sampling thread runs beside the client.

- Peak memory is the sum, over every process seen, of its kernel-kept
  high-water mark (VmHWM). That is an upper bound on the simultaneous peak
  and needs no sampling to catch short spikes.
- Python worker CPU is user+system time of the pyspark daemon and its
  descendants, counting children the daemon already reaped (cutime/cstime).

`become_subreaper` and `stop_descendants` make sure no process of the tree
outlives the benchmark: the pyspark daemon is the JVM's child, so once the
JVM exits it would otherwise be reparented away and nobody would wait for it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat; index i holds field i+1 of proc(5)
    (0 pid, 1 comm, 3 ppid, 13-16 utime stime cutime cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split at the last ')'
    head, _, tail = raw.rpartition(")")
    pid_s, comm = head.split(" (", 1)
    return [pid_s, comm] + tail.split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        kids.setdefault(int(st[3]), []).append(int(name))
    return kids


def _descendants(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class ProcTree:
    """Peak-RSS and worker-CPU bookkeeping for the process tree under `root`."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.hwm_kb: dict[int, int] = {}
        self.jvm_pid: int | None = None

    def sample(self) -> None:
        """Refresh every live process's high-water mark."""
        kids = _children()
        for pid in _descendants(self.root, kids):
            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), _hwm_kb(pid))
            if self.jvm_pid is None and pid != self.root:
                st = _stat(pid)
                if st is not None and st[1] == "java":
                    self.jvm_pid = pid

    def peak_rss_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0

    def jvm_peak_rss_mb(self) -> float:
        return self.hwm_kb.get(self.jvm_pid, 0) / 1024.0 if self.jvm_pid else 0.0

    def worker_cpu_s(self) -> float:
        """CPU seconds of the pyspark daemon, its live workers and the
        workers it has reaped. Forked workers share the daemon's command
        line, so only a daemon whose parent is not one counts as a root."""
        kids = _children()
        parent = {c: p for p, cs in kids.items() for c in cs}
        daemons = {p for p in _descendants(self.root, kids) if "pyspark.daemon" in _cmdline(p)}
        total = 0
        for pid in daemons:
            if parent.get(pid) in daemons:
                continue
            for p in _descendants(pid, kids):
                st = _stat(p)
                if st is not None:
                    total += sum(int(x) for x in st[13:17])
        return total / _TICK


def become_subreaper() -> None:
    """Make orphaned descendants (the pyspark daemon and its workers once
    the JVM has exited) children of this process, so it can wait for them."""
    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _live_descendants(root: int) -> list[int]:
    """Descendants of `root` (not itself) that have not exited; zombies
    count as exited."""
    out = []
    for pid in _descendants(root, _children())[1:]:
        st = _stat(pid)
        if st is not None and st[2] != "Z":
            out.append(pid)
    return out


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def stop_descendants(grace_s: float = 20.0) -> list[int]:
    """Wait until every descendant of this process has ended and reap it.
    Processes still alive after `grace_s` get SIGTERM, and SIGKILL after
    another `grace_s`. Returns the pids that had to be signalled."""
    me = os.getpid()
    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        live = _live_descendants(me)
        if not live:
            return signalled
        if time.monotonic() >= deadline:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled += [p for p in live if p not in signalled]
            sig, deadline = signal.SIGKILL, time.monotonic() + grace_s
        time.sleep(0.05)

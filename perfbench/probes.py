"""Readings taken from outside the program: the process tree in /proc,
host counters, and a fixed CPU kernel that no program change can move.

The process tree is the benchmark's own Python process, the JVM it
launches, and the JVM's Python daemon and workers. CPU time of a live
process includes its reaped children (cutime/cstime), so a worker that
exited between two readings still counts through its parent.
"""

from __future__ import annotations

import os
import time

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed.
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _vmhwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _cmdline(pid)
    if "java" in cmd.split(" ", 1)[0] or "org.apache.spark" in cmd:
        return "jvm"
    if "pyspark" in cmd or "python" in cmd:
        return "python"
    return "other"


class ProcessTree:
    """CPU seconds by role and the per-process peak RSS, read from
    /proc for this process and everything it started."""

    def __init__(self, root: int | None = None):
        self.root = root if root is not None else os.getpid()
        self._roles: dict[int, str] = {}
        self.hwm_mb: dict[int, float] = {}

    def sample(self) -> dict[str, float]:
        cpu = {"driver": 0.0, "jvm": 0.0, "python": 0.0, "other": 0.0}
        for pid in descendants(self.root):
            st = _stat(pid)
            if st is None:
                continue
            role = self._roles.get(pid)
            if role is None:
                role = self._roles[pid] = _role(pid, self.root)
            # utime, stime, cutime, cstime are fields 14-17 of stat.
            cpu[role] += sum(int(x) for x in st[11:15]) / _CLK
            self.hwm_mb[pid] = max(self.hwm_mb.get(pid, 0.0), _vmhwm_mb(pid))
        cpu["total"] = cpu["driver"] + cpu["jvm"] + cpu["python"] + cpu["other"]
        return cpu

    def peak_rss_mb(self, role: str | None = None) -> float:
        return sum(
            mb for pid, mb in self.hwm_mb.items()
            if role is None or self._roles.get(pid) == role
        )


def host_probe_s() -> float:
    """Wall time of a fixed numpy kernel in this process: a control
    that moves with the host's speed and with nothing in the program."""
    rng = np.random.default_rng(0)
    a = rng.random((256, 256))
    v = rng.random(200_000)
    t0 = time.perf_counter()
    for _ in range(12):
        a = np.tanh(a @ a.T / 256.0)
        np.sort(v)
    return time.perf_counter() - t0


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0

"""Process-tree CPU, peak memory and host-noise evidence from /proc.

Host noise follows the method of the repository's ``bench.py``: over a
measurement window, *steal cores* is hypervisor steal time per second of
wall time, and *external busy cores* is host-wide user time minus this
process tree's user time, per second of wall time.  Both are evidence
only; nothing is dropped or rescaled because of them.
"""

from __future__ import annotations

import os
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the ")" that closes the command name
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    out = []
    for pid in parent:
        q = pid
        while q > 1:
            if q == root:
                out.append(pid)
                break
            q = parent.get(q, 0)
    return out


def tree_cpu_s(root: int, user_only: bool = False) -> float:
    """CPU seconds of the live tree under ``root``, including children
    those processes have already reaped."""
    total = 0
    for pid in descendants(root):
        st = _stat_fields(pid)
        if st is None:
            continue
        # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
        total += int(st[11]) + int(st[13]) if user_only else \
            int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _HZ


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def find_jvm(root: int) -> int | None:
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def _host_user_and_steal() -> tuple[float, float]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return (vals[0] + vals[1]) / _HZ, steal / _HZ


class HostNoise:
    """Samples steal and external busy cores over one window."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.t0 = time.perf_counter()
        self.user0, self.steal0 = _host_user_and_steal()
        self.own0 = tree_cpu_s(root, user_only=True)

    def finish(self) -> dict[str, float]:
        wall = max(1e-6, time.perf_counter() - self.t0)
        user, steal = _host_user_and_steal()
        own = tree_cpu_s(self.root, user_only=True) - self.own0
        return {
            "steal_cores": (steal - self.steal0) / wall,
            "external_busy_cores": max(0.0, (user - self.user0) - own) / wall,
        }

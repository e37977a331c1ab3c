"""Host and process accounting read from ``/proc``.

``ProcessTree`` splits the CPU of this benchmark's process tree by
role: the driver (this Python process), the JVM it launched, and the
Python workers below the JVM. Each process counts user+sys of itself
plus the children it has already reaped, so workers that exit between
two samples are still charged (their parent reaped them).
``HostSample`` reads steal time and load, which describe the host.
"""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, list[int]] | None:
    """(ppid, [utime, stime, cutime, cstime]) in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rest = s[s.rfind(")") + 2:].split()
    return int(rest[1]), [int(x) for x in rest[11:15]]


def _all_stats() -> dict[int, tuple[int, list[int]]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    stats = _all_stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _thread_cpu(pid: int) -> dict[int, tuple[str, int]]:
    """{tid: (name, utime + stime)} for the live threads of ``pid``."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                s = f.read()
        except OSError:
            continue
        name = s[s.index("(") + 1:s.rfind(")")]
        rest = s[s.rfind(")") + 2:].split()
        out[int(t)] = (name, int(rest[11]) + int(rest[12]))
    return out


class ProcessTree:
    """CPU seconds by role for the driver, its JVM and the workers.

    The JVM's just-in-time compiler threads are their own role, ``jit``:
    that CPU is warm-up, which a run short enough for the time budget
    cannot finish, and it falls into whichever op happens to run while
    the compiler catches up. A compiler thread that exits keeps the CPU
    last seen for it."""

    def __init__(self, jvm_pid: int | None = None):
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid
        self._jit: dict[int, int] = {}

    def cpu(self) -> dict[str, float]:
        stats = _all_stats()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        drv = stats.get(self.driver_pid, (0, [0, 0, 0, 0]))[1]
        out = {"driver": sum(drv[:2]), "jvm": 0, "jit": 0, "pyworker": 0}
        if self.jvm_pid in stats:
            jvm = stats[self.jvm_pid][1]
            for tid, (name, ticks) in _thread_cpu(self.jvm_pid).items():
                if name.startswith(("C1 Compiler", "C2 Compiler")):
                    self._jit[tid] = ticks
            out["jit"] = sum(self._jit.values())
            out["jvm"] = sum(jvm[:2]) - out["jit"]
            # reaped children of the JVM are Python worker daemons
            out["pyworker"] = sum(jvm[2:])
            todo = list(kids.get(self.jvm_pid, []))
            while todo:
                p = todo.pop()
                out["pyworker"] += sum(stats[p][1])
                todo.extend(kids.get(p, []))
        return {k: v / _TCK for k, v in out.items()}


def work_cpu(sample: dict[str, float]) -> float:
    """CPU of every role but the JIT compiler."""
    return sum(v for k, v in sample.items() if k != "jit")


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def host_sample() -> dict[str, float]:
    """Cumulative /proc/stat jiffies (busy, steal, total) and 1-min load."""
    with open("/proc/stat") as f:
        cols = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    total = sum(cols[:8])
    return {"steal": cols[7], "total": total, "load1": load1}


def steal_pct(a: dict[str, float], b: dict[str, float]) -> float:
    dt = b["total"] - a["total"]
    return 100.0 * (b["steal"] - a["steal"]) / dt if dt > 0 else 0.0

"""CPU and memory of the program's process tree, read from /proc.

The tree is this driver process, its JVM and the Python workers the JVM
starts. The feeder process is left out: it makes the inputs, it is not the
program. CPU of a process includes that of its children it has waited for,
so workers that exit between two samples are still counted by their parent.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def sample(exclude: set[int] = frozenset()) -> dict[str, float]:
    """CPU seconds (user + system, own + waited-for children) of the driver,
    the JVM and the Python workers, and the JVM's current RSS in MB."""
    me = os.getpid()
    kids = _children()
    out = {"py_driver_cpu_s": 0.0, "jvm_cpu_s": 0.0, "py_worker_cpu_s": 0.0, "jvm_rss_mb": 0.0}
    stack = [(me, "driver")]
    while stack:
        pid, role = stack.pop()
        st = _stat(pid)
        if st is None:
            continue
        # fields after ')': utime=11, stime=12, cutime=13, cstime=14, rss=21
        if role == "driver":
            out["py_driver_cpu_s"] += sum(int(x) for x in st[11:13]) / _TICK
        elif role == "jvm":
            out["jvm_cpu_s"] += sum(int(x) for x in st[11:13]) / _TICK
            out["jvm_rss_mb"] += int(st[21]) * _PAGE / 1e6
        else:
            out["py_worker_cpu_s"] += sum(int(x) for x in st[11:15]) / _TICK
        for kid in kids.get(pid, []):
            if kid in exclude:
                continue
            if role == "driver":
                kid_role = "jvm" if _comm(kid) == "java" else "driver"
            else:
                kid_role = "worker"
            stack.append((kid, kid_role))
    return out


def tree_cpu_s(s: dict[str, float]) -> float:
    return s["py_driver_cpu_s"] + s["jvm_cpu_s"] + s["py_worker_cpu_s"]


def driver_peak_rss_mb() -> float:
    """Peak resident set of this process (VmHWM)."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError("VmHWM missing from /proc/self/status")

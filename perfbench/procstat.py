"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this Python driver, the JVM it launched (``java``) and the
PySpark worker processes under the JVM (``python``).  CPU is user+system
time; a process that has exited is still counted through its parent's
``cutime``/``cstime`` once the parent reaped it (the PySpark daemon reaps
its workers).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    return comm, int(rest[1]), rest


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie is not alive)."""
    st = _stat(pid)
    return st is not None and st[2][0] != "Z"


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[1], []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> dict[str, float]:
    """Cumulative CPU seconds of the JVM and of the Python workers below
    ``root`` (the driver itself is excluded)."""
    jvm = workers = 0.0
    for pid in descendants(root):
        if pid == root:
            continue
        st = _stat(pid)
        if st is None:
            continue
        comm, _ppid, f = st
        # fields after ")": utime=11 stime=12 cutime=13 cstime=14 (0-based)
        own = (int(f[11]) + int(f[12])) / _TICK
        reaped = (int(f[13]) + int(f[14])) / _TICK
        if comm.startswith("java"):
            jvm += own
        elif comm.startswith("python"):
            workers += own + reaped
    return {"jvm_cpu_s": jvm, "pyworker_cpu_s": workers}


def peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``), in MiB."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's CPUs so far
    (``steal`` in ``/proc/stat``), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK

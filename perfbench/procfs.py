"""CPU time and peak memory of this process and every descendant
(the driver, the JVM it launched and the JVM's Python workers), read
from ``/proc``; and the box stamp each record carries."""

from __future__ import annotations

import os
import platform

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parens: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the tree, including reaped children
    (``cutime``/``cstime``), so a worker that exits is still counted."""
    total = 0
    for p in tree(root):
        f = _stat(p)
        if f is not None:
            # fields 14-17 of /proc/pid/stat, 1-based; f starts at field 3
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def peak_rss_mb(root: int | None = None) -> dict[int, float]:
    """Peak resident set (``VmHWM``) of each live process of the tree,
    in MB, by pid."""
    out = {}
    for p in tree(root):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            pass
    return out


def reset_peak_rss(root: int | None = None) -> None:
    """Set each live process's ``VmHWM`` back to its current RSS, so a
    later ``peak_rss_mb`` covers only what ran in between."""
    for p in tree(root):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def alive(pid: int) -> bool:
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def box_stamp() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "loadavg_before": loadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]

"""CPU time and memory of this process tree, read from /proc.

The tree is the benchmark's Python driver, the Spark JVM it launches and
the JVM's Python workers.  CPU of children that already exited is included
through their parents' cutime/cstime.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    # fields after the comm: state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14)
    ticks = sum(int(x) for x in rest[11:15])
    return int(rest[1]), ticks / CLK_TCK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def is_running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def tree(root: int | None = None) -> dict[int, float]:
    """pid -> cpu seconds for ``root`` and all its live descendants."""
    root = root or os.getpid()
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    return sum(tree(root).values())


def python_worker_cpu_s(root: int | None = None) -> float:
    """CPU of the Spark Python worker daemon and its forked workers."""
    return sum(
        cpu for pid, cpu in tree(root).items() if "pyspark.daemon" in _cmdline(pid)
        or "pyspark.worker" in _cmdline(pid)
    )


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith(key + ":"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    return sum(_status_kb(pid, "VmHWM") for pid in tree(root)) / 1024.0


def tree_peak_rss_by_kind(root: int | None = None) -> dict[str, float]:
    """Peak resident MB per kind of process: driver, jvm, python workers."""
    out: dict[str, float] = {}
    for pid in tree(root):
        cmd = _cmdline(pid)
        kind = ("jvm" if cmd.split(" ", 1)[0].endswith("java")
                else "workers" if "pyspark" in cmd else "driver")
        out[kind] = out.get(kind, 0.0) + _status_kb(pid, "VmHWM") / 1024.0
    return out


def other_spark_jvms(root: int | None = None) -> list[int]:
    """Spark JVMs alive on this host that are not part of this tree."""
    mine = set(tree(root))
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        cmd = _cmdline(int(name))
        if cmd.split(" ", 1)[0].endswith("java") and "org.apache.spark" in cmd:
            out.append(int(name))
    return out

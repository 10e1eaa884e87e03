"""Readings from /proc for the benchmark's own process tree: the JVM it
launches and the JVM's Python workers. Linux only."""

from __future__ import annotations

import os

HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    return _stat_path(f"/proc/{pid}/stat")


def _stat_path(path: str) -> list[str] | None:
    """Fields of a stat file from field 3 on (index = field number - 3)."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after its closing paren
    return s[s.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of every live descendant of root,
    plus what their reaped children used, less what JIT compiler
    threads used: compilation is the JVM warming up, and its share
    of a pass shrinks from one pass to the next."""
    ticks = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat
        ticks += sum(int(x) for x in st[11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
            except OSError:
                continue
            ts = _stat_path(f"/proc/{pid}/task/{tid}/stat")
            if ts is not None:
                ticks -= int(ts[11]) + int(ts[12])
    return ticks / HZ


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the high-water RSS (VmHWM) of every live descendant."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def steal_s() -> float:
    """Host steal time summed over all CPUs, in seconds since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / HZ if len(fields) > 8 else 0.0


def process_start_epoch() -> float:
    """Wall-clock time this process started (clock-tick resolution)."""
    import time

    start_ticks = int(_stat(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / HZ

"""The benchmark's view of the processes the engine runs in: the driver JVM
that ``get_spark`` launches and the Python workers under it, all
descendants of the benchmark process."""

from __future__ import annotations

import os
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    """Pids of this process's descendants, children before grandchildren."""
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop(0)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:  # the process ended while we looked
            pass
        if pid != os.getpid():
            seen.append(pid)
    return seen


def rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * PAGE


def _cpu(stat: str, children: bool) -> int:
    """utime + stime (+ cutime + cstime) of one /proc stat line, in ticks."""
    f = stat.rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[11 : 15 if children else 13])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the descendants, those
    that have ended and been reaped included (their parents' ``cutime`` and
    ``cstime``). The kernel leaves out time the hypervisor gave to other
    guests (steal), so this does not follow how busy the host is."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                total += _cpu(fh.read(), children=True)
        except OSError:  # the process ended while we looked
            continue
    return total / TICK


def jit_cpu_s() -> float:
    """CPU seconds used so far by the HotSpot JIT compiler threads of the
    driver JVM (the first descendant). Their number is fixed with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, so no compiler thread ends
    and takes its share out of this sum while the JVM keeps it."""
    kids = descendants()
    if not kids:
        return 0.0
    total = 0
    for tid in os.listdir(f"/proc/{kids[0]}/task"):
        try:
            with open(f"/proc/{kids[0]}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the thread ended while we looked
            continue
        if " CompilerThre" in stat[: stat.index(")")]:
            total += _cpu(stat, children=False)
    return total / TICK


def cpu_s() -> float:
    """CPU seconds used so far by the engine's processes plus the calling
    thread (the client, which issues the calls and converts the answers),
    less the JVM's JIT compiler threads: compiling hot Java code is the
    JVM's warm-up, not the engine's work, and it lands on whichever call
    happens to be running."""
    return tree_cpu_s() - jit_cpu_s() + time.thread_time()

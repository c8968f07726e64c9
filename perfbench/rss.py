"""Peak resident memory and CPU time of this process and all its
descendants.

A background thread walks ``/proc`` every ``interval_s`` seconds, sums
VmRSS over this process tree (driver Python, the Spark JVM and the
Python workers it forks) and keeps the maximum.  The same process-tree
walk gives the tree's CPU time (``tree_cpu_s``) and tells ``run.py``
which processes to wait for at the end; ``host_cpu_s`` reads the host's
busy and steal time.  Standard library only.
"""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue                      # process ended while listing
        # the command name may hold spaces or parens: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    todo, out = list(kids.get(root, ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


def _statm(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return f.read()
    except OSError:
        return b""                        # process ended while reading


def tree_rss_mb(root: int) -> float:
    """Summed RSS of ``root`` and its descendants.  A child that the JVM
    spawns shares the JVM's address space until it execs (vfork), so for
    a moment it reports the JVM's whole RSS: a child whose statm equals
    its parent's is counted once, with the parent."""
    kids = _children()
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    todo, pages = [(root, b"")], 0
    while todo:
        pid, parent = todo.pop()
        statm = _statm(pid)
        if statm and statm != parent:
            pages += int(statm.split()[1])
        todo.extend((kid, statm) for kid in kids.get(pid, ()))
    return pages * page_kb / 1024.0


JIT_THREADS = (b"(C1 CompilerThre", b"(C2 CompilerThre")


def _cpu_ticks(stat: bytes, fields: slice) -> int:
    return sum(map(int, stat[stat.rindex(b")") + 2:].split()[fields]))


def tree_cpu_s(root: int) -> dict[str, float]:
    """CPU seconds (user + system) spent by ``root`` and its descendants,
    including children they have already reaped (``total``), and the
    part of it spent by the JVMs' JIT compiler threads (``jit``).

    The kernel leaves steal out of a task's run time (paravirtual steal
    accounting), so neither grows when the hypervisor runs another
    guest.  The JVM must keep its compiler threads for its lifetime
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the time of a thread
    that has ended is no longer listed on its own."""
    kids = _children()
    todo, total, jit = [root], 0, 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
            tids = os.listdir(f"/proc/{pid}/task") \
                if b"(java)" in stat else []
        except OSError:
            continue                      # process ended while reading
        # utime, stime, cutime, cstime: fields 14 to 17
        total += _cpu_ticks(stat, slice(11, 15))
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    t = f.read()
            except OSError:
                continue                  # thread ended while listing
            if t.startswith(JIT_THREADS, t.index(b"(")):
                jit += _cpu_ticks(t, slice(11, 13))
        todo.extend(kids.get(pid, ()))
    hz = os.sysconf("SC_CLK_TCK")
    return {"total": total / hz, "jit": jit / hz}


def host_cpu_s() -> dict[str, float]:
    """Busy and steal seconds of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran another guest while this one was
    runnable: the usual cause of run-to-run spread on a shared host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return {"busy": (user + nice + system + irq + softirq) / hz,
            "steal": steal / hz}


class PeakRss:
    """Context manager sampling the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

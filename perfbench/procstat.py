"""CPU time and peak memory of the benchmark's process tree, read from
``/proc`` (psutil is not installed).

The tree is this Python driver, the JVM it launched, and the JVM's
Python daemon and workers. CPU is ``utime+stime+cutime+cstime`` summed
over the live processes: a worker that exits is reaped by its parent,
which moves its time into the parent's ``cutime``/``cstime``, so the sum
stays continuous and nothing is counted twice.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")

#: every descendant of this process ever listed, pid -> start time, so
#: that processes orphaned by an exiting parent can still be ended
_seen: dict[int, str] = {}


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may contain spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    if root == os.getpid():
        for pid in out[1:]:
            start = _start_time(pid)
            if start:
                _seen.setdefault(pid, start)
    return out


def _start_time(pid: int) -> str | None:
    fields = _stat(pid)
    return fields[19] if fields else None  # stat field 22, starttime


def become_subreaper() -> None:
    """Have descendants orphaned by an exiting parent (the JVM's Python
    workers, when the JVM exits first) re-parented to this process rather
    than to init, so that ``end_descendants`` reaps them itself."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def end_descendants(grace_s: float = 20.0) -> list[int]:
    """End every descendant ever listed by ``tree()`` and wait until each
    is gone from ``/proc``, zombies included: SIGTERM to the ones left
    after ``grace_s``, SIGKILL to the ones left after twice that. Returns
    the pids that were still there at the end (none, normally)."""
    tree()
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        live = [pid for pid, start in _seen.items() if _start_time(pid) == start]
        if not live:
            return []
        now = time.monotonic()
        if sig is None and now > deadline:
            sig = signal.SIGTERM
        elif sig == signal.SIGTERM and now > deadline + grace_s:
            sig = signal.SIGKILL
        elif sig == signal.SIGKILL and now > deadline + 2 * grace_s:
            return live
        if sig is not None:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        for pid in live:  # reap the ones that are this process's children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


def cpu_seconds(root: int | None = None) -> float:
    total = 0
    for pid in tree(root):
        fields = _stat(pid)
        if fields:
            # fields[11..14] = utime stime cutime cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def unstolen(wall: float, cpu: float, steal: float) -> float:
    """``wall`` less the part of it the hypervisor gave to other guests.

    A guest's CPU accounting leaves steal out, so threads that were
    runnable for ``cpu + steal`` CPU-seconds ran for ``cpu`` of them. At
    the same parallelism the work takes ``wall * cpu / (cpu + steal)`` on
    a host that steals nothing."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(root: int | None = None) -> int | None:
    """The Spark driver JVM among the descendants of ``root``."""
    for pid in tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")
        except OSError:
            continue
        if cmd and os.path.basename(cmd[0]) == b"java":
            return pid
    return None

"""CPU time and peak memory of this process tree, read from /proc.

The tree is this Python driver, the JVM it launches and any Python
workers the JVM forks. CPU time counts user + system time of every
live process in the tree plus the time of children they have reaped,
so a worker that exits between two samples is still counted.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while we walked /proc
        return None
    # comm may contain spaces; fields resume after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime + stime + cutime + cstime summed over the tree."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime (stat 14-17)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs (the ``steal`` column of /proc/stat). Its share of a timed
    window shows how much a slow run owes to the host, not the program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def jvm_pid(root: int | None = None) -> int:
    """The first ``java`` process in the tree (the Spark driver JVM)."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no JVM in the process tree")


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie (a zombie has ended)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def wait_ended(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` has ended, reaping those
    that are children of this process; kill what outlives ``timeout``
    seconds and wait for that too."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not our child, or already reaped
                pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if killed and time.monotonic() > deadline + 10:
            raise RuntimeError(f"processes outlived SIGKILL: {left}")
        if not killed and time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)

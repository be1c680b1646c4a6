"""CPU and resident memory of a process tree, read from /proc.

The engine's cost is the Spark JVM plus every Python worker it forks
(pyspark daemon and its workers are descendants of the JVM). CPU is
utime+stime of each live process plus the cutime+cstime of children it
has already reaped, so a worker that exits between two reads still counts.
Peak memory is the kernel's per-process high-water mark, so no sampling
is needed and a short spike is not missed.
"""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int, str] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
    rss = int(fields[21]) * _PAGE
    return ppid, ticks / _CLK_TCK, rss, comm


def tree(root: int) -> dict[int, tuple[float, int, str]]:
    """{pid: (cpu_s, rss_bytes, comm)} for ``root`` and its descendants."""
    parents: dict[int, int] = {}
    info: dict[int, tuple[float, int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        parents[int(name)] = st[0]
        info[int(name)] = st[1:]
    keep = {root} if root in info else set()
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {pid: info[pid] for pid in keep}


def cpu_seconds(root: int) -> float:
    return sum(cpu for cpu, _, _ in tree(root).values())


def _hwm_bytes(pid: int) -> int:
    """The kernel's resident-set high-water mark (VmHWM) of ``pid``."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def peak_rss_bytes(root: int) -> int:
    """Summed VmHWM of ``root`` and its descendants, skipping the root's
    momentary clones (a process spawn shares the JVM's pages until it
    execs, and would count the JVM twice)."""
    procs = tree(root)
    if root not in procs:
        return 0
    comm = procs[root][2]
    return sum(
        _hwm_bytes(pid)
        for pid, (_, _, c) in procs.items()
        if pid == root or c != comm
    )


def wait_gone(pids, timeout_s: float) -> bool:
    """Poll until none of ``pids`` exists (zombies count as gone)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    state = fh.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                alive.append(pid)
        if not alive:
            return True
        time.sleep(0.1)
    return False

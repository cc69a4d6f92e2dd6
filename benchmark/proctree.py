"""Process-tree CPU and memory readings from ``/proc``.

The tree of a benchmark worker is the Python driver, the Spark JVM it
launches and the Python UDF workers the JVM forks; all of them count toward
a job's CPU and the run's peak memory."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def group(pgid: int) -> list[int]:
    """Live (not zombie) processes in process group ``pgid``, wherever they
    were reparented."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields and fields[0] != "Z" and int(fields[2]) == pgid:
                out.append(int(name))
    return out


def cpu_s(root: int) -> float:
    """CPU-seconds (user + system) used so far by the tree under ``root``,
    including children that already exited and were reaped inside it."""
    total = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields:  # utime stime cutime cstime are stat fields 14-17
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` in MiB, as proportional set size: a page
    shared by several processes (forked Python workers) counts once."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:  # the process exited between listing and reading
            continue
    return kb / 1024

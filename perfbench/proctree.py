"""Process-tree counters read from ``/proc`` (Linux).

The driver Python process, the JVM it launches and the pyspark daemon
with its forked Python workers form one tree. CPU time of the tree is
utime + stime of every live member plus cutime + cstime, the time of
children a member has already reaped (a finished Python worker is reaped
by the daemon, so its time stays counted).
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """user + system CPU seconds of ``root`` and its descendants, reaped
    children included."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM), MB."""
    root = os.getpid() if root is None else root
    kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kb * 1024 / 1e6


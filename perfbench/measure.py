"""Process-tree readings from ``/proc``.

psutil is not installed, so CPU time, resident memory and bytes written
are read from ``/proc/<pid>/{stat,statm,io}`` for the benchmark process,
the JVM it launched and the Python workers below the JVM.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after the last ')'
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return comm, ppid, (utime + stime) / _TICK, (cutime + cstime) / _TICK


class ProcTree:
    """CPU, RSS and write readings for this process and every process
    below it, split into the driver (this Python process), the JVM, and
    the Python workers the JVM starts."""

    def __init__(self):
        self.root = os.getpid()

    def _procs(self) -> dict[int, tuple]:
        table = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    table[int(name)] = _stat(int(name))
                except (FileNotFoundError, ProcessLookupError, ValueError):
                    pass
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in table:
                tree[pid] = table[pid]
                todo.extend(children.get(pid, ()))
        return tree

    def _jvm(self, tree) -> int | None:
        for pid, (comm, ppid, _, _) in tree.items():
            if comm == "java" and ppid == self.root:
                return pid
        return None

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: ``driver``, ``jvm`` and ``pyworker``.
        Children that exited and were reaped count in
        their parent's waited-for time, so the sum never loses them."""
        tree = self._procs()
        jvm = self._jvm(tree)
        own = tree[self.root][2] if self.root in tree else 0.0
        out = {"driver": own, "jvm": 0.0, "pyworker": 0.0}
        if jvm is not None:
            out["jvm"] = tree[jvm][2]
            out["pyworker"] = tree[jvm][3] + sum(
                t[2] + t[3] for pid, t in tree.items() if pid not in (self.root, jvm)
            )
        else:
            out["pyworker"] = sum(t[2] + t[3] for pid, t in tree.items() if pid != self.root)
        return out

    def rss_mb(self) -> float:
        total = 0
        for pid in self._procs():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except (FileNotFoundError, ProcessLookupError):
                pass
        return total / 1e6

    def write_mb(self) -> float:
        """Bytes the live tree has sent to storage (``write_bytes``)."""
        total = 0
        for pid in self._procs():
            try:
                with open(f"/proc/{pid}/io") as f:
                    for line in f:
                        if line.startswith("write_bytes:"):
                            total += int(line.split()[1])
            except (FileNotFoundError, ProcessLookupError, PermissionError):
                pass
        return total / 1e6

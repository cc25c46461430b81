"""CPU time of the program: this process, the JVM it launched and Spark's
Python workers, read from procfs.

On a shared host, wall time also counts the time other tenants hold the
CPUs (steal, run-queue waits); CPU time counts only the work the program
did, so it is the steadier yardstick of what a change costs.  The JVM's
JIT compiler threads are left out: how much they compile inside a timed
stretch depends on when the JVM decides to compile, not on the program,
and it is the noisiest part of the total.  The JVM must run with
``-XX:-UseDynamicNumberOfCompilerThreads`` so that no compiler thread
exits and takes its time out of the reckoning.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _fields(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of a procfs stat file."""
    try:
        with open(path) as fh:
            data = fh.read()
    except OSError:
        return None  # exited since the listing
    # the command name may hold spaces and parens: it ends at the last ")"
    close = data.rindex(")")
    return data[data.index("(") + 1:close], data[close + 2:].split()


def _seconds(fields: list[str], children: bool) -> float:
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return (utime + stime + (cutime + cstime if children else 0)) / TICK


def tree_seconds(root: int) -> float:
    """CPU seconds spent so far by ``root`` and its descendants, living or
    reaped."""
    parent, spent = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _fields(f"/proc/{name}/stat")
            if st is not None:
                parent[int(name)] = int(st[1][1])
                spent[int(name)] = _seconds(st[1], children=True)
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += spent.get(pid, 0.0)
        todo.extend(kids.get(pid, []))
    return total


def compiler_seconds(jvm: int) -> float:
    """CPU seconds spent so far by the JIT compiler threads of ``jvm``."""
    total = 0.0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        st = _fields(f"/proc/{jvm}/task/{tid}/stat")
        if st is not None and "CompilerThre" in st[0]:
            total += _seconds(st[1], children=False)
    return total


class Meter:
    """CPU seconds of the program so far, JIT compilation left out."""

    def __init__(self, spark) -> None:
        self.jvm = spark.sparkContext._gateway.proc.pid

    def __call__(self) -> float:
        return tree_seconds(os.getpid()) - compiler_seconds(self.jvm)

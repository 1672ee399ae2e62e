"""CPU seconds spent by one process session: the benchmark worker, the JVM
it starts, and the Python workers the JVM forks.

On a shared virtual machine the wall time of the same work can double from
one minute to the next while the host runs other guests' vCPUs ("steal").
The guest kernel leaves steal out of each task's run time
(``CONFIG_PARAVIRT_TIME_ACCOUNTING``), so the CPU time read here counts the
work the engine did, not the time the host withheld.

``sample()`` reads ``utime + stime`` of every process in the session from
``/proc``. Each process keeps the largest value seen for it, so a process
that exits between two samples keeps what it had used by the first; the
``cutime`` of parents is never added, so nothing is counted twice. A process
born and gone between two samples is missed, which is why callers sample at
every call boundary.
"""

from __future__ import annotations

import os


class SessionCpu:
    def __init__(self, sid: int | None = None) -> None:
        self.sid = os.getsid(0) if sid is None else sid
        self._hz = os.sysconf("SC_CLK_TCK")
        self._seen: dict[tuple[str, str], int] = {}

    def sample(self) -> float:
        """CPU seconds used so far by every process of the session."""
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            # fields[0] is field 3 of proc(5): state, ppid, pgrp, session, ...
            if int(fields[3]) != self.sid:
                continue
            key = (name, fields[19])  # pid and start time: pids are reused
            ticks = int(fields[11]) + int(fields[12])
            if ticks > self._seen.get(key, -1):
                self._seen[key] = ticks
        return sum(self._seen.values()) / self._hz

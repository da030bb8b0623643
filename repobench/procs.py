"""Process-table helpers over /proc: the members of one session."""

from __future__ import annotations

import os

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def _session_stats(sid: int):
    """(pid, state, rss bytes, CPU seconds incl. reaped children) per process."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the comm: state, ppid, pgrp, session, ...; utime, stime,
        # cutime, cstime are fields 14-17 and rss is field 24 of stat(5)
        if int(fields[3]) == sid:
            cpu = sum(int(x) for x in fields[11:15]) / TICK
            yield int(pid), fields[0], int(fields[21]) * PAGE, cpu


def session_members(sid: int) -> list[tuple[int, int]]:
    """(pid, rss bytes) of every live (non-zombie) process in session ``sid``."""
    return [(pid, rss) for pid, state, rss, _ in _session_stats(sid) if state != "Z"]


def session_cpu_s(sid: int) -> float:
    """CPU seconds used so far by session ``sid``: every process in it
    (zombies too) plus the children they have reaped."""
    return sum(cpu for *_, cpu in _session_stats(sid))

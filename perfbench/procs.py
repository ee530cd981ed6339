"""Process-tree bookkeeping from /proc (no psutil).

A workload runs as the leader of its own session, so every process it
starts (the Spark gateway JVM, the PySpark daemon and its workers)
carries that session id; ``session_pids`` finds them all, including
ones re-parented to init after their parent died.
"""

from __future__ import annotations

import os
import signal
import time


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces/parens: fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        # fields[0] = state, fields[3] = session
        if f and f[0] != "Z" and int(f[3]) == sid:
            out.append(int(name))
    return out


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def wait_gone(sid: int, timeout: float) -> list[int]:
    """Poll until no process of session ``sid`` is left; return survivors."""
    deadline = time.monotonic() + timeout
    while True:
        left = session_pids(sid)
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.1)


def kill_session(sid: int, timeout: float = 10.0) -> list[int]:
    """SIGKILL every process of session ``sid`` and wait for them to go.
    Returns the pids that had to be killed."""
    victims = session_pids(sid)
    for pid in victims:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    wait_gone(sid, timeout)
    return victims


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)

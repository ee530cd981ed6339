"""One workload in one process: start Spark, generate inputs, warm up,
measure, check, shut Spark and its JVM down. Started by run.py as the
leader of a new session; writes ``<work>/result.json``.

The worker's session (gateway JVM, PySpark daemon and workers) never
outlives run.py: if run.py dies, even by SIGKILL, the kernel sends the
worker SIGTERM (PR_SET_PDEATHSIG) and a watchdog thread that polls the
parent pid backs that up; either one kills the whole session."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import sys
import threading
import time

import procs

PR_SET_PDEATHSIG = 1


def kill_own_session() -> None:
    """SIGKILL every other process of this session, then this one."""
    me = os.getpid()
    for pid in procs.session_pids(os.getsid(0)):
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    os.kill(me, signal.SIGKILL)


def die_with_parent(parent: int) -> None:
    signal.signal(signal.SIGTERM, lambda *_: kill_own_session())
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_PDEATHSIG, signal.SIGTERM, 0, 0, 0)

    def watch() -> None:
        # also covers a parent that died before prctl took effect
        while os.getppid() == parent:
            time.sleep(0.2)
        kill_own_session()

    threading.Thread(target=watch, daemon=True).start()


def main() -> None:
    t0 = time.perf_counter()
    job = json.loads(sys.argv[1])
    die_with_parent(job["parent"])
    if job.get("crash_after"):
        # self-test hook: the driver dies mid-workload, leaving its JVM
        # and PySpark workers for run.py to find and reap
        threading.Timer(
            job["crash_after"], lambda: os.kill(os.getpid(), signal.SIGKILL)
        ).start()
    import workloads

    rec = workloads.run(job, t0)
    tmp = os.path.join(job["work"], "result.json.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, os.path.join(job["work"], "result.json"))


if __name__ == "__main__":
    main()

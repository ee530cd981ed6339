"""Process-hygiene self-test: after a clean run, after a run whose driver
is SIGKILLed mid-workload, after SIGTERM or SIGKILL to the benchmark
itself, and after a run killed at its deadline, no process started by
the benchmark may be left: neither in the workload's session nor among
this process's descendants. Run as
``python3 perfbench/run.py --selftest``."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import procs
import run as bench


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = procs._stat_fields(int(name))
            if f and f[0] != "Z":
                parent[int(name)] = int(f[1])  # fields[1] = ppid
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _case(root: str, label: str, crash_after: float | None, want_correct: bool) -> bool:
    rec = bench.run_workload(root, "crawl_mixed", 1, 1, 0, crash_after)
    left = procs.session_pids(rec["sid"]) + descendants(os.getpid())
    ok = not left and rec["correct"] == want_correct
    print(f"selftest {label}: correct={rec['correct']} failed={rec['failed']} "
          f"left={[(p, procs.comm(p)) for p in left]} -> {'PASS' if ok else 'FAIL'}")
    for note in rec["notes"]:
        print(f"selftest {label} note: {note.splitlines()[0]}")
    return ok


def main(root: str) -> int:
    results = [
        _case(root, "clean_run", None, True),
        _case(root, "crash_mid_workload", 20.0, False),
    ]
    results.append(_parent_signal_case(root, signal.SIGTERM))
    results.append(_parent_signal_case(root, signal.SIGKILL))
    # a child past its deadline is killed with its JVM and workers alive
    bench.CHILD_TIMEOUT_S = 25.0
    results.append(_case(root, "timeout_kill", None, False))
    return 0 if all(results) else 1


def _parent_signal_case(root: str, sig: int) -> bool:
    """A signal to the benchmark itself mid-workload takes the workload's
    whole session down: on SIGTERM the benchmark kills it before exiting;
    on SIGKILL the workload notices its parent is gone and kills it."""
    parent = subprocess.Popen(
        [sys.executable, bench.__file__, "--workload", "crawl_mixed", "--seconds", "1"],
        cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    time.sleep(20)
    workers = descendants(parent.pid)
    parent.send_signal(sig)
    code = parent.wait(timeout=60)
    for w in workers:
        procs.wait_gone(w, 10.0)
    left = [p for w in workers for p in procs.session_pids(w)] + descendants(os.getpid())
    ok = bool(workers) and not left and code != 0
    label = {signal.SIGTERM: "sigterm_parent", signal.SIGKILL: "sigkill_parent"}[sig]
    print(f"selftest {label}: exit={code} left={[(p, procs.comm(p)) for p in left]} "
          f"-> {'PASS' if ok else 'FAIL'}")
    return ok

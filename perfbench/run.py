#!/usr/bin/env python3
"""Layered benchmark of the near-duplicate engine at local[4].

Run from the repository root:

  python3 perfbench/run.py                       # every workload, in turn
  python3 perfbench/run.py --workload crawl_mixed --seed 3 --seconds 12
  python3 perfbench/run.py --workload crawl_mixed --trace 1   # per-layer run
  python3 perfbench/run.py --selftest            # process-hygiene self-test

Each workload runs in a child process that leads its own session; this
parent waits for the gateway JVM and the PySpark workers to exit after
the child ends, kills any that linger and counts them as failed
operations; the child kills its own session if this parent dies. Every
metric is printed as ``<workload> <metric> = <value> <unit>``; the last
stdout line is one JSON object {correct, attempted, failed, metrics}.
The exit code is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
from spec import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

PACKAGE = "name_deduplication_python_spark"
CHILD_TIMEOUT_S = 165.0  # a one-workload invocation must end within 180 s
EXIT_GRACE_S = 20.0  # time the JVM gets to follow its driver out


def run_workload(root: str, workload: str, seed: int, seconds: int, trace: int,
                 crash_after: float | None = None) -> dict:
    """Run one workload in its own session; return its result record."""
    work = os.path.join(HERE, ".work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "views"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_VIEW_DIR=os.path.join(work, "views", "simhash"),
        SPARK_GRAFT_SPANS_VIEW_DIR=os.path.join(work, "views", "spans"),
        SPARK_GRAFT_SEMDEDUP_VIEW_DIR=os.path.join(work, "views", "semdedup"),
        # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PERFBENCH_LOG=os.path.join(work, "child.log"),
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    job = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
           "work": work, "crash_after": crash_after, "parent": os.getpid()}
    result_path = os.path.join(work, "result.json")
    t0 = time.monotonic()
    steal0, total0 = procs.cpu_jiffies()
    with open(env["PERFBENCH_LOG"], "wb") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(job)],
            cwd=root, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        timed_out = False
        try:
            child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            timed_out = True
        except BaseException:  # SIGTERM or ^C: take the session down too
            procs.kill_session(child.pid)
            child.wait()
            shutil.rmtree(work, ignore_errors=True)
            raise
        if timed_out:
            procs.kill_session(child.pid)
            child.wait()
            survivors: list[str] = []
        else:
            survivors = [f"{p}:{procs.comm(p)}" for p in procs.wait_gone(child.pid, EXIT_GRACE_S)]
            if survivors:
                procs.kill_session(child.pid)
    wall = time.monotonic() - t0
    steal1, total1 = procs.cpu_jiffies()

    if os.path.exists(result_path):
        with open(result_path) as f:
            rec = json.load(f)
    else:  # the workload itself crashed or was killed
        rec = {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
               "notes": ["no result; log tail:\n" + _tail(env["PERFBENCH_LOG"])]}
    # the shutdown is one more operation: it fails on a timeout kill or
    # when a process outlives its driver
    rec["attempted"] += 1
    if timed_out or survivors:
        rec["failed"] += 1
        rec["correct"] = False
        rec["notes"].append(f"killed after {CHILD_TIMEOUT_S:.0f}s timeout" if timed_out
                            else "left running after exit: " + ", ".join(survivors))
    # CPU time the hypervisor gave to other guests: a noisy-host marker
    rec["host_steal_pct"] = round(100 * (steal1 - steal0) / max(total1 - total0, 1), 1)
    rec["wall_s"] = round(wall, 3)
    rec["sid"] = child.pid
    _keep_log(env["PERFBENCH_LOG"], workload, seed, trace)
    shutil.rmtree(work, ignore_errors=True)
    return rec


def _tail(path: str, n: int = 30) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def _keep_log(path: str, workload: str, seed: int, trace: int) -> None:
    logs = os.path.join(HERE, ".work", "logs")
    os.makedirs(logs, exist_ok=True)
    if os.path.exists(path):
        shutil.copy(path, os.path.join(logs, f"{workload}-seed{seed}-trace{trace}.log"))


def report(workload: str, rec: dict, trace: int) -> None:
    """Human-readable lines, one metric each, in the declared order."""
    declared = PER_LAYER if trace else END_TO_END
    for name, unit in declared:
        m = rec["metrics"].get(name)
        shown = "MISSING" if m is None else f"{m['value']} {unit}"
        print(f"{workload} {name} = {shown}")
    if rec.get("op_times"):
        print(f"{workload} op_times_s = {rec['op_times']}")
    if rec.get("phases"):
        print(f"{workload} phases_s = {rec['phases']}")
    for note in rec.get("notes", []):
        print(f"{workload} note: {note}")
    print(f"{workload} checks: attempted={rec['attempted']} failed={rec['failed']} "
          f"correct={rec['correct']} wall_s={rec.get('wall_s')} "
          f"host_steal_pct={rec.get('host_steal_pct')}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    # SIGTERM unwinds through run_workload, which kills the child's session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "pipeline.py")):
        print(f"perfbench: run from the repository root; no {PACKAGE}/ in {root}",
              file=sys.stderr)
        return 2
    if args.selftest:
        import selftest

        return selftest.main(root)

    names = [args.workload] if args.workload else list(WORKLOADS)
    recs = {}
    for name in names:
        rec = run_workload(root, name, args.seed, args.seconds, args.trace)
        report(name, rec, args.trace)
        recs[name] = rec
    if len(names) == 1:
        rec = recs[names[0]]
        metrics = rec["metrics"]
    else:
        metrics = {f"{w}.{k}": v for w, r in recs.items() for k, v in r["metrics"].items()}
    out = {
        "correct": all(r["correct"] for r in recs.values()),
        "attempted": sum(r["attempted"] for r in recs.values()),
        "failed": sum(r["failed"] for r in recs.values()),
        "metrics": metrics,
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] and out["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

"""Stdlib-json reader for Spark's uncompressed, non-rolling event log.

Groups task counters by the job group that was active when each job was
submitted (the traced run sets one group per layer):

  tasks, task_s (summed executor run time), gc_s, spill_bytes (memory +
  disk), shuffle_read_bytes, shuffle_write_bytes, output_bytes,
  input_bytes, python_worker_s (the "time to run Python workers" SQL
  metric of the Arrow/pandas UDF nodes), jobs, and task_skew: max over
  median task time in the group's heaviest stage.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_PY_TIME = "time to run Python workers"


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


def log_file(event_dir: str) -> str:
    """The single application log in ``event_dir``."""
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    return os.path.join(event_dir, names[0])


def by_job_group(path: str) -> dict[str, dict]:
    acc_names: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[str, list] = defaultdict(list)  # TaskEnd events per group
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metric_names(ev.get("sparkPlanInfo", {}), acc_names)
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                jobs[group] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "-")
                tasks[group].append(ev)
    return {g: _summarize(evs, jobs[g], acc_names) for g, evs in tasks.items()} | {
        g: _summarize([], n, acc_names) for g, n in jobs.items() if g not in tasks
    }


def _summarize(events: list, n_jobs: int, acc_names: dict) -> dict:
    s = defaultdict(float)
    s["jobs"] = n_jobs
    per_stage: dict[int, list] = defaultdict(list)
    for ev in events:
        m = ev.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        per_stage[ev["Stage ID"]].append(run_ms)
        s["tasks"] += 1
        s["task_s"] += run_ms / 1000
        s["gc_s"] += m.get("JVM GC Time", 0) / 1000
        s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        s["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = a.get("Name") or acc_names.get(a.get("ID"))
            if name == _PY_TIME and a.get("Update") is not None:
                s["python_worker_s"] += float(a["Update"]) / 1000
    heaviest = max(per_stage.values(), key=sum, default=[])
    med = statistics.median(heaviest) if heaviest else 0
    s["task_skew"] = max(heaviest) / med if med > 0 else 1.0
    return dict(s)

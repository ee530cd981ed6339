"""Workload and metric names, read from BENCHMARK.json (the one source)."""

from __future__ import annotations

import json
import os

_SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")

with open(_SPEC_PATH) as _f:
    SPEC = json.load(_f)

WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])
END_TO_END = tuple((m["name"], m["unit"]) for m in SPEC["end_to_end"])
PER_LAYER = tuple((m["name"], m["unit"]) for m in SPEC["per_layer"])
UNITS = dict(END_TO_END + PER_LAYER)

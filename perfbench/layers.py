"""Layer tracing from outside the program.

Two sources, both installed or read by the benchmark, none inside the
library:

* ``Tracer`` replaces the public functions of each layer's module (and
  the public methods of its public classes) with timing wrappers. A call
  that enters a layer opens a span; calls that stay inside the same layer
  run unwrapped, so a span's *self* time is its wall minus the spans of
  other layers it entered.
* ``event_log_metrics`` reads the Spark event log written under the
  benchmark's temp dir and sums stage/task metrics of the jobs whose job
  group marks them as timed work.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import time
from collections import defaultdict

OPERATOR_MODULES = (
    "classifier", "dedup", "dsir", "fuzzy", "multimodal",
    "relational", "similarity", "sketches", "text", "tokenizer",
)
# layer name (the metric prefix) -> module
LAYERS = {
    "session": "tinyetl_spark.session",
    "engine": "tinyetl_spark.engine",
    "io.files": "tinyetl_spark.io.files",
    "io.sqlite": "tinyetl_spark.io.sqlite",
    "validate": "tinyetl_spark.validate",
    "transforms": "tinyetl_spark.transforms",
    **{f"operators.{m}": f"tinyetl_spark.operators.{m}" for m in OPERATOR_MODULES},
}

TIMED_GROUP = "pbt:"   # job-group prefix of timed work
CHECK_GROUP = "pbc"    # job group of off-the-clock output checks


class Tracer:
    def __init__(self) -> None:
        self.stack: list[list] = []          # [layer, child_seconds]
        self.inclusive: dict[str, float] = defaultdict(float)   # "layer.fn" -> s
        self.self_s: dict[str, float] = defaultdict(float)      # layer -> s
        self.calls: dict[str, int] = defaultdict(int)           # layer -> entries
        self.sqlite_rows = 0

    def reset(self) -> None:
        self.inclusive.clear()
        self.self_s.clear()
        self.calls.clear()
        self.sqlite_rows = 0

    def install(self) -> None:
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    setattr(mod, name, self._wrap(obj, layer, name))
                elif inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, attr, self._wrap(fn, layer, f"{name}.{attr}"))

    def _wrap(self, fn, layer: str, name: str):
        key = f"{layer}.{name}"
        stack = self.stack
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if stack and stack[-1][0] == layer:
                return fn(*args, **kwargs)
            frame = [layer, 0.0]
            stack.append(frame)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                stack.pop()
                tracer.inclusive[key] += dt
                tracer.self_s[layer] += dt - frame[1]
                tracer.calls[layer] += 1
                if stack:
                    stack[-1][1] += dt
            if key == "io.sqlite.write_table" and isinstance(out, int):
                tracer.sqlite_rows += out
            return out

        return span


def event_log_metrics(log_dir: str) -> dict[str, float]:
    """Sum stage and task metrics over the jobs of timed job groups."""
    timed_stages: set[int] = set()
    out = dict.fromkeys(
        ("stages", "tasks", "task_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"), 0.0)
    task_events = []
    stage_done: list[int] = []
    # Spark 4 writes each application's log as a directory of event files
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(TIMED_GROUP):
                        timed_stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    task_events.append(ev)
                elif kind == "SparkListenerStageCompleted":
                    stage_done.append(ev["Stage Info"]["Stage ID"])
    out["stages"] = float(sum(1 for s in stage_done if s in timed_stages))
    for ev in task_events:
        if ev.get("Stage ID") not in timed_stages:
            continue
        m = ev.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        out["tasks"] += 1
        out["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        out["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out

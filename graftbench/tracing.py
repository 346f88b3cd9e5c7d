"""Spans around the benchmark's calls into each package layer.

Every call the benchmark makes into a layer runs inside ``Tracer.call``,
which always records its wall time. In a traced run it also

* tags the Spark jobs the call launches with the job group
  ``<workload>:<layer>:<call>`` (``SparkContext.setJobGroup``), and
* counts the py4j commands the driver sends to the JVM during the call.

A traced run also attaches Spark's event log (uncompressed, one file,
see ``event_log_conf``); ``fold_event_log`` folds its ``JobStart`` and
``TaskEnd`` records per job group. Nothing here changes the package:
the spans sit at the layer boundaries, in the benchmark's own code.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Event-log fields folded per job group (names as Spark writes them).
_TASK_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "spill_bytes": ("Disk Bytes Spilled",),
    "scan_bytes": ("Input Metrics", "Bytes Read"),
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed, non-rolling event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Records one span per call; tags jobs and counts py4j commands only
    when ``traced``."""

    def __init__(self, spark, workload: str, traced: bool):
        self.spark = spark
        self.workload = workload
        self.traced = traced
        self.spans: list[dict] = []
        self.pass_index = -1
        self._py4j = 0
        if traced:
            self._wrap_py4j()

    def _wrap_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted

    @contextmanager
    def call(self, layer: str, name: str):
        tag = f"{self.workload}:{layer}:{name}"
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(tag, f"{tag}@{self.pass_index}")
        c0 = self._py4j
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            py4j = self._py4j - c0
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"layer": layer, "call": name, "pass": self.pass_index,
                               "wall_s": wall, "py4j": py4j})


def _dig(d: dict, path: tuple[str, ...]):
    for k in path:
        if not isinstance(d, dict) or k not in d:
            return 0
        d = d[k]
    return d or 0


def read_event_log(log_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    events = []
    for p in files:
        if os.path.isdir(p):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold_event_log(events: list[dict]) -> dict[tuple[str, int], dict]:
    """Per (job group, pass): jobs, tasks, summed task metrics, and the
    skew of its stages. The pass index rides in the job description as
    ``<group>@<pass>``; jobs without a group are not counted."""
    stage_key: dict[int, tuple[str, int]] = {}
    out: dict[tuple[str, int], dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if not group:
                continue
            desc = props.get("spark.job.description") or ""
            _, _, p = desc.rpartition("@")
            key = (group, int(p) if p.lstrip("-").isdigit() else -1)
            out[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            if key is None:
                continue
            m = ev.get("Task Metrics") or {}
            g = out[key]
            g["tasks"] += 1
            for name, path in _TASK_FIELDS.items():
                g[name] += _dig(m, path)
            g["scan_tasks"] += 1 if _dig(m, _TASK_FIELDS["scan_bytes"]) else 0
            stage_tasks[ev["Stage ID"]].append(_dig(m, ("Executor Run Time",)))
    # Skew: per stage, slowest task against the mean task, summed over a
    # key's stages as (sum of max) / (sum of mean); 1.0 is balanced.
    for sid, runs in stage_tasks.items():
        if len(runs) < 2:
            continue
        g = out[stage_key[sid]]
        g["skew_max_ms"] += max(runs)
        g["skew_mean_ms"] += statistics.fmean(runs)
    return {k: dict(v) for k, v in out.items()}

"""Per-layer metrics of a traced run, named after the package's modules.

Each metric is the median, over the measured passes, of a per-pass
value folded from the benchmark's spans (wall time, py4j commands) and
the event log (jobs, tasks, task metrics) — plus file counts taken
outside Spark for the sinks and the index store. A layer the workload
never calls reports 0: that is the flat control the README's layer map
predicts.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics

from oracle import CORPUS_QUERIES

END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.jvm_start_s": "s",
    "session.worker_spawn_s": "s",
    "plans.build_s": "s",
    "plans.build_py4j_calls": "count",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "plans.exec_tasks": "count",
    "plans.executor_run_ms": "ms",
    "plans.executor_cpu_ms": "ms",
    "plans.python_gap_ms": "ms",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.scan_bytes": "bytes",
    "plans.task_skew": "ratio",
    **{f"plans.query.{q}_s": "s" for q in CORPUS_QUERIES},
    "operators.components.cc_s": "s",
    "operators.components.cc_jobs": "count",
    "operators.components.cc_tasks": "count",
    "operators.components.edges_per_s": "edges/s",
    "freshkart.pipeline.build_s": "s",
    "freshkart.pipeline.write_s": "s",
    "freshkart.pipeline.write_jobs": "count",
    "freshkart.pipeline.scan_tasks": "count",
    "sources.sinks.publish_s": "s",
    "sources.sinks.read_published_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "sources.sinks.bytes_per_input_byte": "ratio",
    "operators.incremental.read_resolved_s": "s",
    "operators.incremental.merge_s": "s",
    "operators.incremental.merge_jobs": "count",
    "sources.index_store.commit_s": "s",
    "sources.index_store.bytes_per_fold": "bytes",
    "sources.index_store.files_per_fold": "count",
    "sources.index_store.index_bytes_per_doc": "bytes/doc",
    "trace.overhead_pct": "%",
}


def end_to_end(setup_s: float, first_pass_cpu_s: float, pass_cpu_s: float,
               peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics of an untraced run, {name: (value, unit)}."""
    values = {
        "setup_s": setup_s,
        "first_pass_cpu_s": first_pass_cpu_s,
        "pass_cpu_s": pass_cpu_s,
        "peak_rss_mb": peak_rss_mb,
    }
    return {name: (float(values[name]), unit) for name, unit in END_TO_END.items()}


def _per_pass(window, fn) -> float:
    """Median over the measured passes of ``fn(pass)``."""
    return statistics.median(fn(k) for k in window) if window else 0.0


def per_layer(workload: str, spans: list[dict], folded: dict, window: set,
              setup: dict, file_stats: dict, overhead: tuple[float, str],
              edges: int = 0, input_bytes: int = 0, docs: int = 0):
    """(metrics {name: (value, unit)}, detail) for one traced run."""
    window = sorted(window)

    def wall(k, layer, prefix=""):
        return sum(s["wall_s"] for s in spans
                   if s["pass"] == k and s["layer"] == layer and s["call"].startswith(prefix))

    def py4j(k, layer, prefix=""):
        return sum(s["py4j"] for s in spans
                   if s["pass"] == k and s["layer"] == layer and s["call"].startswith(prefix))

    def ev(k, layer, field, prefix=""):
        head = f"{workload}:{layer}:{prefix}"
        return sum(v.get(field, 0) for (g, p), v in folded.items()
                   if p == k and g.startswith(head))

    def skew(k):
        mx, mean = ev(k, "plans", "skew_max_ms", "exec."), ev(k, "plans", "skew_mean_ms", "exec.")
        return mx / mean if mean else 0.0

    def file_stat(k, name):
        return file_stats.get(k, {}).get(name, 0)

    m = {
        "session.jvm_start_s": setup["jvm_start_s"],
        "session.worker_spawn_s": setup["worker_spawn_s"],
        "plans.build_s": _per_pass(window, lambda k: wall(k, "plans", "build.")),
        "plans.build_py4j_calls": _per_pass(window, lambda k: py4j(k, "plans", "build.")),
        "plans.build_jobs": _per_pass(window, lambda k: ev(k, "plans", "jobs", "build.")),
        "plans.exec_s": _per_pass(window, lambda k: wall(k, "plans", "exec.")),
        "plans.exec_jobs": _per_pass(window, lambda k: ev(k, "plans", "jobs", "exec.")),
        "plans.exec_tasks": _per_pass(window, lambda k: ev(k, "plans", "tasks", "exec.")),
        "plans.executor_run_ms": _per_pass(window, lambda k: ev(k, "plans", "run_ms", "exec.")),
        "plans.executor_cpu_ms": _per_pass(
            window, lambda k: ev(k, "plans", "cpu_ns", "exec.") / 1e6),
        "plans.python_gap_ms": _per_pass(
            window, lambda k: ev(k, "plans", "run_ms", "exec.")
            - ev(k, "plans", "cpu_ns", "exec.") / 1e6),
        "plans.shuffle_write_bytes": _per_pass(
            window, lambda k: ev(k, "plans", "shuffle_write_bytes", "exec.")),
        "plans.spill_bytes": _per_pass(window, lambda k: ev(k, "plans", "spill_bytes", "exec.")),
        "plans.scan_bytes": _per_pass(window, lambda k: ev(k, "plans", "scan_bytes", "exec.")),
        "plans.task_skew": _per_pass(window, skew),
    }
    for q in CORPUS_QUERIES:
        m[f"plans.query.{q}_s"] = _per_pass(
            window, lambda k, q=q: wall(k, "plans", f"build.{q}") + wall(k, "plans", f"exec.{q}"))
    cc_s = _per_pass(window, lambda k: wall(k, "operators.components"))
    m.update({
        "operators.components.cc_s": cc_s,
        "operators.components.cc_jobs": _per_pass(
            window, lambda k: ev(k, "operators.components", "jobs")),
        "operators.components.cc_tasks": _per_pass(
            window, lambda k: ev(k, "operators.components", "tasks")),
        "operators.components.edges_per_s": edges / cc_s if cc_s else 0.0,
        "freshkart.pipeline.build_s": _per_pass(
            window, lambda k: wall(k, "freshkart.pipeline", "build")),
        "freshkart.pipeline.write_s": _per_pass(
            window, lambda k: wall(k, "freshkart.pipeline", "write")),
        "freshkart.pipeline.write_jobs": _per_pass(
            window, lambda k: ev(k, "freshkart.pipeline", "jobs", "write")),
        "freshkart.pipeline.scan_tasks": _per_pass(
            window, lambda k: ev(k, "freshkart.pipeline", "scan_tasks")),
        "sources.sinks.publish_s": _per_pass(window, lambda k: wall(k, "sources.sinks", "publish")),
        "sources.sinks.read_published_s": _per_pass(
            window, lambda k: wall(k, "sources.sinks", "read_published")),
        "sources.sinks.bytes_written": _per_pass(window, lambda k: file_stat(k, "sink_bytes")),
        "sources.sinks.files_written": _per_pass(window, lambda k: file_stat(k, "sink_files")),
        "sources.sinks.bytes_per_input_byte": _per_pass(
            window, lambda k: file_stat(k, "sink_bytes") / input_bytes if input_bytes else 0.0),
        "operators.incremental.read_resolved_s": _per_pass(
            window, lambda k: wall(k, "operators.incremental", "read_resolved")),
        "operators.incremental.merge_s": _per_pass(
            window, lambda k: wall(k, "operators.incremental", "merge")),
        "operators.incremental.merge_jobs": _per_pass(
            window, lambda k: ev(k, "operators.incremental", "jobs", "merge")),
        "sources.index_store.commit_s": _per_pass(
            window, lambda k: wall(k, "sources.index_store", "commit")),
        "sources.index_store.bytes_per_fold": _per_pass(
            window, lambda k: file_stat(k, "fold_bytes")),
        "sources.index_store.files_per_fold": _per_pass(
            window, lambda k: file_stat(k, "fold_files")),
        "sources.index_store.index_bytes_per_doc": _per_pass(
            window, lambda k: file_stat(k, "index_bytes") / docs if docs else 0.0),
        "trace.overhead_pct": overhead[0],
    })
    metrics = {name: (float(m[name]), unit) for name, unit in PER_LAYER.items()}

    # Per-call breakdown (median over the window) for the README's claims,
    # e.g. the eager jobs a survivor query runs while its plan is built.
    detail: dict[str, dict] = {"overhead_reference": overhead[1], "calls": {}}
    for name, wall_s in call_walls(spans, window).items():
        layer, call = name.split(":", 1)
        detail["calls"][name] = {
            "wall_s": wall_s,
            "py4j": _per_pass(window, lambda k: sum(
                s["py4j"] for s in spans
                if s["pass"] == k and s["layer"] == layer and s["call"] == call)),
            **{f: _per_pass(window, lambda k, f=f: folded.get(
                (f"{workload}:{name}", k), {}).get(f, 0))
               for f in ("jobs", "tasks", "run_ms", "shuffle_write_bytes", "scan_bytes")},
        }
    return metrics, detail


def call_walls(spans: list[dict], window) -> dict[str, float]:
    """Median wall time over the measured passes of every call."""
    window = sorted(window)
    names = sorted({f"{s['layer']}:{s['call']}" for s in spans})
    return {n: _per_pass(window, lambda k, n=n: sum(
        s["wall_s"] for s in spans
        if s["pass"] == k and f"{s['layer']}:{s['call']}" == n)) for n in names}


# ---------------------------------------------------------------------------
# Tracing overhead: traced pass_cpu_s against an untraced reference
# ---------------------------------------------------------------------------


def code_key(root: str, local_cores: int) -> str:
    """Identity of what a run measures: every Python file of the package
    and of the benchmark (generator and oracle included), and the local
    core count. The checkout need not be a git repository."""
    h = hashlib.sha256(f"local[{local_cores}]".encode())
    for top in ("esther_apache_spark_spark", "graftbench"):
        paths = sorted(os.path.join(d, n) for d, _, names in os.walk(os.path.join(root, top))
                       for n in names if n.endswith(".py"))
        for p in paths:
            with open(p, "rb") as f:
                h.update(os.path.relpath(p, root).encode() + b"\0" + f.read() + b"\0")
    return h.hexdigest()[:16]


def _records_path(cache: str, key: str) -> str:
    """Untraced pass_cpu_s records of one code identity (``code_key``)."""
    return os.path.join(cache, f"untraced_pass_cpu_s.{key}.jsonl")


def record_untraced(cache: str, key: str, workload: str, seed: int, pass_cpu_s: float) -> None:
    os.makedirs(cache, exist_ok=True)
    with open(_records_path(cache, key), "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed,
                            "pass_cpu_s": pass_cpu_s}) + "\n")


def trace_overhead(workload: str, seed: int, traced_pass_cpu_s: float, cache: str,
                   key: str, run_untraced) -> tuple[float, str]:
    """(overhead %, where the untraced reference came from): the traced
    run's pass_cpu_s against untraced runs of the same workload, seed and
    code identity in this checkout, else against one untraced child run."""
    same = []
    if os.path.exists(_records_path(cache, key)):
        with open(_records_path(cache, key)) as f:
            same = [r["pass_cpu_s"] for r in map(json.loads, filter(str.strip, f))
                    if r["workload"] == workload and r["seed"] == seed]
    if same:
        ref, source = statistics.median(same), f"{len(same)} untraced runs of seed {seed}"
    else:
        ref, source = run_untraced(workload, seed), "untraced child run"
    return 100.0 * (traced_pass_cpu_s / ref - 1.0), source

#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 graftbench/run.py --workload nightly --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The run starts a session through
``session.get_spark``, makes the workload's inputs from ``--seed`` (cached
with their oracle answers under ``.graftbench/``), runs one cold pass
that also checks every output against the oracle, then a fixed number
of measured passes, each starting after the previous one completed. It prints one JSON object as the last line of
stdout with exactly the keys ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a separate traced session with ``--trace 1``). The line
before it, ``{"context": ...}``, and the file
``.graftbench/results/<workload>-seed<N>-trace<T>-<pid>.json`` (result
plus context) record how the run went.

The pass counts are fixed per workload (``workloads.PASSES``), not
derived from ``--seconds``: a time-bounded window would measure a
different stretch of the warm-up curve on a slower machine. ``--seconds``
is recorded, and a measured window that takes longer is noted in the
context.

See README.md for the metrics, the workloads and the steadiness runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".graftbench")
RESULTS = os.path.join(CACHE, "results")
MARKER = "GRAFTBENCH_CHECKOUT"
# Local cores: chosen by measured run-to-run spread, not by nproc
# (README.md, "Steadiness"); every result records the value used.
LOCAL_CORES = 2
DRIVER_MEMORY = "2g"


def _stat(pid) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name: index 0 is
    the state, 1 the parent pid, 11-14 utime/stime/cutime/cstime, 19 the
    start time. Raises OSError once the process is gone."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    start_ticks = int(_stat("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Process hygiene
# ---------------------------------------------------------------------------


def _marked_pids() -> list[int]:
    """Live processes (other than this one and its ancestors) started by
    a benchmark run in this checkout: the JVM, Python workers, child runs."""
    tag = f"{MARKER}={ROOT}".encode()
    skip = set()
    pid = os.getpid()
    while pid > 1:
        skip.add(pid)
        try:
            pid = int(_stat(pid)[1])
        except OSError:
            break
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in skip:
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if tag in env:
            found.append(int(d))
    return found


def _reap(timeout: float = 20.0) -> None:
    """Terminate every marked process and wait until all have ended."""
    pids = _marked_pids()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.time() + timeout / 2
        while time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            pids = _marked_pids()
            if not pids:
                return
            time.sleep(0.1)


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception as e:  # the JVM may already be gone
                print(f"gateway shutdown: {e!r}", file=sys.stderr)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        _reap()


# ---------------------------------------------------------------------------
# Set-up (timed) and session
# ---------------------------------------------------------------------------


def session_env(work: str) -> None:
    """Point every temp and scratch location inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        MARKER: ROOT,
        "SPARK_GRAFT_CPUS": str(LOCAL_CORES),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    os.chdir(work)


def setup(app: str, extra_conf: dict | None = None):
    """process start -> package imported, JVM and session up, first job
    done, Python worker pool spawned. Returns (spark, timings)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    age0 = process_age_s()
    import esther_apache_spark_spark.plans  # noqa: F401  (registers the catalog)
    from esther_apache_spark_spark.session import get_spark

    t_import = time.perf_counter()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # fixed heap: peak_rss_mb spreads ~1% between seeds with it and
        # ~9% without (README.md, "Metrics"); no hsperfdata file outside
        # the checkout; JVM temp files inside it
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"),
    }
    conf.update(extra_conf or {})
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter()
    spark.range(1).count()
    t_job = time.perf_counter()
    spark.sparkContext.parallelize(range(LOCAL_CORES), LOCAL_CORES).map(
        lambda x: os.getpid()).collect()
    t_workers = time.perf_counter()
    return spark, {
        "setup_s": age0 + (t_workers - t0),
        "import_s": t_import - t0,
        "jvm_start_s": t_session - t_import,
        "first_job_s": t_job - t_session,
        "worker_spawn_s": t_workers - t_job,
    }


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------


def _tree_pids() -> list[int]:
    """This process and every live process it started."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat(d)[1]), []).append(int(d))
            except OSError:
                continue
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and every process it started."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_and_steal_s() -> tuple[float, float]:
    """(CPU seconds used so far by this process tree, machine-wide steal
    seconds). The tree's CPU time counts user and system time of every
    live process plus the children each has reaped, so a worker that
    exits mid-pass still counts; steal is time the hypervisor gave to
    other guests, which inflates wall time far more than CPU time."""
    tick = os.sysconf("SC_CLK_TCK")
    cpu = 0
    for pid in _tree_pids():
        try:
            cpu += sum(int(x) for x in _stat(pid)[11:15])
        except OSError:
            pass
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return cpu / tick, steal / tick


def run(args) -> dict:
    import tracing  # standard library only, needed for the event-log conf

    work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    session_env(work)
    log_dir = os.path.join(work, "eventlog")
    extra = {}
    if args.trace:
        os.makedirs(log_dir)
        extra = tracing.event_log_conf(log_dir)
    spark, setup_t = setup(f"graftbench-{args.workload}", extra)
    spark_stopped = False
    try:
        # The benchmark's own modules (numpy, pyarrow, duckdb) load after
        # setup_s is taken, so they do not count as the program's set-up.
        import gen
        import layers
        import oracle
        from workloads import PASSES, WORKLOADS

        t_inputs = time.perf_counter()
        inputs = gen.ensure_inputs(os.path.join(CACHE, "inputs"), args.workload, args.seed)
        answers = oracle.ensure_oracle(args.workload, inputs)
        inputs_s = time.perf_counter() - t_inputs

        tracer = tracing.Tracer(spark, args.workload, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, inputs, work, answers)
        t_prepare = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t_prepare
        pass_s, pass_cpu, steal_share, errors = [], [], [], []
        window = list(range(1, 1 + PASSES[args.workload]))
        window_t0 = None
        for k in range(1 + len(window)):
            if k == window[0]:
                window_t0 = time.perf_counter()
            cpu0, steal0 = cpu_and_steal_s()
            t0 = time.perf_counter()
            try:
                wl.run_pass(k, verify=(k == 0))
            except Exception as e:  # a failed pass counts as a failed operation
                errors.append(f"pass {k}: {type(e).__name__}: {str(e)[:300]}")
            pass_s.append(time.perf_counter() - t0)
            cpu1, steal1 = cpu_and_steal_s()
            pass_cpu.append(cpu1 - cpu0)
            steal_share.append((steal1 - steal0) / (pass_s[-1] * os.cpu_count()))
            if k == 0:  # the oracle gate, outside the pass's timing
                try:
                    wl.check_collected(k)
                except Exception as e:
                    errors.append(f"checks of pass {k}: {type(e).__name__}: {str(e)[:300]}")
            wl.after_pass(k)
        window_s = time.perf_counter() - window_t0
        rss = peak_rss_mb()
        t_stop = time.perf_counter()
        stop_session(spark)
        spark_stopped = True
        stop_s = time.perf_counter() - t_stop

        calls = sum(1 for s in tracer.spans if s["pass"] >= 0)
        attempted = calls + wl.attempted
        failed = len(errors) + len(wl.failures)
        rows, nbytes = gen.input_stats(inputs)
        med_pass = statistics.median(pass_s[i] for i in window)
        med_cpu = statistics.median(pass_cpu[i] for i in window)
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "gen_version": gen.GEN_VERSION, "sizes": gen.SIZES[args.workload],
            "input_rows": rows, "input_bytes": nbytes,
            "inputs_in_memory": "all inputs fit in memory and in the page cache",
            "nproc": os.cpu_count(), "loadavg": open("/proc/loadavg").read().split()[:3],
            "local_cores": LOCAL_CORES, "driver_memory": DRIVER_MEMORY,
            "passes": {"cold": 1, "measured": len(window), "verifying_pass": 0},
            "seconds_arg": args.seconds, "window_s": window_s,
            "pass_s": pass_s, "pass_cpu_s": pass_cpu, "steal_share": steal_share,
            "window": window, "median_pass_s": med_pass,
            "setup": setup_t, "inputs_and_oracle_s": inputs_s,
            "prepare_s": prepare_s, "stop_s": stop_s,
            "calls_s": layers.call_walls(tracer.spans, window),
            "errors": errors + wl.failures,
        }
        if window_s > args.seconds:
            context["note"] = "measured window took longer than --seconds"
        if args.trace:
            folded = tracing.fold_event_log(tracing.read_event_log(log_dir))
            overhead = layers.trace_overhead(args.workload, args.seed, med_cpu, CACHE,
                                             layers.code_key(ROOT, LOCAL_CORES), run_untraced)
            metrics, detail = layers.per_layer(
                args.workload, tracer.spans, folded, set(window), setup_t,
                wl.layer_stats(window), overhead, **gen.layer_bases(inputs))
            context["layers"] = detail
        else:
            layers.record_untraced(CACHE, layers.code_key(ROOT, LOCAL_CORES),
                                   args.workload, args.seed, med_cpu)
            metrics = layers.end_to_end(setup_t["setup_s"], pass_cpu[0], med_cpu, rss)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()},
        }, context
    finally:
        try:
            if not spark_stopped:
                stop_session(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)


def run_untraced(workload: str, seed: int) -> float:
    """pass_cpu_s of an untraced run in a child process (the reference
    for ``trace.overhead_pct`` when this checkout has none recorded for
    this seed and code). The child gets what is left of 170 s since this
    process started, so the traced run as a whole stays under 3 minutes."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", "60", "--trace", "0"],
        capture_output=True, text=True, timeout=max(1.0, 170 - process_age_s()), cwd=ROOT,
        env={k: v for k, v in os.environ.items() if k != MARKER})
    if p.returncode != 0:
        raise RuntimeError(f"untraced reference run failed: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]["pass_cpu_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["corpus_dedup", "nightly"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=60.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "esther_apache_spark_spark")):
        print(f"no esther_apache_spark_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    if not args.workload:
        ap.error("--workload is required")
    # A SIGTERM (a timeout, a cancelled job) unwinds through the finally
    # blocks below, which stop the JVM and its workers.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    stale = _marked_pids()
    if stale:
        print(f"refusing to run: processes {stale} from an earlier run in this "
              "checkout are still alive", file=sys.stderr)
        return 3
    try:
        result, context = run(args)
    finally:
        _reap()
    # The full record (result plus context) goes to a file and to the
    # line before the result; the last line carries the result alone.
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump({**result, "context": context}, f)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""kittispark benchmark.

    python3 perfbench/run.py --workload kitti_cutout --seed 1 --seconds 10 --trace 0

Runs one workload (kitti_cutout or corpus_dedup) against the engine in
the enclosing checkout. Inputs are generated from --seed and cached
under .perfbench/ in the checkout; the engine sees only the generated
files. The run

1. sets the program up SETUP_CYCLES times (session start, the first
   job that spawns the Python workers, and the workload's own set-up)
   and reports the median as setup_s;
2. runs WARMUP_OPS untimed passes (the first pass runs on a cold JIT
   and costs two to three times a later one), then times passes until
   --seconds have passed and at least MIN_TIMED_OPS have run, measuring
   each one's wall time and the CPU time the driver, the JVM (its JIT
   compiler threads left out) and the Python workers spend on it. The
   output of every pass, warm-up included, is checked against a golden
   computed from the inputs alone;
3. prints a report to stderr and, as the last line of stdout, one JSON
   object {correct, attempted, failed, metrics}.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run records spans and Spark counters per layer and reports per-layer
metrics (plus its own end-to-end figures under `traced.`, whose
difference from an untraced run is the tracing overhead). Every run
also writes .perfbench/traces/<workload>-seed<seed>-trace<t>.json with
the host state before and after, all timings and, when traced, spans.
A failed check or operation makes the exit code 1.
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
if __package__ in (None, ""):  # run as a script: make `perfbench` importable
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import COUNTERS, Tracer, span_totals, task_counters  # noqa: E402

SETUP_CYCLES = 3
WARMUP_OPS = 1
MIN_TIMED_OPS = 2
DRIVER_MEMORY = "3g"
# Full-size heap from the start and a fixed-size young generation:
# without them the collector resizes the heap from pause-time feedback
# and the JVM's resident set varies by ~30% between identical runs.
# A fixed set of JIT compiler threads: by default the JVM starts and
# ends compiler threads as its queue grows and shrinks, and the CPU
# time of an ended thread can no longer be told from the rest.
JVM_OPTS = f"-Xms{DRIVER_MEMORY} -Xmn768m -XX:-UseDynamicNumberOfCompilerThreads"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 characters
CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_state() -> dict:
    """CPU count, load average and CPU pressure: recorded around each
    run for the report, never used to drop or redo a run."""
    state = {"nproc": len(os.sched_getaffinity(0))}
    with open("/proc/loadavg") as f:
        state["loadavg"] = [float(v) for v in f.read().split()[:3]]
    try:
        with open("/proc/pressure/cpu") as f:
            state["cpu_pressure"] = f.read().strip().splitlines()
    except OSError:
        state["cpu_pressure"] = None
    return state


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its
    descendants (the JVM and its Python workers), exited children
    included. The kernel charges time the hypervisor steals from a
    vCPU to no process, so on a shared host this stays put where wall
    time grows with other tenants' load."""
    ticks = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def jit_cpu_s() -> float:
    """User + system CPU seconds of the JVM's JIT compiler threads.
    A pass of a few seconds does not finish warming the JIT: in the
    second and third passes the compilers still take 5-10 CPU-s, and
    that share varies more from run to run than the rest."""
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if raw[raw.index("(") + 1 : raw.rindex(")")] in JIT_THREADS:
                ticks += sum(int(v) for v in raw.rsplit(")", 1)[1].split()[11:13])
    return ticks / CLK_TCK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM behind it and the JVM's Python
    workers, and wait until each process has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while any(_alive(k) for k in kids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for k in kids:
        if _alive(k):
            os.kill(k, signal.SIGKILL)


def first_job(spark) -> None:
    """The warm-up job: one task per core through a pandas UDF, so the
    JVM runs its first job and the Python workers are spawned."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * n, numPartitions=n).mapInPandas(_identity, "id long").count()


def _identity(batches):
    yield from batches


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kittispark", "session.py")):
        print(f"error: no kittispark package next to {HERE}; run from a checkout", file=sys.stderr)
        return 2
    if args.workload not in gen.SIZES:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(gen.SIZES)}", file=sys.stderr)
        return 2

    phases = {"start": time.time()}
    state_dir = os.path.join(ROOT, ".perfbench")
    inputs, meta = gen.ensure_inputs(os.path.join(state_dir, "inputs"), args.workload, args.seed)
    work = os.path.join(state_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub))
    # keep every file the engine and the JVM write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts, its launcher included: no
    # hsperfdata files, temp files under the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["KITTISPARK_DRIVER_MEM"] = DRIVER_MEMORY

    from kittispark.session import get_spark

    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](inputs, meta, work)
    phases["inputs_ready"] = time.time()
    host_before = host_state()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": JVM_OPTS,
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    tracer = Tracer(bool(args.trace))

    spark = None
    setups = []
    try:
        for c in range(SETUP_CYCLES):
            if spark is not None:
                tracer.bind(None)
                spark.stop()
            tracer.op = f"setup{c}"
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_spark(f"perfbench-{args.workload}", cpus=host_before["nproc"], extra_conf=conf)
            tracer.bind(spark)
            with tracer.span("session.first_job"):
                first_job(spark)
            wl.setup(spark, tracer)
            setups.append(time.perf_counter() - t0)

        attempted = failed = 0
        problems: list[str] = []
        op_times: list[float] = []
        op_cpu: list[float] = []
        op_jit: list[float] = []
        layer_counts: list[dict] = []

        phases["setup_done"] = time.time()
        n = -WARMUP_OPS  # passes numbered below 0 are the untimed warm-up
        deadline = float("inf")
        while time.perf_counter() < deadline or n < MIN_TIMED_OPS:
            if n == 0:  # the timed window starts after the warm-up
                phases["warmup_done"] = time.time()
                tracer.overhead_s = 0.0
                deadline = time.perf_counter() + args.seconds
            attempted += 1
            tracer.op = n if n >= 0 else f"warmup{n + WARMUP_OPS}"
            try:
                wl.before_op(spark, tracer)
                c0, j0 = tree_cpu_s(), jit_cpu_s()
                t0 = time.perf_counter()
                out = wl.op(spark, tracer)
                dt = time.perf_counter() - t0
                dj = jit_cpu_s() - j0
                dc = tree_cpu_s() - c0 - dj
                found = wl.check(out)
                if tracer.enabled and n >= 0:
                    layer_counts.append(wl.layer_counts(out))
            except Exception as e:  # an operation that raises is a failed operation
                found = [f"{type(e).__name__}: {e}"]
            if found:
                failed += 1
                problems.extend(f"op {n}: {p}" for p in found[:5])
                print(f"FAILED op {n}: {found[:5]}", file=sys.stderr)
            elif n >= 0:
                op_times.append(dt)
                op_cpu.append(dc)
                op_jit.append(dj)
            n += 1
        overhead_s = tracer.overhead_s
        phases["window_done"] = time.time()

        files_written, bytes_written = wl.written()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak_rss_mb = (vm_hwm_kb("self") + (vm_hwm_kb(jvm.pid) if jvm else 0)) / 1024
    finally:  # stop the JVM and its workers on every path
        if spark is not None:
            tracer.bind(None)
            stop_spark(spark)
    phases["stopped"] = time.time()
    host_after = host_state()

    e2e = end_to_end(setups, op_cpu, peak_rss_mb, bytes_written / wl.input_bytes)
    if args.trace:
        metrics = per_layer(
            tracer.spans, task_counters(os.path.join(work, "events")), layer_counts, n,
            op_times, e2e, files_written, bytes_written, overhead_s, op_jit,
        )
    else:
        metrics = e2e

    report(args, wl, setups, op_times, op_cpu, attempted, failed, metrics, host_before, host_after)
    os.makedirs(os.path.join(state_dir, "traces"), exist_ok=True)
    with open(os.path.join(state_dir, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({
            "args": vars(args), "host_before": host_before, "host_after": host_after,
            "phases": phases, "setups_s": setups, "op_times_s": op_times, "op_cpu_s": op_cpu, "op_jit_s": op_jit, "problems": problems,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "spans": tracer.spans,
        }, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


# Spans whose Spark counters are reported (per operation), and every
# span reported as a time; the viewer-request spans in ms.
COUNTED_SPANS = (
    "session.first_job",
    "sources.kitti.scan_points",
    "sources.kitti.scan_labels",
    "sources.kitti.read_labels",
    "operators.kitti.analyze",
    "sinks.write_kitti_bins",
    "sinks.points_to_parquet",
    "operators.text.quality_filter",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_candidates",
    "operators.dedup.verify",
    "operators.dedup.connected_components",
    "viz.frame_points",
    "viz.bbox_wireframe",
)
TIMED_SPANS = (
    "session.start",
    "session.first_job",
    "sources.kitti.scan_points",
    "sources.kitti.scan_labels",
    "sources.kitti.scan_calib",
    "operators.kitti.analyze",
    "operators.kitti.frame_count_stats",
    "sinks.write_kitti_bins",
    "sinks.points_to_parquet",
    "sinks.write_parquet",
    "operators.text.quality_filter",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_candidates",
    "operators.dedup.verify",
    "operators.dedup.connected_components",
)
MS_SPANS = ("sources.kitti.read_labels", "viz.frame_points", "viz.bbox_wireframe")
LAYER_COUNTS = (
    ("operators.kitti.cutout_selectivity", "ratio"),
    ("operators.dedup.cc_rounds", "count"),
    ("operators.dedup.candidate_precision", "ratio"),
    ("viz.rows_returned", "count"),
)
# Counters reported per span. Failed tasks are reported once, summed
# over every span of the run (spark.tasks_failed): per span they are 0
# on any run that passes its checks, and BENCHMARK.json may list at
# most 128 per-layer metrics.
SPAN_COUNTERS = tuple(c for c in COUNTERS if c != "tasks_failed")
COUNTER_UNITS = {
    "jobs": "count", "tasks": "count",
    "busy_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
}


def end_to_end(setups, op_cpu, peak_rss_mb, write_ratio) -> dict:
    """name -> (value, unit) of every end-to-end metric. A pass's cost
    is its CPU time, not its wall time: on a shared host the wall time
    of one pass moves by tens of percent with the time the hypervisor
    steals, which no process is charged for. The JIT compiler threads'
    share is left out of it and reported per layer as jvm.jit_cpu_s."""
    return {
        "setup_s": (statistics.median(setups), "s"),
        "op_cpu_s": (statistics.median(op_cpu) if op_cpu else 0.0, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "write_bytes_per_input_byte": (write_ratio, "B/B"),
    }


def per_layer(
    spans, groups, layer_counts, n_ops, op_times, e2e, files_written, bytes_written, overhead_s,
    op_jit=(),
) -> dict:
    """name -> (value, unit) of every per-layer metric, over the
    set-up cycles and the timed operations. A span's time is the median over the operations it ran
    in of its summed wall time; its counters are the mean per such
    operation. Layers a workload does not call report 0. The traced
    run's own end-to-end figures come last, under `traced.`, with the
    median wall time of a pass."""
    totals = span_totals(spans, groups)
    measured = {f"setup{c}" for c in range(SETUP_CYCLES)} | set(range(n_ops))
    by_name: dict[str, dict] = {}
    for (name, op), t in totals.items():
        if op in measured:
            by_name.setdefault(name, {})[op] = t

    def wall(name):
        ops = by_name.get(name, {})
        return statistics.median(t["wall_s"] for t in ops.values()) if ops else 0.0

    out = {}
    for name in TIMED_SPANS:
        out[f"{name}_s"] = (wall(name), "s")
    for name in MS_SPANS:
        out[f"{name}_ms"] = (wall(name) * 1e3, "ms")
    start = by_name.get("session.start", {}).get("setup0")
    out["session.jvm_launch_s"] = (start["wall_s"] if start else 0.0, "s")
    analyze = by_name.get("operators.kitti.analyze", {})
    scans = ("sources.kitti.scan_points", "sources.kitti.scan_labels", "sources.kitti.scan_calib")
    self_s = [
        t["wall_s"] - sum(by_name.get(s, {}).get(op, {}).get("wall_s", 0.0) for s in scans)
        for op, t in analyze.items()
    ]
    out["operators.kitti.analyze_self_s"] = (statistics.median(self_s) if self_s else 0.0, "s")
    for name in COUNTED_SPANS:
        ops = by_name.get(name, {})
        for c in SPAN_COUNTERS:
            v = sum(t[c] for t in ops.values()) / len(ops) if ops else 0.0
            out[f"{name}.{c}"] = (float(v), COUNTER_UNITS[c])
    out["spark.tasks_failed"] = (float(sum(g.get("tasks_failed", 0) for g in groups.values())), "count")
    for key, unit in LAYER_COUNTS:
        vals = [lc[key] for lc in layer_counts if key in lc]
        out[key] = (float(statistics.mean(vals)) if vals else 0.0, unit)
    out["sinks.files_written"] = (float(files_written), "count")
    out["sinks.bytes_written"] = (float(bytes_written), "B")
    out["trace.overhead_ms_per_op"] = (overhead_s / max(1, n_ops) * 1e3, "ms")
    out["jvm.jit_cpu_s"] = (statistics.median(op_jit) if op_jit else 0.0, "s")
    for k, v in e2e.items():
        out[f"traced.{k}"] = v
    out["traced.op_wall_ms"] = (statistics.median(op_times) * 1e3 if op_times else 0.0, "ms")
    return out


def report(args, wl, setups, op_times, op_cpu, attempted, failed, metrics, before, after) -> None:
    """Human-readable summary on stderr, including the workload's
    throughput (points_per_s or docs_per_s over the median pass)."""
    err = sys.stderr
    print(
        f"\nperfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"{len(op_times)} timed ops in {args.seconds:g} s window, nproc={before['nproc']}",
        file=err,
    )
    print(f"  set-ups (s): {[round(s, 3) for s in setups]}", file=err)
    for k, (v, u) in metrics.items():
        print(f"  {k:56s} {v:14.6g} {u}", file=err)
    print(f"  pass wall (s): {[round(t, 3) for t in op_times]}", file=err)
    print(f"  pass cpu (s):  {[round(t, 2) for t in op_cpu]}", file=err)
    if op_times:
        rate = "points_per_s" if args.workload == "kitti_cutout" else "docs_per_s"
        print(f"  {rate:56s} {wl.n_records / statistics.median(op_times):14.6g} 1/s", file=err)
    print(f"  {'fail_ratio':56s} {failed / max(1, attempted):14.6g} ({failed}/{attempted})", file=err)
    print(f"  host before: {before}\n  host after:  {after}", file=err)


if __name__ == "__main__":
    sys.exit(main())

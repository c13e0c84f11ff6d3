"""Benchmark of the soda_spark_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process, one closed-loop client
thread, Spark on local[<usable cores>]. The seed permutes the row order of
generated inputs (fixtures.py); content and correct answers never change.

--trace 0 prints the end-to-end metrics: set-up time (one cold set-up,
from process start), op latency, throughput, process-tree CPU, job/stage/
task counts and peak RSS. --trace 1 wraps each layer's entry point in
spans, turns on the Spark event log and prints the per-layer metrics
instead (spans.py, layers.py). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Everything the run writes stays under perfbench/.work/ and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WARMUP_OPS = 4  # ops after set-up that warm the JVM up, unmeasured
TRACED_OPS = 3  # a traced run measures at least this many traced ops

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_op": "s",
    "jobs_per_op": "count",
    "stages_per_op": "count",
    "tasks_per_op": "count",
    "peak_rss_mb": "MB",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _process_start() -> float:
    """This process's start time, epoch seconds (to a clock tick)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _session(cores: int, work: str, event_log: bool, split_bytes: int):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        # the inputs are small: split the largest into about one task per
        # core, as a large table is at the default split size
        .config("spark.sql.files.maxPartitionBytes", str(split_bytes))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        # a fixed heap and young generation: G1 otherwise grows them by GC
        # time, which host load changes, and peak RSS would follow the host
        .config("spark.driver.extraJavaOptions", "-Xms2g -Xmn512m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.eventLog.enabled", str(event_log).lower())
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
    )
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        builder = builder.config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark() -> None:
    """Stop the SparkContext, then the JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "soda_spark_spark", "__init__.py")):
        _fail("run from the repository root: soda_spark_spark/ not found")
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("inputs", "tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher's too: temp files in the work directory, no
    # hsperfdata, and fixed JIT compiler threads (see instrument.tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join([
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "-XX:-UsePerfData",
        "-XX:-UseDynamicNumberOfCompilerThreads",
    ])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package (pandas UDFs pickle by module path)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        meta, result = _run(args, WORKLOADS[args.workload], work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


def _run(args, workload_cls, work: str) -> tuple[dict, dict]:
    import layers
    import spans
    from instrument import Instrument, tree_peak_rss_mb

    cores = len(os.sched_getaffinity(0))
    workload = workload_cls(cores)
    meta = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "master": f"local[{cores}]", "loadavg_start": _loadavg(),
    }
    t0 = time.time()
    workload.prepare(os.path.join(work, "inputs"), args.seed)
    fixture_s = time.time() - t0
    meta["inputs"] = [{"name": i.name, "rows": i.rows, "bytes": i.bytes} for i in workload.inputs]
    meta["fixture_s"] = fixture_s
    split_bytes = max(i.bytes for i in workload.inputs) // cores + 1

    tracer = spans.Tracer()
    if args.trace:
        spans.install(tracer)

    # set-up, from process start (imports, JVM launch) through session
    # creation, per-session workload state and the first (cold) op, minus
    # fixture generation
    spark = _session(cores, work, bool(args.trace), split_bytes)
    workload.start(spark)
    workload.check(workload.op(tracer))
    setup_s = time.time() - _process_start() - fixture_s
    meta["setup_s"] = setup_s

    # warm-up: while the JIT compiles the hot paths, op times fall steeply;
    # these ops are run and checked but not measured. A fixed count, not a
    # time, so that a slow host does not start measuring earlier in the fall
    for _ in range(WARMUP_OPS):
        workload.check(workload.op(tracer))

    inst = Instrument(spark)
    samples, extra_counts, attempted, failed, rows_done = [], {}, 0, 0, 0
    deadline = time.perf_counter() + args.seconds
    # traced runs alternate untraced and traced ops, starting and ending
    # untraced, so that every traced op has an untraced op just before and
    # after it (the tracing overhead, layers.per_layer)
    min_ops = 2 * TRACED_OPS + 1 if args.trace else 1

    def more() -> bool:
        if attempted < min_ops:
            return True
        ends_traced = args.trace and attempted % 2 == 0
        return ends_traced or time.perf_counter() < deadline

    while more():
        tracer.enabled = bool(args.trace) and attempted % 2 == 1
        tracer.op = attempted
        attempted += 1
        try:
            output, sample = inst.measure(lambda: _in_span(tracer, workload))
            workload.check(output)
        except Exception:
            failed += 1
            traceback.print_exc()
            continue
        samples.append((tracer.op, tracer.enabled, sample))
        rows_done += workload.rows
        if tracer.enabled:
            extra_counts[tracer.op] = workload.layer_counts()
    tracer.enabled = False
    correct = failed == 0
    try:
        workload.finish()
    except AssertionError:
        traceback.print_exc()
        correct = False
    if not samples:
        raise RuntimeError("every op failed")

    meta["op_s"] = [round(s.wall_s, 4) for _, _, s in samples]
    meta["op_cpu_s"] = [round(s.cpu_total_s, 3) for _, _, s in samples]
    meta["op_jit_cpu_s"] = [round(s.cpu_s["jit"], 3) for _, _, s in samples]
    rss = tree_peak_rss_mb()
    app_id = spark.sparkContext.applicationId
    _stop_spark()
    meta["loadavg_end"] = _loadavg()

    if args.trace:
        log = spans.parse_event_log(os.path.join(work, "eventlog", app_id))
        metrics, meta["layers"] = layers.per_layer(tracer, log, samples, extra_counts)
    else:
        ok = [s for _, _, s in samples]
        med = statistics.median
        values = {
            "setup_s": setup_s,
            "op_p50_s": med([s.wall_s for s in ok]),
            "rows_per_s": rows_done / sum(s.wall_s for s in ok),
            "cpu_s_per_op": med([s.cpu_total_s for s in ok]),
            "jobs_per_op": med([s.jobs for s in ok]),
            "stages_per_op": med([s.stages for s in ok]),
            "tasks_per_op": med([s.tasks for s in ok]),
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    return meta, {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def _in_span(tracer, workload):
    with tracer.span("op"):
        return workload.op(tracer)


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer metrics of a traced run, from spans, the Spark event log and
the per-op /proc samples.

A layer's time is the summed duration of its spans in one op; every
metric is the median over the traced ops of the run. Self time (duration
minus child spans) feeds the layer table, whose shares of the op's wall
time add up to at most 1.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import GROUPING, EventLog, Tracer

# metric name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "definition.parse_s": "s",
    "compiler.compile_s": "s",
    "compiler.agg_exprs": "count",
    "executor.fused_agg_s": "s",
    "executor.fused_agg_jobs": "count",
    "executor.group_passes_s": "s",
    "executor.group_passes_jobs": "count",
    "executor.profile_s": "s",
    "executor.profile_jobs": "count",
    "executor.sql_metrics_s": "s",
    "evaluator.tests_s": "s",
    "evaluator.tests": "count",
    "history.append_s": "s",
    "history.previous_s": "s",
    "history.files": "count",
    "history.bytes_written": "bytes",
    "publish.s": "s",
    "publish.commands": "count",
    "pipeline.plan_s": "s",
    "pipeline.action_s": "s",
    "spark.driver_cpu_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.pyworker_cpu_s": "s",
    "spark.jit_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.stage_reuse_ratio": "ratio",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}

# span name -> its time metric, where that is not "<span name>_s"
_SPAN_METRIC = {"publish": "publish.s"}


def _metric_for(span_name: str) -> str:
    return _SPAN_METRIC.get(span_name, f"{span_name}_s")


def _attribute_jobs(spans_of_op, log: EventLog, lo: float, hi: float) -> dict[int, str]:
    """job id -> name of the innermost span open at its submission."""
    out = {}
    for job, t in log.job_submit.items():
        # event-log times are whole milliseconds, truncated
        if not lo - 0.001 <= t <= hi:
            continue
        inner = max(
            (s for s in spans_of_op if s.start - 0.001 <= t <= s.end), key=lambda s: s.start
        )
        out[job] = inner.name
    return out


def per_layer(tracer: Tracer, log: EventLog, samples, extra_counts) -> tuple[dict, dict]:
    """Return (the per-layer metrics as printed, the layer table).

    `samples` are (op, traced, OpSample) for every op that passed its check;
    `extra_counts` maps a traced op to counts the workload measured itself.
    The tracing overhead compares each traced op with the mean of the
    untraced ops just before and after it, which cancels a steady
    trend such as JIT warm-up."""
    by_op = defaultdict(list)
    for s in tracer.spans:
        by_op[s.op].append(s)
    values: dict[str, list[float]] = defaultdict(list)
    table: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    untraced = {op: sample.wall_s for op, enabled, sample in samples if not enabled}
    traced_walls, overheads = [], []
    for op, enabled, sample in samples:
        if not enabled:
            continue
        traced_walls.append(sample.wall_s)
        around = [untraced[k] for k in (op - 1, op + 1) if k in untraced]
        if around:
            overheads.append(sample.wall_s - statistics.fmean(around))
        spans_of_op = by_op[op]
        root = next(s for s in spans_of_op if s.name == "op")
        child_time = defaultdict(float)
        for s in spans_of_op:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        per_op = defaultdict(float)
        unattributed = 0.0
        for s in spans_of_op:
            dur = s.end - s.start
            self_s = max(0.0, dur - child_time[s.index])
            if s.name in GROUPING:
                unattributed += self_s
                table["(unattributed)"]["self_s"] += self_s
            else:
                per_op[_metric_for(s.name)] += dur
                table[s.name]["self_s"] += self_s
        wall = root.end - root.start
        per_op["trace.coverage"] = 1.0 - unattributed / wall

        jobs = _attribute_jobs(spans_of_op, log, root.start, root.end)
        listed, ran = set(), set()
        for job, name in jobs.items():
            table[name]["jobs"] += 1
            if name + "_jobs" in PER_LAYER:
                per_op[name + "_jobs"] += 1
            for sid in log.job_stages[job]:
                listed.add(sid)
                st = log.stages.get(sid)
                if st is None or sid in ran:
                    continue
                ran.add(sid)
                table[name]["executor_run_s"] += st.run_s
                table[name]["executor_cpu_s"] += st.cpu_s
                per_op["spark.executor_run_s"] += st.run_s
                per_op["spark.gc_s"] += st.gc_s
                per_op["spark.shuffle_write_mb"] += st.shuffle_write_mb
                per_op["spark.spill_mb"] += st.spill_mb
        per_op["spark.stage_reuse_ratio"] = (len(listed) - len(ran)) / len(listed) if listed else 0.0
        for cls in ("driver", "jvm", "pyworker", "jit"):
            per_op[f"spark.{cls}_cpu_s"] = sample.cpu_s[cls]
        for (count_op, name), v in tracer.counts.items():
            if count_op == op:
                per_op[name] += v
        for name, v in extra_counts.get(op, {}).items():
            per_op[name] += v
        table["(op)"]["wall_s"] += wall
        for name in PER_LAYER:
            if not name.startswith("trace.op") and name != "trace.overhead_s":
                values[name].append(per_op.get(name, 0.0))

    if not overheads:
        raise RuntimeError("no traced op completed beside an untraced one")
    values["trace.op_p50_s"] = [statistics.median(traced_walls)]
    values["trace.overhead_s"] = [statistics.median(overheads)]
    n, total = len(traced_walls), table["(op)"]["wall_s"]
    layer_table = {
        name: {
            "self_s_per_op": row.get("self_s", 0.0) / n,
            "share_of_op": row.get("self_s", 0.0) / total,
            "jobs_per_op": row.get("jobs", 0.0) / n,
            "executor_run_s_per_op": row.get("executor_run_s", 0.0) / n,
            "executor_cpu_s_per_op": row.get("executor_cpu_s", 0.0) / n,
        }
        for name, row in table.items()
        if name != "(op)"
    }
    layer_table["(op)"] = {"wall_s_per_op": total / n, "traced_ops": n}
    metrics = {
        name: {"value": statistics.median(values[name]), "unit": unit}
        for name, unit in PER_LAYER.items()
    }
    return metrics, layer_table

"""Spans around the package's layer entry points, recorded from outside.

`install(tracer)` wraps the entry points of each layer in place (the
package source is untouched); every call then records a span
(name, start, end, parent, op id) in memory. `Tracer.enabled` is False
outside traced ops, so the wrappers cost one attribute test there.

Per-stage executor time, CPU, GC, shuffle and spill come from an offline
parse of the SparkContext's event log. Jobs are attributed to the innermost
span whose interval holds the job's submission time: the scan's group
passes submit from pool threads and job groups are thread-local, so time
is the one key every job carries.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# span names that group layers rather than being one; their self time is
# reported as unattributed
GROUPING = {"op", "scan"}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (comparable with event-log timestamps)
    end: float
    parent: int | None
    op: int | None
    index: int


@dataclass
class Tracer:
    enabled: bool = False
    op: int | None = None
    spans: list[Span] = field(default_factory=list)
    counts: dict[tuple[int | None, str], float] = field(default_factory=dict)
    _local: threading.local = field(default_factory=threading.local)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        index = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, stack[-1] if stack else None, self.op, index))
        stack.append(index)
        try:
            yield
        finally:
            stack.pop()
            self.spans[index].end = time.time()

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            key = (self.op, name)
            self.counts[key] = self.counts.get(key, 0) + n


def _wrap(owner, attr: str, name: str, tracer: Tracer, after=None) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if after is not None and tracer.enabled:
            after(tracer, args, out)
        return out

    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the benchmark reaches."""
    from soda_spark_spark import api, history, scan
    from soda_spark_spark.operators.executor import ScanExecutor

    for module in (api, scan):  # both bind the name at import
        _wrap(module, "create_scan_definition", "definition.parse", tracer)
    _wrap(
        ScanExecutor, "__init__", "compiler.compile", tracer,
        after=lambda t, a, _: t.count("compiler.agg_exprs", len(a[0].compiled.agg_exprs)),
    )
    _wrap(ScanExecutor, "_run_fused_aggregation", "executor.fused_agg", tracer)
    _wrap(ScanExecutor, "_run_group_passes", "executor.group_passes", tracer)
    _wrap(ScanExecutor, "_profile_metrics", "executor.profile", tracer)
    _wrap(ScanExecutor, "_run_sql_metrics", "executor.sql_metrics", tracer)
    _wrap(
        ScanExecutor, "_evaluate_tests", "evaluator.tests", tracer,
        after=lambda t, a, _: t.count("evaluator.tests", len(a[0].result.test_results)),
    )
    _wrap(history.MetricHistory, "append", "history.append", tracer)
    _wrap(history.MetricHistory, "previous", "history.previous", tracer)
    _wrap(
        scan, "publish", "publish", tracer,
        after=lambda t, _, out: t.count("publish.commands", len(out)),
    )


# --- offline event-log parse ------------------------------------------------


@dataclass
class StageMetrics:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class EventLog:
    job_submit: dict[int, float] = field(default_factory=dict)  # epoch s
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stages: dict[int, StageMetrics] = field(default_factory=dict)  # stages that ran tasks


def parse_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.job_submit[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                log.job_stages[ev["Job ID"]] = list(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = log.stages.setdefault(ev["Stage ID"], StageMetrics())
                st.run_s += m.get("Executor Run Time", 0) / 1e3
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                st.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return log

"""The benchmark workloads. One *op* is one call of `Workload.op`.

Each workload has three phases:
- `prepare(directory, seed)`: write the seed-permuted inputs and compute
  reference answers. Fixture work; not part of set-up time.
- `start(spark)`: per-session state (read the inputs, reset the history
  directory and the publisher sink). Part of set-up time.
- `op(tracer)` then `check(output)`: the timed call, and the output check
  that raises on a wrong answer (outside the timed region).

They call only the package's public entry points: `scan.execute`,
`MetricHistory`, `evaluate_change_tests` and `curate`.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import fixtures

import soda_spark_spark as sss
from soda_spark_spark import scan as sss_scan
from soda_spark_spark.publish import JsonLinesPublisher


class Workload:
    name = ""
    rows = 0  # input rows an op reads

    def __init__(self, cores: int) -> None:
        self.cores = cores
        self.inputs: list[fixtures.Input] = []

    def prepare(self, directory: str, seed: int) -> None:
        raise NotImplementedError

    def start(self, spark) -> None:
        raise NotImplementedError

    def op(self, tracer):
        raise NotImplementedError

    def check(self, output) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """End-of-run check over state the ops built up."""

    def layer_counts(self) -> dict[str, float]:
        """Per-op layer counts only the workload can see (traced runs)."""
        return {}


class FlagshipMonitor(Workload):
    """The paper's headline 18-metric lineitem scan, run as one monitoring
    step: the scan (one fused aggregate, two duplicates group passes, the
    profile passes of one column and one SQL metric) with a publisher,
    change tests against the metric history, then the history append. The
    history starts empty at set-up and grows through the run."""

    name = "flagship_monitor"
    ROWS = 300_000
    CHANGE_TESTS = ["row_count == prev_row_count", "row_count > 0"]
    # one job each for frequent_values, mins, maxs and histogram
    PROFILE_METRICS = {"frequent_values", "mins", "maxs", "histogram"}

    def prepare(self, directory: str, seed: int) -> None:
        import duckdb

        self.rows = self.ROWS
        self.inputs = [fixtures.write(fixtures.lineitem(self.ROWS), "lineitem", directory, seed)]
        self.state_dir = os.path.join(directory, "monitor_state")
        self.yaml = f"""
table_name: lineitem
repartition: {self.cores}
metrics: [row_count, missing_count, missing_percentage, values_count, values_percentage,
          valid_count, valid_percentage, invalid_count, invalid_percentage,
          min_length, max_length, avg_length, min, max, avg, sum, variance, stddev]
profiling_limit: 5
tests:
- row_count > 0
columns:
  l_returnflag:
    valid_values: [A, N, R]
    metric_groups: [duplicates]
    tests:
    - invalid_percentage == 0
  l_linestatus:
    metric_groups: [duplicates]
  l_quantity:
    metrics: [frequent_values, mins, maxs, histogram]
sql_metrics:
- sql: |
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem
  tests:
  - revenue > 0
"""
        con = duckdb.connect()
        try:
            row = con.execute(
                """
                SELECT count(*), SUM(CAST(l_extendedprice AS DECIMAL(38,6))),
                       MIN(l_extendedprice), MAX(l_extendedprice),
                       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE),
                       COUNT(DISTINCT l_returnflag), COUNT(DISTINCT l_linestatus)
                FROM read_parquet(?)
                """,
                [self.inputs[0].path],
            ).fetchone()
        finally:
            con.close()
        self.expected = {
            ("row_count", None): row[0],
            ("sum", "l_extendedprice"): float(row[1]),
            ("min", "l_extendedprice"): row[2],
            ("max", "l_extendedprice"): row[3],
            ("revenue", None): row[4],
            ("distinct", "l_returnflag"): row[5],
            ("distinct", "l_linestatus"): row[6],
        }

    def start(self, spark) -> None:
        shutil.rmtree(self.state_dir, ignore_errors=True)
        os.makedirs(self.state_dir)
        self.history_path = os.path.join(self.state_dir, "history")
        self.history = sss.MetricHistory(spark, self.history_path)
        self.publisher = JsonLinesPublisher(os.path.join(self.state_dir, "commands.jsonl"))
        self.df = spark.read.parquet(self.inputs[0].path)
        self.first_measurements: str | None = None
        self.appended_rows = 0
        self.history_bytes = 0
        self.spark = spark

    def op(self, tracer):
        with tracer.span("scan"):
            result = sss_scan.execute(self.yaml, self.df, soda_server_client=self.publisher)
        changes = sss.evaluate_change_tests(
            result, self.history, self.CHANGE_TESTS, table_name="lineitem"
        )
        self.history.append(result, table_name="lineitem")
        return result, changes

    def check(self, output) -> None:
        result, changes = output
        if result.errors:
            raise AssertionError(f"scan errors: {result.errors}")
        failed = [t.test.expression for t in result.test_results if t not in changes and not t.passed]
        if failed:
            raise AssertionError(f"scan tests failed: {failed}")
        first_op = self.first_measurements is None
        for tr in changes:
            # prev_* tests are skipped only while the history is empty
            if not (tr.passed or (tr.skipped and first_op)):
                raise AssertionError(f"change test failed: {tr}")
        got = {(m.metric, m.column_name): m.value for m in result.measurements}
        wrong = {k: (got.get(k), v) for k, v in self.expected.items() if got.get(k) != v}
        if wrong:
            raise AssertionError(f"differs from DuckDB (got, expected): {wrong}")
        profiled = {m.metric for m in result.measurements if m.metric in self.PROFILE_METRICS}
        if profiled != self.PROFILE_METRICS:
            raise AssertionError(f"profile metrics missing: {self.PROFILE_METRICS - profiled}")
        # exact decimal sums: the whole measurement list repeats exactly
        measurements = json.dumps(
            [dataclasses.asdict(m) for m in result.measurements], sort_keys=True, default=str
        )
        if first_op:
            self.first_measurements = measurements
        elif measurements != self.first_measurements:
            raise AssertionError("measurements differ from the first op")
        self.appended_rows += sum(
            1 for m in result.measurements
            if isinstance(m.value, (int, float)) and not isinstance(m.value, bool)
        )

    def layer_counts(self) -> dict[str, float]:
        files = [
            os.path.join(d, f)
            for d, _, names in os.walk(self.history_path)
            for f in names
            if f.endswith(".parquet")
        ]
        size = sum(os.path.getsize(f) for f in files)
        written, self.history_bytes = size - self.history_bytes, size
        return {"history.files": len(files), "history.bytes_written": written}

    def finish(self) -> None:
        stored = self.spark.read.parquet(self.history_path).count()
        if stored != self.appended_rows:
            raise AssertionError(f"history holds {stored} rows, appended {self.appended_rows}")


class CurateDocs(Workload):
    """The text-curation pipeline to the noop sink: the operator layer,
    including the Arrow-batched Python-worker step (markdown_strip)."""

    name = "curate_docs"
    ROWS = 1_200
    STEPS = [
        {"kind": "markdown_strip"},
        {"kind": "quality_filter", "min_score": 0.4},
        {"kind": "langid_filter", "allowed": ["en"]},
        {"kind": "repetition_filter", "max_dup_line_fraction": 0.3},
        {"kind": "fingerprint_dedup"},
    ]

    def prepare(self, directory: str, seed: int) -> None:
        self.rows = self.ROWS
        self.inputs = [fixtures.write(fixtures.documents(self.ROWS), "documents", directory, seed)]

    def start(self, spark) -> None:
        self.df = spark.read.parquet(self.inputs[0].path)
        self.first: tuple | None = None

    def op(self, tracer):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with tracer.span("pipeline.plan"):
            out, _ = sss.curate(self.df, [dict(s) for s in self.STEPS])
        # the surviving id set's count and xor-hash ride along the write
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("doc_id")).alias("h"))
        with tracer.span("pipeline.action"):
            out.write.format("noop").mode("overwrite").save()
        return obs.get

    def check(self, observed) -> None:
        got = (observed["n"], observed["h"])
        if not 0 < got[0] < self.ROWS:
            raise AssertionError(f"{got[0]} of {self.ROWS} documents survived")
        if self.first is None:
            self.first = got
        elif got != self.first:
            raise AssertionError(f"surviving doc_id set {got} != first op's {self.first}")


WORKLOADS = {w.name: w for w in (FlagshipMonitor, CurateDocs)}

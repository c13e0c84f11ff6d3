"""Traced run of every workload, with the layer table.

    python3 perfbench/report.py

Runs each BENCHMARK.json workload once with --trace 1 (seed 1), writes the per-layer
metrics and layer tables to perfbench/results/traced_run.json and the table
to perfbench/results/LAYERS.md, and checks each workload's dominant layer
against the prediction below. Run it from the repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "results")

# workload -> the layer predicted to take the largest share of an op.
# Span names group by their first component for this purpose only where
# listed: history.append and history.previous together are "history".
PREDICTED = {
    "flagship_monitor": "executor.fused_agg",
    "curate_docs": "pipeline.action",
}
GROUPS = {"history.append": "history", "history.previous": "history"}


def dominant(table: dict) -> tuple[str, dict[str, float]]:
    shares: dict[str, float] = {}
    for name, row in table.items():
        if name.startswith("("):
            continue
        group = GROUPS.get(name, name)
        shares[group] = shares.get(group, 0.0) + row["share_of_op"]
    return max(shares, key=shares.get), shares


def _markdown(runs: dict) -> str:
    lines = ["# Traced run: layer table", ""]
    for workload, run in runs.items():
        table, metrics, meta = run["layers"], run["metrics"], run["meta"]
        top, shares = dominant(table)
        verdict = "confirmed" if top == PREDICTED[workload] else "NOT confirmed"
        op = table["(op)"]
        lines += [
            f"## {workload}",
            "",
            f"seed {meta['seed']}, {meta['master']}, {op['traced_ops']} traced ops, "
            f"{op['wall_s_per_op']:.3f} s per traced op; "
            f"loadavg {meta['loadavg_start'][0]:.2f} -> {meta['loadavg_end'][0]:.2f}.",
            "",
            f"Predicted dominant layer `{PREDICTED[workload]}`: {verdict} "
            f"(largest: `{top}`, {shares[top]:.1%} of op wall time).",
            f"Spans cover {metrics['trace.coverage']['value']:.1%} of the op; "
            f"tracing overhead {metrics['trace.overhead_s']['value'] * 1e3:+.0f} ms per op "
            f"(traced op minus the untraced ops just before and after it).",
            f"CPU per op: driver {metrics['spark.driver_cpu_s']['value']:.2f} s, "
            f"JVM {metrics['spark.jvm_cpu_s']['value']:.2f} s, "
            f"Python workers {metrics['spark.pyworker_cpu_s']['value']:.2f} s.",
            "",
            "| layer | self s/op | share of op | jobs/op | executor run s/op | executor CPU s/op |",
            "| --- | ---: | ---: | ---: | ---: | ---: |",
        ]
        rows = sorted(
            ((k, v) for k, v in table.items() if k != "(op)"),
            key=lambda kv: -kv[1]["share_of_op"],
        )
        for name, row in rows:
            if row["self_s_per_op"] < 5e-4 and not row["jobs_per_op"]:
                continue
            lines.append(
                f"| `{name}` | {row['self_s_per_op']:.3f} | {row['share_of_op']:.1%} | "
                f"{row['jobs_per_op']:.1f} | {row['executor_run_s_per_op']:.3f} | "
                f"{row['executor_cpu_s_per_op']:.3f} |"
            )
        lines.append("")
    return "\n".join(lines)


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    runs = {}
    for w in bench["workloads"]:
        proc = subprocess.run(
            [*bench["command"], "--workload", w["name"], "--seed", "1",
             "--seconds", str(bench["run_seconds"]), "--trace", "1"],
            capture_output=True, text=True, check=True,
        )
        meta_line, result_line = proc.stdout.strip().splitlines()[-2:]
        meta, result = json.loads(meta_line)["meta"], json.loads(result_line)
        if not result["correct"]:
            print(proc.stderr, file=sys.stderr)
            return 1
        runs[w["name"]] = {
            "meta": {k: v for k, v in meta.items() if k != "layers"},
            "layers": meta["layers"],
            "metrics": result["metrics"],
        }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "traced_run.json"), "w") as fh:
        json.dump(runs, fh, indent=1)
    with open(os.path.join(OUT, "LAYERS.md"), "w") as fh:
        fh.write(_markdown(runs))
    confirmed = all(dominant(r["layers"])[0] == PREDICTED[w] for w, r in runs.items())
    print("dominant layers", "confirmed" if confirmed else "NOT all confirmed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

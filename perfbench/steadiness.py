"""Check that the benchmark is steady: two sets of seeded runs per workload.

    python3 perfbench/steadiness.py

For each of two sets and each BENCHMARK.json workload it runs the
benchmark's command with --trace 0 on ten seeds (1..10, then 1001..1010),
and reports for every end-to-end metric the median and the spread, i.e.
the distance between the first and third quartiles (statistics.quantiles,
n=4) as a share of the median. A metric is steady when every set's spread
is within its bound and the second set's median is not worse than the
first's by more than the bound. Writes perfbench/results/steadiness.json.
Run from the repository root.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 10  # seeded runs per workload and set
SETS = 2


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {"median": median, "spread": (q3 - q1) / median, "values": values}


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse `later` is than `first`, as a share of `first`."""
    return (later - first) / first if better == "lower" else (first - later) / first


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    values = {(s, w): {} for s in range(SETS) for w in workloads}
    walls = {w: [] for w in workloads}
    for s in range(SETS):
        for i in range(RUNS):
            for w in workloads:  # interleaved, so host drift hits every workload alike
                seed = 1000 * s + i + 1
                t0 = time.time()
                proc = subprocess.run(
                    [*bench["command"], "--workload", w, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    capture_output=True, text=True,
                )
                walls[w].append(time.time() - t0)
                result = json.loads(proc.stdout.strip().splitlines()[-1])
                if proc.returncode or not result["correct"]:
                    print(proc.stderr, file=sys.stderr)
                    return 1
                for name, m in result["metrics"].items():
                    values[(s, w)].setdefault(name, []).append(m["value"])
                print(f"set {s} {w} seed {seed}: {walls[w][-1]:.1f} s", file=sys.stderr)

    report, steady = {}, True
    for w in workloads:
        report[w] = {"run_wall_s_median": statistics.median(walls[w])}
        for m in bench["end_to_end"]:
            per_set = [summarize(values[(s, w)][m["name"]]) for s in range(SETS)]
            worst_spread = max(x["spread"] for x in per_set)
            drift = worse_by(per_set[0]["median"], per_set[1]["median"], m["better"])
            ok = drift <= m["bound"] and worst_spread <= m["bound"]
            steady &= ok
            report[w][m["name"]] = {
                "bound": m["bound"], "sets": per_set, "worst_spread": worst_spread,
                "median_worse_by": drift, "ok": ok,
            }
            print(f"{w:14s} {m['name']:14s} spreads "
                  + " ".join(f"{x['spread']:.3f}" for x in per_set)
                  + f"  worse by {drift:+.3f}  bound {m['bound']}  {'ok' if ok else 'FAIL'}")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "steadiness.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness report: run each workload as two interleaved sets of the same
code, one seed per run, and print each end-to-end metric's median,
quartiles, min and max per set, how far the two sets' medians lie apart,
the spread of the paired differences, and the bound the rule below gives.

    python3 perfbench/steady.py --runs 10 [--workload mr_text ...]

Runs go A(seed 1), B(seed 1), A(seed 2), B(seed 2), ...: the two sets see
the same inputs and the same phases of the host, as the two sides of a
comparison of two commits would.

- spread: distance between the first and third quartile
  (``statistics.quantiles(values, n=4)``) as a share of the median;
- shift: the second set's median over the first's, minus one;
- paired spread: the interquartile distance of B/A - 1 over the seeds, the
  noise a comparison of two commits run this way would see.

The rule for a metric's bound in BENCHMARK.json: three times the largest
of the two spreads, the shift and the paired spread, over every workload,
rounded up to the next 0.05, at least 0.10 and at most 0.25. setup_s,
whose spread is not held to its bound, gets the largest bound, 0.25. A
metric whose largest figure is above 0.25 is reported as not steady: no
bound the contract allows covers it.
"""

from __future__ import annotations

import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LARGEST_BOUND = 0.25


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def bound_for(metric: str, worst: float) -> float:
    if metric == "setup_s":
        return LARGEST_BOUND
    return min(LARGEST_BOUND, max(0.10, math.ceil(3 * worst / 0.05 - 1e-9) * 0.05))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def report(workload: str, sets: dict[str, list[dict]], worst: dict[str, float]) -> None:
    runs = sets["A"] + sets["B"]
    print(f"\n{workload}: {len(runs)} runs, {sum(r['failed'] for r in runs)} failed of "
          f"{sum(r['attempted'] for r in runs)} attempted, "
          f"correct in {sum(r['correct'] for r in runs)}/{len(runs)}")
    print(f"  {'metric':<15}{'set':>4}{'median':>10}{'q1':>10}{'q3':>10}{'min':>10}{'max':>10}"
          f"{'spread':>8}")
    for metric in runs[0]["metrics"]:
        values = {k: [r["metrics"][metric]["value"] for r in v] for k, v in sets.items()}
        for name, vs in values.items():
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"  {metric:<15}{name:>4}{statistics.median(vs):>10.4f}{q1:>10.4f}{q3:>10.4f}"
                  f"{min(vs):>10.4f}{max(vs):>10.4f}{spread(vs):>8.3f}")
        shift = statistics.median(values["B"]) / statistics.median(values["A"]) - 1
        paired = [b / a - 1 for a, b in zip(values["A"], values["B"])]
        q1, _, q3 = statistics.quantiles(paired, n=4)
        figures = [abs(shift)] if metric == "setup_s" else [
            spread(values["A"]), spread(values["B"]), abs(shift), q3 - q1
        ]
        worst[metric] = max(worst.get(metric, 0.0), *figures)
        print(f"  {metric:<15} shift {shift:+.3f}, paired B/A-1 median "
              f"{statistics.median(paired):+.3f}, paired spread {q3 - q1:.3f}")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="seeds per set")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable); default: all")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    worst: dict[str, float] = {}
    for workload in workloads:
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            for name, results in sets.items():
                results.append(run_once(workload, seed, bench["run_seconds"]))
                print(f"{workload} seed {seed} {name}: " + json.dumps(
                    {k: round(v["value"], 4) for k, v in results[-1]["metrics"].items()}),
                    flush=True)
        report(workload, sets, worst)
    print("\nbounds by rule (current in BENCHMARK.json):")
    current = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for metric, value in worst.items():
        verdict = "" if value <= LARGEST_BOUND else "  NOT STEADY"
        print(f"  {metric:<15} largest figure {value:.3f} -> bound "
              f"{bound_for(metric, value):.2f} ({current.get(metric)}){verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

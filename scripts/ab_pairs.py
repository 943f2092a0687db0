"""Interleaved A/B of the benchmark: a parent commit against the working tree.

    python scripts/ab_pairs.py --parent HEAD~1 --workload dedup_index --seeds 7..16

The parent is exported with ``git archive`` into ``<workdir>/ab-parent-<sha>``
(reused by later invocations, so its generated inputs are too). A worktree
is not used: it would register itself in this repository's ``.git``. For
each seed both sides run ``perfbench/run.py --seconds <run_seconds> --trace
0`` from their own checkout, the parent first on odd seeds and the change
first on even ones, so neither side always meets the host's slow phases.

Printed: each run's end-to-end metrics as it finishes; then per metric each
side's median and quartiles, the pairs the change won (better by the
metric's direction in BENCHMARK.json), and whether the gap between the
medians is larger than the parent's interquartile range.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list[int]:
    first, _, last = text.partition("..")
    return list(range(int(first), int(last or first) + 1))


def export_parent(ref: str, workdir: Path) -> Path:
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    dest = workdir / f"ab-parent-{sha[:12]}"
    if not (dest / "perfbench" / "run.py").exists():
        dest.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise RuntimeError(f"git archive {sha} failed")
    return dest


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=900, check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{checkout} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def report(runs: dict[str, list[dict]], better: dict[str, str]) -> None:
    for side, results in runs.items():
        print(f"{side}: {len(results)} runs, failed {sum(r['failed'] for r in results)} "
              f"of {sum(r['attempted'] for r in results)} attempted")
    print(f"{'metric':<15}{'side':>8}{'median':>10}{'q1':>10}{'q3':>10}")
    for metric in runs["parent"][0]["metrics"]:
        values = {s: [r["metrics"][metric]["value"] for r in rs] for s, rs in runs.items()}
        stats = {}
        for side, vs in values.items():
            q1, _, q3 = quartiles(vs)
            stats[side] = (statistics.median(vs), q1, q3)
            print(f"{metric:<15}{side:>8}{stats[side][0]:>10.3f}{q1:>10.3f}{q3:>10.3f}")
        sign = -1 if better[metric] == "lower" else 1
        wins = sum(sign * (c - p) > 0 for p, c in zip(values["parent"], values["change"]))
        gap = sign * (stats["change"][0] - stats["parent"][0])
        iqr = stats["parent"][2] - stats["parent"][1]
        print(f"{metric:<15} change won {wins}/{len(values['parent'])} pairs; median gap "
              f"{gap:+.3f} in its better direction, parent IQR {iqr:.3f}: "
              f"{'larger' if gap > iqr else 'not larger'}")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git ref of the parent commit")
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 7..16")
    ap.add_argument("--workdir", default=tempfile.gettempdir(),
                    help="where the parent is exported (default: the temp dir)")
    args = ap.parse_args()

    sides = {"parent": export_parent(args.parent, Path(args.workdir)), "change": ROOT}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for seed in parse_seeds(args.seeds):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            result = run_once(sides[side], args.workload, seed, bench["run_seconds"])
            runs[side].append(result)
            line = {"workload": args.workload, "seed": seed, "side": side,
                    "failed": result["failed"],
                    **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}
            print(json.dumps(line), flush=True)
    report(runs, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Determinism sweep: run every registered query under a baseline and a
flipped execution config and require identical canonical value hashes.

Modes (--mode=...):
- partitions (default): 32 vs 7 shuffle partitions — partition-count
  invariance, the distributed-determinism claim behind every oracle
  green (a partitioning-dependent result passes today's driver and
  flakes on a 1000-executor cluster).
- broadcast: default planner vs autoBroadcastJoinThreshold=-1 — results
  must not depend on which side the planner broadcasts.
- aqe: adaptive execution on vs off — runtime re-planning (coalescing,
  skew splits, join-strategy switches) must be value-invisible.

Each side is one cold ``bench.run_query``: the per-fixture memos are
cleared first, so the flipped side rebuilds every memoized index (IVF
centroids, PQ codebooks, cluster labels) under its own config.

Usage: python scripts/determinism_sweep.py [sf_dir]
           [--mode=partitions|broadcast|aqe] [--only=name1,name2,...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import run_query  # noqa: E402
from map_reduce_go_spark import get_spark  # noqa: E402
from map_reduce_go_spark.registry import all_queries  # noqa: E402
from tests.oracle_compare import canonical_rows  # noqa: E402


MODES = {
    "partitions": ("spark.sql.shuffle.partitions", "32", "7"),
    "broadcast": ("spark.sql.autoBroadcastJoinThreshold", "10485760", "-1"),
    "aqe": ("spark.sql.adaptive.enabled", "true", "false"),
}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    mode = "partitions"
    only: set[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--mode="):
            mode = a.split("=", 1)[1]
        elif a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    if mode not in MODES:
        print(
            f"unknown --mode={mode!r}; valid modes: {', '.join(sorted(MODES))}\n"
            "usage: python scripts/determinism_sweep.py [sf_dir] "
            "[--mode=partitions|broadcast|aqe]",
            file=sys.stderr,
        )
        return 2
    selected = all_queries()
    if only is not None:
        unknown = sorted(only - set(selected))
        if unknown:
            print(f"unknown --only queries: {', '.join(unknown)}", file=sys.stderr)
            return 2
        selected = {n: s for n, s in selected.items() if n in only}
    key, base, flipped = MODES[mode]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark(app_name=f"determinism-sweep-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for name, spec in sorted(selected.items()):
        t0 = time.time()
        recs = []
        for value in (base, flipped):
            spark.conf.set(key, value)
            recs.append(
                run_query(spark, name, spec.fn, sf_dir, cold=True, sink=lambda d: d.toPandas())
            )
        spark.conf.set(key, base)
        err = next((r["error"] for r in recs if "error" in r), None)
        if err is not None:
            failures.append((name, f"ERROR {err}"))
            print(f"  {name}: ERROR {err[:120]}")
            continue
        ok = canonical_rows(recs[0]["result"]) == canonical_rows(recs[1]["result"])
        if not ok:
            failures.append((name, "NONDETERMINISTIC"))
        print(f"  {name}: {'stable' if ok else 'NONDETERMINISTIC'} {time.time()-t0:.1f}s")
    print(f"\n{len(selected) - len(failures)}/{len(selected)} stable under mode={mode}")
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

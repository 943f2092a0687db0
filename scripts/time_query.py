"""Time registered queries cold (memo-cleared) with the bench's runner,
without running the whole suite.

Usage:
    python scripts/time_query.py [-n RUNS] <query> [<query> ...]

Prints, per query, the cold median + spread and one warm run, then the
median of the other record fields (build seconds, job/stage/task counts,
task run and CPU time, shuffle and spill bytes, GC). Each run goes through
``bench.run_query``, so the numbers are comparable with BENCH_LOCAL.json.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import FIELDS, RUNS, cold_then_warm, run_query, summarize  # noqa: E402
from map_reduce_go_spark import get_spark  # noqa: E402
from map_reduce_go_spark.registry import all_queries  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n_runs = RUNS
    if args and args[0] == "-n":
        n_runs = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = all_queries()
    spark = get_spark(app_name="mrgs-time")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up (JVM/codegen/parquet footers) — same as bench.py.
    run_query(spark, "warmup", specs["q1_pricing_summary"].fn, sf_dir, cold=False)

    for name in args:
        cold, warm = cold_then_warm(spark, name, specs[name].fn, sf_dir, n_runs)
        ok = [r for r in cold if "error" not in r]
        for r in (*cold, warm or {}):
            if "error" in r:
                print(f"{name}: {'' if r['cold'] else 'warm '}ERROR {r['error']}")
        if not ok:
            continue
        s = summarize(ok)
        line = f"{name}: cold median {s['seconds']:.3f}s {s['seconds_range']} (n={len(ok)})"
        if warm is not None and "error" not in warm:
            line += f" warm {warm['seconds']:.3f}s"
        print(line, json.dumps({k: s[k] for k in FIELDS[1:]}))


if __name__ == "__main__":
    main()

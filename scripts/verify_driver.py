"""Driver-mimic: exercises the __spark_entry__ contract end-to-end exactly
as the round driver does — entry() smoke at sf0.001, then every queries()
entry vs its oracle_sql() in DuckDB at sf0.01 (row count + column names +
order-insensitive canonical value compare), each run through
``bench.run_query`` (memos kept, ``toPandas`` as the action).

Usage: python scripts/verify_driver.py [sf_dir] [--only=name1,name2,...]

Exits 1 if any query fails, 2 if ``--only`` names a query that is not
registered.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from bench import run_query  # noqa: E402
from map_reduce_go_spark import get_spark  # noqa: E402
from tests.oracle_compare import canonical_rows, duck_views  # noqa: E402


def mismatches(con, sp, oracle: str) -> list[str]:
    """What differs between the Spark result ``sp`` and the oracle's."""
    dk = con.sql(oracle).df()
    status = []
    if sorted(sp.columns) != sorted(dk.columns):
        status.append(f"SCHEMA spark={sorted(sp.columns)} duck={sorted(dk.columns)}")
    if len(sp) != len(dk):
        status.append(f"ROWS spark={len(sp)} duck={len(dk)}")
    if not status and canonical_rows(sp) != canonical_rows(dk):
        status.append("VALUES differ")
    return status


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only: set[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if only is not None:
        unknown = sorted(only - set(qs))
        if unknown:
            print(f"unknown --only queries: {', '.join(unknown)}", file=sys.stderr)
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    spark = get_spark(app_name="verify-driver")

    # t1 smoke: entry() at sf0.001
    t0 = time.time()
    df = entrymod.entry(spark)
    rows = df.count()
    print(f"entry(): {rows} rows, schema={df.columns}, {time.time() - t0:.1f}s")

    con = duck_views(sf_dir)

    failures = []
    for name in sorted(qs):
        rec = run_query(
            spark, name, qs[name], sf_dir, cold=False, sink=lambda d: d.toPandas()
        )
        if "error" in rec:
            failures.append(name)
            print(f"  {name}: ERROR {rec['error']}")
            continue
        sp = rec["result"]
        try:
            status = mismatches(con, sp, oracles[name])
        except Exception as e:  # noqa: BLE001
            status = [f"ORACLE {type(e).__name__}: {e}"]
        if status:
            failures.append(name)
            print(f"  {name}: MISMATCH {'; '.join(status)}")
        else:
            print(f"  {name}: OK {len(sp)} rows, {rec['seconds']:.1f}s")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries match at {sf_dir}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

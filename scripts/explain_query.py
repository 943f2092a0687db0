"""Regenerate .explain("formatted") plans for registered queries, on demand.

Usage:
    python scripts/explain_query.py <outdir> <query> [<query> ...]

Writes <outdir>/<query>.txt with the formatted physical plan built at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1). Plan construction only
— no action is run (except any eager sizing pre-jobs a query's own
construction performs). Plans are not committed: regenerate the ones a
change touches, before and after it.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from map_reduce_go_spark import get_spark  # noqa: E402
from map_reduce_go_spark.registry import all_queries  # noqa: E402


def main() -> None:
    outdir = Path(sys.argv[1])
    names = sys.argv[2:]
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = all_queries()
    spark = get_spark(app_name="mrgs-explain")
    spark.sparkContext.setLogLevel("ERROR")
    from map_reduce_go_spark.functions.caching import clear_memos, release_caches

    for name in names:
        clear_memos()
        try:
            df = specs[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (outdir / f"{name}.txt").write_text(plan)
            print(f"{name}: {len(plan)} chars -> {outdir / name}.txt")
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
        finally:
            release_caches()


if __name__ == "__main__":
    main()

"""bench.py stdout-line contract: the driver records only a 2000-char
tail of stdout, so the single JSON line bench prints must NEVER exceed
its 1900-char budget — at any headliner count, any name length, any
error volume (ADVICE r9: the old fallback could exit its shrink loop at
keep=0 without re-encoding and still print an oversized line)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from bench import encode_stdout_line

REPO = Path(__file__).resolve().parent.parent

FULL = {
    "metric": "headline_suite_seconds",
    "value": 12.345,
    "completed": 0,
    "attempted": 0,
    "sf": 0.1,
}


def _line(results, errors=None, budget=1900):
    full = dict(FULL, completed=len(results), attempted=len(results))
    return encode_stdout_line(full, results, errors or {}, "BENCH_LOCAL.json", budget)


def test_small_suite_keeps_full_precision():
    results = {"q1": 1.234, "q2": 0.567}
    line = json.loads(_line(results))
    assert line["queries"] == results
    assert line["worst"] == ["q1", 1.234]


def test_many_queries_coarsen_then_truncate():
    results = {f"query_with_a_fairly_long_name_{i:03d}": i / 7 for i in range(120)}
    encoded = _line(results)
    assert len(encoded) <= 1900
    line = json.loads(encoded)
    # Shrunk to the worst-N, recorded how many survived.
    assert line["queries_truncated_to_worst"] == len(line["queries"])
    kept = set(line["queries"])
    worst = sorted(results, key=results.get, reverse=True)[: len(kept)]
    assert kept == set(worst)


def test_pathological_overflow_still_fits_budget():
    """Even when keep=5 of 400-char names overflows a tiny budget, the
    floor re-encodes with an empty query map instead of printing an
    oversized line."""
    results = {"q" * 400 + str(i): float(i) for i in range(40)}
    errors = {("e" * 300) + str(i): "boom" for i in range(20)}
    encoded = _line(results, errors, budget=600)
    assert len(encoded) <= 600
    line = json.loads(encoded)
    assert line["queries"] == {}
    assert line["queries_truncated_to_worst"] == 0
    assert "error_queries" not in line
    assert line["worst"] is None
    # The headline metric survives truncation — the driver always parses.
    assert line["metric"] == "headline_suite_seconds"
    assert line["value"] == 12.345


# --- bench.run_query: the one runner behind bench.py and the scripts ---


def test_run_query_records_layers(spark, sf_dir):
    """A plain TPC-H scan starts no job while it is built (footer
    schemas) and runs its tasks in the action; the sink's return value
    comes back as ``result``."""
    from bench import FIELDS, run_query
    from map_reduce_go_spark.registry import all_queries

    fn = all_queries()["q1_pricing_summary"].fn
    rec = run_query(spark, "q1_pricing_summary", fn, sf_dir, cold=True)
    assert "error" not in rec
    assert set(FIELDS) <= set(rec)
    assert rec["build_jobs"] == 0
    assert rec["jobs"] >= 1 and rec["tasks"] >= 1
    assert 0 <= rec["build_s"] <= rec["seconds"]
    rec = run_query(
        spark, "q1_pricing_summary", fn, sf_dir, cold=False, sink=lambda d: d.toPandas()
    )
    assert len(rec["result"]) > 0


def test_run_query_cold_clears_memos_and_warm_keeps_them(spark, sf_dir):
    """dedup_clusters memoizes its converged labels: a cold run pays the
    propagation jobs in its build even when the memo is already filled,
    and a warm run straight after pays none."""
    from bench import run_query
    from map_reduce_go_spark.registry import all_queries

    fn = all_queries()["dedup_clusters"].fn
    run_query(spark, "dedup_clusters", fn, sf_dir, cold=False)  # fills the memo
    cold = run_query(spark, "dedup_clusters", fn, sf_dir, cold=True)
    warm = run_query(spark, "dedup_clusters", fn, sf_dir, cold=False)
    assert "error" not in cold and "error" not in warm
    assert cold["build_jobs"] > 0
    assert warm["build_jobs"] == 0


def test_run_query_records_an_error_and_cleans_up(spark, sf_dir):
    """A query that raises does not raise out of the runner: its record
    carries the error, its tracked caches are released and the job group
    is cleared."""
    from bench import run_query
    from map_reduce_go_spark.functions.caching import storage_is_empty, tracked_cache

    def broken(spark, sf_dir):
        tracked_cache(spark.range(10)).count()
        raise ValueError("broken query")

    rec = run_query(spark, "broken", broken, sf_dir, cold=True)
    assert rec["error"] == "ValueError: broken query"
    assert "seconds" not in rec
    assert rec["jobs"] == rec["build_jobs"] >= 1
    assert storage_is_empty(spark)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


# A fresh session whose status store keeps 10 stages: Spark drops skipped
# stages first once it is full, while the jobs that skipped them still
# list them.
_SMALL_STORE_SWEEP = """
import sys
from bench import run_query
from map_reduce_go_spark import get_spark
from map_reduce_go_spark.registry import all_queries

spark = get_spark(app_name="small-store", extra_conf={"spark.ui.retainedStages": "10"})
specs = all_queries()
for name in ("ann_ivf_cosine", "ann_ivf_pq_topk"):
    rec = run_query(spark, name, specs[name].fn, sys.argv[1], cold=False)
    assert "error" not in rec, rec["error"]
    assert rec["tasks"] > 0, rec
"""


def test_run_query_reads_past_dropped_stages(sf_dir):
    """A long sweep outgrows spark.ui.retainedStages; the runner must
    still return records, not fail looking up a dropped skipped stage."""
    proc = subprocess.run(
        [sys.executable, "-c", _SMALL_STORE_SWEEP, sf_dir],
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

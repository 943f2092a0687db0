"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} — sized to fit a 2000-char stdout
tail. The full record is written to $SPARK_GRAFT_BENCH_OUT (default
./BENCH_LOCAL.json, tracked): for each query, the median over its cold
runs of every field :func:`run_query` records, the wall and task-CPU
[min, max], one warm timing and any error.

Every query runs through :func:`run_query`, the one query runner that
scripts/time_query.py, scripts/verify_driver.py and scripts/scale_probe.py
also call. Execution is forced with a noop sink (full computation, nothing
collected to the driver).

Reading a change: job, stage and task counts repeat exactly across cold
runs and shuffle bytes to within a few bytes. A change is real when
counts, bytes or task CPU move beyond their recorded spread; a
wall-clock total alone is not evidence.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import time
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from map_reduce_go_spark import get_spark  # noqa: E402
from map_reduce_go_spark.functions.caching import clear_memos, release_caches  # noqa: E402
from map_reduce_go_spark.registry import all_queries  # noqa: E402
from perfbench.collect import StatusCollector  # noqa: E402

RUNS = 3  # cold runs per query; the bench reports their median
WARM_MIN_S = 0.5  # a memo-free query's warm run equals its cold run

#: Record fields read from Spark's status store: counts and bytes, then
#: seconds of executor task time.
COUNTS = ("jobs", "build_jobs", "stages", "tasks")
BYTES = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
TASK_TIMES = ("task_run_s", "task_cpu_s", "gc_s")
FIELDS = ("seconds", "build_s", *COUNTS, *BYTES, *TASK_TIMES)


# One collector per session: it remembers the stages it has read.
_collector = functools.lru_cache(maxsize=1)(StatusCollector)


def run_query(spark, name, fn, sf_dir, *, cold, sink=None) -> dict:
    """Run ``fn(spark, sf_dir)`` once and return its record.

    ``cold`` clears the per-fixture memos first, so the run pays every
    memoized build. The build runs under job group ``<tag>:build`` and
    ``sink(df)`` under ``<tag>:action``; without a sink the action is a
    noop write. ``seconds`` times build + action, ``build_s`` the build
    alone, and ``result`` holds what the sink returned. An exception is
    recorded under ``error``, never raised. Tracked caches are released
    afterwards, then the :data:`COUNTS`, :data:`BYTES` and :data:`TASK_TIMES`
    fields are read from Spark's status store, outside the timed window."""
    if cold:
        clear_memos()
    sc = spark.sparkContext
    collector = _collector(spark)
    tag = f"{name}:{uuid.uuid4().hex[:12]}"
    mark = collector.mark()
    rec: dict = {"name": name, "cold": cold}
    sc.setJobGroup(f"{tag}:build", name)
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        rec["build_s"] = time.perf_counter() - t0
        sc.setJobGroup(f"{tag}:action", name)
        if sink is None:
            df.write.format("noop").mode("overwrite").save()
        else:
            rec["result"] = sink(df)
        rec["seconds"] = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001 — the harness survives any query
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_caches()
    groups = (f"{tag}:build", f"{tag}:action")
    # Spark keeps spark.ui.retainedStages stages and drops skipped ones
    # (which ran no tasks) first, so past that count a job can list a
    # stage its store no longer holds. Mark those read, so the collector
    # does not look them up.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = itertools.chain(*map(tracker.getJobIdsForGroup, groups))
    listed = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    collector._seen_stages.update(s for s in listed if tracker.getStageInfo(s) is None)
    m = collector.read(*groups, mark)
    rec.update({k: int(m[f"spark.{k}"]) for k in (*COUNTS, *BYTES)})
    rec.update({k: m[f"spark.{k}"] for k in TASK_TIMES})
    return rec


def cold_then_warm(spark, name, fn, sf_dir, runs=RUNS, warm_min_s=0.0):
    """Up to ``runs`` cold runs of one query, stopping at the first error,
    then one warm run (memos kept from the last cold run) when the cold
    median is at least ``warm_min_s``. Returns (cold records, warm record
    or None)."""
    cold = []
    for _ in range(runs):
        cold.append(run_query(spark, name, fn, sf_dir, cold=True))
        if "error" in cold[-1]:
            break
    ok = [r for r in cold if "error" not in r]
    if not ok or summarize(ok)["seconds"] < warm_min_s:
        return cold, None
    return cold, run_query(spark, name, fn, sf_dir, cold=False)


def summarize(records: list[dict]) -> dict:
    """Median of every :data:`FIELDS` entry over ``records`` (the upper
    one for an even count), plus the wall and task-CPU [min, max]."""
    out = {}
    for k in FIELDS:
        values = sorted(r[k] for r in records)
        out[k] = round(values[len(values) // 2], 3)
        if k in ("seconds", "task_cpu_s"):
            out[f"{k}_range"] = [round(values[0], 3), round(values[-1], 3)]
    return out


# Headline set: one per operator family, weighted toward scale-sensitive
# plans (scan-heavy agg, fact⋈fact join, window, LSH dedup, knn, sessions).
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "q10_returned_item_revenue",
    "wordcount",
    "inverted_index",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "knn_bruteforce_cosine",
    "ann_ivf_cosine",
    "text_quality_stats",
    "token_counts",
    "quality_filter_chain",
    "sequence_packing",
    "decontaminate_against_eval",
    "events_tumbling_window",
    "events_session_window",
    "window_running_customer_spend",
    "dedup_clusters",  # iterative connected components
    "q18_large_volume_orders",  # high-cardinality agg
    "tfidf_top_terms",  # two-pass text stats
    "cross_doc_span_dupes",  # span-level cross-doc duplication
    "semdedup_prune",  # SemDedup cell pruning
    "bpe_pair_counts",  # vocabulary-weighted BPE pair stats
    "funnel_view_click_purchase",  # ordered-stage funnel
    "bigram_lm_doc_score",  # corpus bigram LM
    "editdist_deletion_join",  # deletion-neighborhood edit-distance join
    "char_entropy_quality",  # per-doc char entropy
    "ann_pq_adc_topk",  # PQ build + ADC lookup
    "upsert_latest_snapshot",  # argmax compaction
    "cms_heavy_hitters",  # count-min sketch
    "scd2_user_type_history",  # SCD2 window chain
    "pipeline_stage_attrition",  # composed end-to-end pipeline
    "setsim_prefix_filter_join",  # prefix-filter similarity join
    "shingle_novelty_per_doc",  # corpus-shingle novelty join
    "snapshot_diff_cdc",  # two-snapshot CDC diff
    "bpe_merge_steps",  # iterative BPE train
    "rolling_7d_distinct_users",  # sliding distinct
    "interval_union_coverage_days",  # sweep-line interval union
    "negative_sampling_per_order",  # hash-derived negative sampling
    "equidepth_histogram_price_approx",  # distributed row_number
    "bm25_doc_ranking",  # BM25 scoring
    "ann_filtered_ivf",  # filtered IVF search
    "pagerank_nation_trade",  # PageRank iteration
    "mad_outliers_by_segment",  # MAD outlier fences
    "survival_order_fulfillment",  # Kaplan-Meier curve
    "purchase_scd2_state_lookup",  # temporal as-of join
    "winnowing_fingerprints",  # fingerprint selection
    "dedup_sorted_neighborhood",  # sort-based blocking
    "fifo_inventory_allocation",  # set-based FIFO ledger
    "auc_value_by_event_type",  # model evaluation
    "cdc_gear_chunk_stats",  # gear content-defined chunking
    "ann_ivf_persisted",  # persisted IVF probe
    "classifier_calibration_bins",  # classifier inference + calibration
    "multimodal_quarantine_audit",  # per-blob PNG decode
    "dedup_maximal_spans",  # maximal-span exact-substring dedup
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = all_queries()
    spark = get_spark(app_name="mrgs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM/codegen/parquet-footer caches; not counted.
    run_query(spark, "warmup", specs["q1_pricing_summary"].fn, sf_dir, cold=False)

    # Per-query error isolation: one failing query is recorded and the
    # rest still run. Cold and warm timings are separate fields.
    results: dict[str, float] = {}
    warm: dict[str, float] = {}
    records: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        cold, warm_rec = cold_then_warm(
            spark, name, specs[name].fn, sf_dir, warm_min_s=WARM_MIN_S
        )
        errors.update((name, r["error"]) for r in cold if "error" in r)
        ok = [r for r in cold if "error" not in r]
        if ok:
            records[name] = summarize(ok)
            results[name] = records[name]["seconds"]
        if warm_rec is not None:
            if "error" in warm_rec:
                errors[name] = f"warm: {warm_rec['error']}"
            else:
                warm[name] = round(warm_rec["seconds"], 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "headline_suite_seconds",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "timing": f"cold: median of runs_per_query memo-cleared runs; warm: one run with per-fixture memos retained (recorded only for queries with cold median >= {WARM_MIN_S}s)",
        "warm": warm,
        "runs_per_query": RUNS,
        # Per query: the median of each run_query field over its cold
        # runs, with the wall and task-CPU [min, max].
        "records": records,
        # value sums only COMPLETED queries — completed/attempted make a
        # partial run visible so an errored round can't read as a speedup.
        "completed": len(results),
        "attempted": len(HEADLINE),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        full["errors"] = errors

    # stdout carries exactly ONE JSON line (see encode_stdout_line); the
    # full record goes to a tracked file, one line per query record so a
    # diff shows which queries moved.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", str(REPO / "BENCH_LOCAL.json"))
    rows = ",\n".join(f"  {json.dumps(q)}: {json.dumps(r)}" for q, r in records.items())
    with open(out_path, "w") as f:
        text = json.dumps({**full, "records": "RECORDS"}, indent=1)
        f.write(text.replace('"RECORDS"', "{\n" + rows + "\n }") + "\n")
    print(encode_stdout_line(full, results, errors, os.path.basename(out_path)))


def encode_stdout_line(
    full: dict, results: dict, errors: dict, detail: str, budget: int = 1980
) -> str:
    """The ONE stdout JSON line, guaranteed <= ``budget`` chars: full
    precision first, then 2dp coarsening, then worst-N shrink, then (the
    pathological floor) an empty query map — the line is always
    parseable, never tail-truncated mid-JSON.

    The line is the last thing printed and is read from a 2000-char
    stdout tail, so the real ceiling is 2000 − len(newline). A worst-N
    shrink emits queries_omitted = {count, max_sec}: every omitted query
    completed and its median is <= max_sec, so a missing name never reads
    as a drop or a regression."""
    worst = max(results.items(), key=lambda kv: kv[1]) if results else None
    line = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "queries": results,
        "completed": full["completed"],
        "attempted": full["attempted"],
        "worst": list(worst) if worst else None,
        "detail": detail,
        "sf": full["sf"],
    }
    if errors:
        line["error_queries"] = sorted(errors)  # messages live in the file
    compact = {"separators": (",", ":")}
    encoded = json.dumps(line, **compact)
    if len(encoded) > budget:
        line["queries"] = {k: round(v, 2) for k, v in results.items()}
        encoded = json.dumps(line, **compact)
    if len(encoded) > budget:  # last resort: keep the contract parseable
        # Keep the 2dp coarsening in the fallback too, and shrink the
        # worst-N list until the line fits (long query names could
        # otherwise still overflow a fixed N=30). Omission metadata
        # (count + the max median among omitted queries) keeps the
        # driver's round-over-round comparison sound: an omitted query
        # COMPLETED and is at least as fast as max_sec.
        by_worst = sorted(results.items(), key=lambda kv: -kv[1])
        keep = len(by_worst) - 5
        while keep > 0:
            omitted = by_worst[keep:]
            line["queries"] = {k: round(v, 2) for k, v in by_worst[:keep]}
            line["queries_truncated_to_worst"] = keep
            line["queries_omitted"] = {
                "count": len(omitted),
                "max_sec": round(max(v for _, v in omitted), 2),
            }
            encoded = json.dumps(line, **compact)
            if len(encoded) <= budget:
                break
            keep -= 5
        if len(encoded) > budget:
            # Even keep<=5 overflowed (pathological name/error lengths):
            # drop the per-query map, error list, and worst-name entirely
            # and re-encode, so the printed line NEVER exceeds the budget.
            line["queries"] = {}
            line["queries_truncated_to_worst"] = 0
            line["queries_omitted"] = {
                "count": len(results),
                "max_sec": round(max(results.values()), 2) if results else None,
            }
            line["worst"] = None
            line.pop("error_queries", None)
            encoded = json.dumps(line, **compact)
    return encoded


if __name__ == "__main__":
    main()

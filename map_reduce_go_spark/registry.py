"""Query registry — the single source of truth for the driver contract.

Every implemented query registers here with (name, spark callable, DuckDB
oracle SQL); ``__spark_entry__.py`` exposes it to the driver, which checks
the first ``WINDOW`` queries in iteration order. :func:`driver_window`
computes that window from the committed driver rows. Registration happens
at import of :mod:`map_reduce_go_spark.queries_all`.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass
from functools import cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

WINDOW = 50  # queries the driver checks per round

# Queue-jumpers: query -> the last driver round its current code is newer
# than. Add a query whose fn, oracle or fixture changes after its latest
# driver row. An entry is dead once a later round has a row for the query;
# tests/test_registry_contract.py then fails until it is removed.
_JUMP: dict[str, int] = {
    # the pandas reduce walks sorted key runs; the hooks' word is
    # functions/text.py::py_words
    "generic_mapreduce_wordcount": 17,
    # one-pass _near_dup_edges, one-hop _converged_labels seed
    **dict.fromkeys(["dedup_clusters", "dedup_keep_best", "near_dup_cluster_sizes"], 17),
    # every query that trains IVF centroids: the Lloyd sums are SQL strings
    **dict.fromkeys(
        ["ann_ivf_cosine", "ann_ivf_recall_probe", "ann_ranking_quality", "semdedup_prune",
         "ann_filtered_ivf", "ann_ivf_pq_topk", "ann_ivf_persisted", "ann_ivf_incremental_probe"],
        17,
    ),
    # the shared vector layer (seq_dot/seq_outer folds, top_k, the oracle
    # fold builder); the IVF queries above reach it too
    **dict.fromkeys(
        ["knn_bruteforce_cosine", "ann_lsh_cosine", "embedding_quality_audit",
         "ann_pq_adc_topk", "embedding_int8_quant_recall", "hard_negative_mining",
         "matryoshka_truncation_recall", "ann_lsh_persisted", "dedup_embedding_cosine"],
        17,
    ),
    # 0 rows on an empty nation table
    "pagerank_nation_trade": 17,
    # NULL instead of DIVIDE_BY_ZERO on empty tables
    **dict.fromkeys(["bloom_join_prune_probe", "kmv_distinct_merge_probe"], 17),
    # the rank family calls functions/distrank.py::dist_prefix; spearman's
    # constant-column guard
    **dict.fromkeys(
        ["auc_value_by_event_type", "decision_stump_doclen", "spearman_quantity_price",
         "equidepth_histogram_price_approx", "zipf_tail_slope", "dedup_sorted_neighborhood",
         "orders_rfm_segmentation", "revenue_lorenz_gini", "customer_spend_deciles"],
        17,
    ),
    # NULL instead of DIVIDE_BY_ZERO on a one-document source; 0 rows
    # from the classifier on an empty corpus
    **dict.fromkeys(
        ["zscore_doclen_by_source", "ols_tokens_vs_chars_by_source", "classifier_train_scores"],
        17,
    ),
    # the shard is functions/hashing.py's one-digit md5 integer
    **dict.fromkeys(["shuffle_shards", "shard_balance_audit"], 17),
    # NULL instead of DIVIDE_BY_ZERO on a one-row group; 0 violations,
    # not NULL, on an empty table
    **dict.fromkeys(
        ["corr_quantity_price", "moment_stats_quantity", "dq_referential_integrity"], 17
    ),
    # the shared shingle-pair layer: one candidate and one verify step per
    # side (the cluster trio above reaches it too)
    **dict.fromkeys(
        ["dedup_minhash_lsh", "dedup_pipeline_exact_then_lsh", "lsh_recall_probe",
         "dedup_minhash_lsh_stopfiltered", "dedup_incremental_batch",
         "dedup_minhash_containment", "dedup_ngram_jaccard", "setsim_prefix_filter_join",
         "lsh_band_tuning_report"],
        17,
    ),
    # the one event-time layer: streaming/windows.py's builders and gap,
    # plans/events.py's session numbering and oracle CTEs, dsum
    **dict.fromkeys(
        ["events_tumbling_window", "events_sliding_window", "events_session_window",
         "events_sessionize", "session_path_patterns", "purchase_click_attribution_outer",
         "events_multi_granularity_rollup", "union_by_name_schema_evolution"],
        17,
    ),
    # the one media-decode layer: decode_blob, the row helper, the plant
    # and the oracles' modality/plant/G.711 fragments
    **dict.fromkeys(
        ["multimodal_feature_stub", "multimodal_resize_stub", "multimodal_audio_resample_stub",
         "multimodal_frame_sample", "mulaw_audio_energy_windows", "multimodal_quarantine_audit"],
        17,
    ),
}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str  # ANSI SQL for DuckDB


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, *, oracle: str):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


def driver_window(names: Iterable[str], rows: Mapping, jump: Mapping[str, int]) -> list[str]:
    """The first ``WINDOW`` of ``names`` (in registration order) by driver
    priority, from ``rows`` (round -> query -> driver row) and ``jump``:
    no green latest row, then pending jumpers, then oldest latest round.
    Jumpers, too, go oldest latest round first."""
    latest = {name: rnd for rnd in sorted(rows) for name in rows[rnd]}

    def group(name: str) -> tuple[int, int]:
        rnd = latest.get(name)
        row = rows[rnd][name] if rnd is not None else {}
        green = all(row.get(c) for c in ("rows_match", "schema_match", "hash_match"))
        if not green or row.get("err") is not None:
            return (0, 0)
        return (1, rnd) if name in jump and rnd <= jump[name] else (2, rnd)

    return sorted(names, key=group)[:WINDOW]  # stable: ties keep registration order


@cache
def driver_rows() -> dict[int, dict[str, dict]]:
    """Round -> query -> row, read once from ``CORRECTNESS_r<round>.json``."""
    return {
        int(p.stem.removeprefix("CORRECTNESS_r")): json.loads(p.read_text())
        for p in Path(__file__).resolve().parent.parent.glob("CORRECTNESS_r*.json")
    }


def all_queries() -> dict[str, QuerySpec]:
    # Import for side effect: modules register their queries on import.
    import map_reduce_go_spark.queries_all  # noqa: F401

    ordered = {n: _REGISTRY[n] for n in driver_window(_REGISTRY, driver_rows(), _JUMP)}
    ordered.update((n, s) for n, s in _REGISTRY.items() if n not in ordered)
    return ordered


def query_fns() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items()}

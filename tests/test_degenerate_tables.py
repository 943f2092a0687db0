"""Degenerate inputs for every registered query: each runs on 0-row and
1-row copies of the fixture tables its oracle names and must return what
DuckDB returns, or refuse by documented design. The shingle-pair family
also runs on an all-duplicate corpus, and the event-time family on events
where one user holds 90% of the rows."""

from __future__ import annotations

import re

import pytest

from map_reduce_go_spark.registry import all_queries
from map_reduce_go_spark.sources.readers import TABLES
from tests.oracle_compare import compare_on_head_copies

#: (query, rows) pairs that refuse by design, with the divergence each
#: raises and the reason.
REFUSES = {
    # One document has one label class; the class-balanced gradient
    # needs both, so training raises its documented ValueError (the
    # replay oracle divides by the empty class count instead).
    ("classifier_train_scores", 1): (ValueError, None),
    # Spark's Expand-based grouping sets emit no grand-total row over
    # empty input; DuckDB emits one.
    **dict.fromkeys(
        [
            ("rollup_lineitem_flags", 0),
            ("cube_orders_status_priority", 0),
            ("events_multi_granularity_rollup", 0),
        ],
        (AssertionError, "row count spark=0 duck=1"),
    ),
    # The oracle unrolls 25 ops for the 25-nation fixture; with one
    # nation it still replays all 25.
    ("shardctrler_apply_log", 1): (AssertionError, "row count spark=20 duck=260"),
}


def _oracle_tables(name: str) -> list[str]:
    """The fixture tables query ``name``'s oracle reads."""
    oracle = all_queries()[name].oracle
    return [t for t in TABLES if re.search(rf"\b{t}\b", oracle)]


@pytest.mark.parametrize("rows", [0, 1])
@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_matches_oracle_on_empty_and_single_row_tables(
    spark, sf_dir, tmp_path, monkeypatch, name, rows
):
    tables = _oracle_tables(name)
    # A fresh index dir: the IVF/LSH queries persist their index there.
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "ivf_index"))
    data = tmp_path / "sf"
    data.mkdir()
    refusal = REFUSES.get((name, rows))
    if refusal is None:
        compare_on_head_copies(spark, sf_dir, data, name, tables, rows)
    else:
        with pytest.raises(refusal[0], match=refusal[1]):
            compare_on_head_copies(spark, sf_dir, data, name, tables, rows)


#: The queries that reach dedup.py's shared candidate and verify steps
#: (lsh_candidate_pairs, pair_overlap, exact_pair_counts and their oracle
#: builders).
SHINGLE_PAIR_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_keep_best",
    "near_dup_cluster_sizes",
    "dedup_pipeline_exact_then_lsh",
    "lsh_recall_probe",
    "dedup_minhash_lsh_stopfiltered",
    "dedup_incremental_batch",
    "dedup_minhash_containment",
    "dedup_ngram_jaccard",
    "setsim_prefix_filter_join",
    "lsh_band_tuning_report",
]


@pytest.mark.parametrize("name", SHINGLE_PAIR_QUERIES)
def test_shingle_pair_query_matches_oracle_on_doubled_documents(spark, sf_dir, tmp_path, name):
    """Every document appears twice, so every shingle set has an exact
    copy: each doc's copy is a candidate in every band with Jaccard 1."""
    data = tmp_path / "sf"
    data.mkdir()
    compare_on_head_copies(spark, sf_dir, data, name, ["documents"], None, dupes=True)


#: The queries that reach the event-time layer (streaming/windows.py's
#: builders and plans/events.py's session numbering), plus the other
#: per-user event-time windows and joins.
EVENT_TIME_QUERIES = [
    "events_tumbling_window",
    "events_sliding_window",
    "events_session_window",
    "events_sessionize",
    "session_path_patterns",
    "purchase_click_attribution_outer",
    "event_dwell_time_by_type",
    "funnel_view_click_purchase",
    "asof_join_purchase_to_click",
    "range_join_error_click_counts",
]


@pytest.mark.parametrize("name", EVENT_TIME_QUERIES)
def test_event_time_query_matches_oracle_on_hot_user(spark, sf_dir, tmp_path, name):
    """One user holds 90% of the events: one per-user window partition,
    session chain and interval-join key carries almost the whole table."""
    data = tmp_path / "sf"
    data.mkdir()
    compare_on_head_copies(spark, sf_dir, data, name, _oracle_tables(name), None, hotkey=True)

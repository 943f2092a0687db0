"""Degenerate corpora for the ``documents`` family: every query whose
oracle reads ``documents`` runs on a 0-row and a 1-row copy of the table
and must return what DuckDB returns, or refuse by documented design."""

from __future__ import annotations

import re

import pytest

from tests.oracle_compare import compare_on_head_copies

#: (query, rows) pairs that refuse by design, with the reason.
REFUSES = {
    # One document has one label class; the class-balanced gradient
    # needs both, so training raises its documented ValueError (the
    # replay oracle divides by the empty class count instead).
    ("classifier_train_scores", 1): ValueError,
}


def _documents_queries() -> list[str]:
    from map_reduce_go_spark.registry import all_queries

    return sorted(
        n for n, s in all_queries().items() if re.search(r"\bdocuments\b", s.oracle)
    )


@pytest.mark.parametrize("rows", [0, 1])
@pytest.mark.parametrize("name", _documents_queries())
def test_documents_queries_match_oracle_on_empty_and_single_row_corpus(
    spark, sf_dir, tmp_path, name, rows
):
    refusal = REFUSES.get((name, rows))
    if refusal is None:
        compare_on_head_copies(spark, sf_dir, tmp_path, name, ("documents",), rows)
    else:
        with pytest.raises(refusal):
            compare_on_head_copies(spark, sf_dir, tmp_path, name, ("documents",), rows)

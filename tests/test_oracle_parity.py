"""Run every registered query against its DuckDB oracle — the same check
the driver performs at sf0.01 (CORRECTNESS_r{N}.json), run here at the
fixture scale so regressions surface before the round gate.
"""

import pytest

from map_reduce_go_spark.registry import all_queries
from tests.oracle_compare import compare

SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    compare(df, duck.sql(spec.oracle), name=name)


def test_oracle_gate_actually_gates():
    """Negative control for the comparison harness itself: a perturbed
    value, a dropped row, and a renamed column must each FAIL the
    canonical compare — guards against the gate silently degrading into
    always-green (the failure mode that makes every other green row
    meaningless)."""
    import pandas as pd
    import pytest as _pytest

    from tests.oracle_compare import canonical_rows

    base = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]})

    same = canonical_rows(base.copy())
    assert same == canonical_rows(base)

    wrong_value = base.copy()
    wrong_value.loc[1, "v"] = 2.5000021  # > 1e-6 after rounding
    assert canonical_rows(wrong_value) != canonical_rows(base)

    dropped = base.iloc[:2]
    assert canonical_rows(dropped) != canonical_rows(base)

    renamed = base.rename(columns={"v": "value"})
    assert sorted(renamed.columns) != sorted(base.columns)

    below_tolerance = base.copy()
    below_tolerance.loc[1, "v"] = 2.5000000004  # rounds away at 6 dp
    assert canonical_rows(below_tolerance) == canonical_rows(base)

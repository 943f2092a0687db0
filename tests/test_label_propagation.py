"""Min-label propagation (dedup_clusters' connected components) on graph
shapes the fixtures never produce: the fixtures' near-dup clusters are all
pairs (diameter 1), so deeper paths, several components, an empty edge set
and the round bound are exercised here, each against a Python union-find."""

import pytest

from map_reduce_go_spark.operators.dedup import _propagate_min_labels


def _union_find_labels(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _edges(spark, pairs):
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def _labels(spark, pairs, **kw):
    rows = _propagate_min_labels(_edges(spark, pairs), **kw).collect()
    return {r["doc_id"]: r["cluster_id"] for r in rows}


# Node ids are deliberately not in path order, so the minimum has to
# travel the whole diameter.
PATH_D4 = [(9, 7), (7, 3), (3, 8), (8, 1)]
TWO_COMPONENTS = [(10, 4), (4, 12), (20, 15), (15, 30), (30, 16)]


@pytest.mark.parametrize(
    "pairs", [PATH_D4, TWO_COMPONENTS], ids=["path_diameter_4", "two_components"]
)
def test_labels_match_union_find(spark, pairs):
    assert _labels(spark, pairs) == _union_find_labels(pairs)


def test_empty_edge_set_gives_no_labels(spark):
    assert _labels(spark, []) == {}


def test_path_longer_than_round_bound_raises(spark):
    """Diameter d needs d + 1 label frames (d to close it, one to see the
    label-sum stop); one fewer must raise, never return partial labels."""
    path = [(i, i + 1) for i in range(8)]  # diameter 8, minimum at one end
    assert _labels(spark, path, max_rounds=9) == _union_find_labels(path)
    with pytest.raises(RuntimeError, match="did not converge"):
        _labels(spark, path, max_rounds=8)

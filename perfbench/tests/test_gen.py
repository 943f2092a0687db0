"""The seeded input generator: deterministic per seed, different across
seeds, and confined to the directory it is given."""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench import gen


def _files(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_identical_bytes(workload, tmp_path):
    a = gen.ensure_inputs(workload, 7, tmp_path / "a")
    b = gen.ensure_inputs(workload, 7, tmp_path / "b")
    files_a, files_b = _files(a), _files(b)
    assert len(files_a) > 1
    assert files_a == files_b


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_other_seed_gives_other_inputs_of_the_same_shape(workload, tmp_path):
    a = _files(gen.ensure_inputs(workload, 7, tmp_path))
    b = _files(gen.ensure_inputs(workload, 8, tmp_path))
    assert a.keys() == b.keys()
    data = [name for name in a if name != "_COMPLETE"]
    assert all(a[name] != b[name] for name in data if "region" not in name and "nation" not in name)


def test_writes_only_under_its_root_and_reuses_the_cache(tmp_path):
    root = tmp_path / "cache"
    out = gen.ensure_inputs("dedup_index", 3, root)
    assert [p.name for p in tmp_path.iterdir()] == ["cache"]
    assert all(root in p.parents for p in tmp_path.rglob("*") if p != root)
    stamp = (out / "documents.parquet").stat().st_mtime_ns
    assert gen.ensure_inputs("dedup_index", 3, root) == out
    assert (out / "documents.parquet").stat().st_mtime_ns == stamp


def test_unknown_workload_is_refused(tmp_path):
    with pytest.raises(ValueError):
        gen.ensure_inputs("nope", 1, tmp_path)
    assert not any(tmp_path.iterdir())


def test_tables_follow_the_fixture_schema():
    tables = gen.tpch_tables(seed=1, scale=0.01)
    lineitem, orders = tables["lineitem"], tables["orders"]
    assert lineitem.schema.field("l_shipdate").type == "timestamp[us]"
    # Every line item belongs to an order, and line numbers restart per order.
    assert set(lineitem["l_orderkey"].to_pylist()) <= set(orders["o_orderkey"].to_pylist())
    pairs = list(zip(lineitem["l_orderkey"].to_pylist(), lineitem["l_linenumber"].to_pylist()))
    assert len(set(pairs)) == len(pairs)
    docs = gen.dedup_tables(seed=1)["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert sum(t.endswith(" dup") for t in docs["text"]) == int(gen.N_DOCUMENTS * gen.DUP_SHARE)

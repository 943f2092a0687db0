"""Checks of the scripts that run before any Spark session starts: their
command-line refusals and scale_probe's family table."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"


def _load(module: str):
    spec = importlib.util.spec_from_file_location(module, SCRIPTS / f"{module}.py")
    script = importlib.util.module_from_spec(spec)
    sys.modules[module] = script  # dataclasses resolve their module by name
    spec.loader.exec_module(script)
    return script


def _no_spark(**_):
    raise AssertionError("a Spark session was requested")


@pytest.mark.parametrize("module", ["verify_driver", "determinism_sweep"])
def test_unknown_only_name_exits_2_before_spark(module, monkeypatch, capsys):
    """A typo in --only must fail loudly, not report 0/0 queries checked."""
    script = _load(module)
    monkeypatch.setattr(script, "get_spark", _no_spark)
    monkeypatch.setattr(
        sys, "argv", [f"{module}.py", "--only=q1_pricing_summary,no_such_query"]
    )
    assert script.main() == 2
    assert "no_such_query" in capsys.readouterr().err


def test_unknown_family_exits_2_before_spark(monkeypatch, capsys):
    """A typo in --family must fail loudly, not time the mixed set under
    the misspelled name."""
    script = _load("scale_probe")
    monkeypatch.setattr(script, "get_spark", _no_spark)
    monkeypatch.setattr(sys, "argv", ["scale_probe.py", "2", "--family=sutie"])
    assert script.main() == 2
    err = capsys.readouterr().err
    assert "sutie" in err and "suite" in err


_PROBE = _load("scale_probe")


@pytest.mark.parametrize("family", list(_PROBE.FAMILIES))
def test_probe_family_resolves(family, sf_dir):
    """Every name a family replicates or times exists: a renamed query or
    column fails here, not minutes into a 64x run."""
    import pyarrow.parquet as pq

    from map_reduce_go_spark.registry import all_queries
    from map_reduce_go_spark.sources.readers import TABLES

    fam = _PROBE.FAMILIES[family]
    assert fam.queries or fam.stats
    assert set(fam.queries) <= set(all_queries())
    assert set(fam.tables) <= set(TABLES)
    assert set(fam.shifts) <= set(fam.tables)
    shifts = {t: c for t, c in fam.shift_cols().items() if t in fam.tables}
    for t, cols in shifts.items():
        names = pq.read_schema(f"{sf_dir}/{t}.parquet").names
        assert set(cols) <= set(names), (t, cols)
    shifted = {c for cols in shifts.values() for c in cols}
    for col, target in fam.fk_bases.items():
        assert col in shifted, col
        assert target in shifts, target


def test_query_index_is_current_and_has_no_placeholders(capsys):
    """QUERIES.md is the generator's output, and no registered query's
    docstring carries an unformatted ``{NAME}`` placeholder (a docstring
    is read after its module finishes importing, so a ``.format`` line
    after registration still counts)."""
    import re

    from map_reduce_go_spark.registry import all_queries

    placeholder = re.compile(r"\{[\w.()\[\] *+/-]*[A-Za-z_][\w.()\[\] *+/-]*\}")
    found = {
        name: placeholder.findall(spec.fn.__doc__ or "")
        for name, spec in all_queries().items()
    }
    assert not {n: p for n, p in found.items() if p}
    _load("gen_query_index").main()
    assert capsys.readouterr().out == (SCRIPTS.parent / "QUERIES.md").read_text()

"""Command-line checks of the oracle scripts that run before any Spark
session starts."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"


def _load(module: str):
    spec = importlib.util.spec_from_file_location(module, SCRIPTS / f"{module}.py")
    script = importlib.util.module_from_spec(spec)
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

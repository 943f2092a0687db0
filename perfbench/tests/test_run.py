"""The run's pass schedule, its tracing-overhead figure and its units."""

from __future__ import annotations

import json

import pytest

from perfbench import run


class FakeRunner(run.Runner):
    """Passes that take no time and record only whether they were traced."""

    def __init__(self):
        pass

    def run_pass(self, traced: bool, warm_legs: bool = True) -> run.Pass:
        return run.Pass(traced)


@pytest.mark.parametrize("trace", [False, True])
def test_measure_runs_min_passes_and_brackets_traced_ones(trace):
    passes = FakeRunner().measure(0, trace)
    assert len(passes) >= run.MIN_PASSES
    if trace:
        assert [p.traced for p in passes] == [i % 2 == 1 for i in range(len(passes))]
        assert not passes[-1].traced
    else:
        assert not any(p.traced for p in passes)


def test_tracing_overhead_compares_with_the_neighbouring_passes():
    # Untraced passes speed up as the JVM warms; each traced pass costs 0.5 s.
    walls = [10.0, 9.5, 8.0, 7.5, 6.0]
    passes = [run.Pass(traced=i % 2 == 1, wall_s=w) for i, w in enumerate(walls)]
    assert run.tracing_overhead(passes) == pytest.approx(0.5)


def test_units_are_the_ones_benchmark_json_declares():
    bench = json.loads((run.REPO / "BENCHMARK.json").read_text())
    assert run.declared_units(False) == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert run.declared_units(True) == {m["name"]: m["unit"] for m in bench["per_layer"]}

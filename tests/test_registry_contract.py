"""Registry/driver-contract invariants: cheap structural checks that
protect the correctness gate itself — the window stays exactly the
driver's check size and follows the computed rule, never-checked queries
outrank stale greens, and every registration carries a full-strength
oracle.
"""

from __future__ import annotations

from map_reduce_go_spark import registry
from map_reduce_go_spark.registry import _JUMP, WINDOW, all_queries, driver_rows, driver_window

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {**GREEN, "hash_match": False}


def _latest_rounds() -> dict[str, int]:
    rows = driver_rows()
    return {name: rnd for rnd in sorted(rows) for name in rows[rnd]}


def test_window_is_exactly_driver_sized_and_resolvable():
    qs = all_queries()
    window = list(qs)[:WINDOW]
    # The driver checks the FIRST 50 in iteration order — those must be
    # precisely the computed window, in order.
    assert window == driver_window(registry._REGISTRY, driver_rows(), _JUMP)
    assert len(set(window)) == WINDOW == 50  # no duplicate slots
    assert not set(_JUMP) - set(qs), "jump names not registered"
    rows, latest = driver_rows(), _latest_rounds()
    dead = sorted(n for n, rnd in _JUMP.items() if latest.get(n, 0) > rnd)
    assert not dead, f"_JUMP entries with a newer driver row; remove them: {dead}"
    # Outside the non-green and jump groups, the window takes the oldest
    # latest rows: none is newer than any query left out of the window.
    green = {
        n for n, rnd in latest.items() if all(rows[rnd][n].get(k) == v for k, v in GREEN.items())
    }
    by_age = [n for n in window if n not in _JUMP and n in green]
    left_out = [latest[n] for n in qs if n not in window and n in latest]
    if by_age and left_out:
        assert max(latest[n] for n in by_age) <= min(left_out)


def test_window_leads_with_a_non_green_latest_row():
    names = [f"q{i}" for i in range(60)]
    rows = {
        1: {n: GREEN for n in names},
        2: {"q59": RED, "q58": {**GREEN, "err": "boom"}, "q0": GREEN},
    }
    window = driver_window(names, rows, {})
    assert window[:2] == ["q58", "q59"]
    assert "q0" not in window  # its latest row is the newest and green


def test_jump_entry_is_dropped_once_a_newer_round_has_its_row():
    names = [f"q{i}" for i in range(60)]
    rows = {1: {n: GREEN for n in names[:30]}, 2: {n: GREEN for n in names[30:]}}
    assert driver_window(names, rows, {"q59": 2})[0] == "q59"
    rows[3] = {"q59": GREEN}
    assert "q59" not in driver_window(names, rows, {"q59": 2})


def test_jumpers_go_oldest_latest_round_first():
    """More pending jumpers than slots: the ones whose latest row is oldest
    get in; within one round, registration order decides."""
    names = [f"q{i}" for i in range(70)]
    rows = {12: {n: GREEN for n in names[60:]}, 16: {n: GREEN for n in names[:60]}}
    window = driver_window(names, rows, dict.fromkeys(names, 17))
    assert window == names[60:] + names[:40]


def test_window_ties_keep_registration_order():
    names = [f"q{i}" for i in range(70)]
    rows = {10: {n: GREEN for n in names[1::2]}, 9: {n: GREEN for n in names[::2]}}
    window = driver_window(names, rows, {})
    assert window == names[::2] + names[1::2][:15]


def test_every_query_has_full_oracle():
    """No rows-only registrations: the driver's strongest check (rows +
    schema + value hash) applies to every query we claim."""
    weak = [n for n, s in all_queries().items() if not s.oracle]
    assert not weak, f"rows-only queries: {weak}"


def test_never_checked_queries_lead_the_window():
    """Every query with no driver CORRECTNESS row yet must sit inside the
    50-slot window — a never-checked query has strictly less evidence
    than any stale green."""
    seen = set(_latest_rounds())
    if not seen:  # first round: nothing recorded yet
        return
    qs = all_queries()
    out_of_window = sorted(set(qs) - seen - set(list(qs)[:WINDOW]))
    assert not out_of_window, (
        f"never-checked queries outside the driver window: {out_of_window}"
    )


def test_bench_headliners_are_registered():
    """Every bench.py HEADLINE name must resolve in the registry — a
    rename that orphans a headliner would make the driver's BENCH run
    silently skip it (per-query error isolation) and read as a perf
    regression."""
    import bench

    qs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench headliners not registered: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no duplicates


def test_modules_register_contiguously_in_queries_all_import_order():
    """Registration order sets the driver window's tie order. In a fresh
    interpreter, each module's queries register as one contiguous run,
    and the runs follow ``queries_all.py``'s import lines: an import side
    effect (one query module importing another) that reorders
    ``_REGISTRY`` fails here."""
    import json
    import re
    import subprocess
    import sys
    from pathlib import Path

    import map_reduce_go_spark.queries_all as qa

    probe = (
        "import json; import map_reduce_go_spark.queries_all;"
        " from map_reduce_go_spark.registry import _REGISTRY;"
        " print(json.dumps([s.fn.__module__ for s in _REGISTRY.values()]))"
    )
    repo = Path(qa.__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=repo, capture_output=True, text=True, check=True
    ).stdout
    mods = json.loads(out.splitlines()[-1])
    runs = [m for i, m in enumerate(mods) if i == 0 or mods[i - 1] != m]
    assert len(runs) == len(set(runs)), f"a module registers in several runs: {runs}"
    imports = re.findall(r"^import (\S+)", Path(qa.__file__).read_text(), re.M)
    assert runs == [m for m in imports if m in runs]

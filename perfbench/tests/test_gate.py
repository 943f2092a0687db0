"""The correctness gate catches a planted wrong row."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest

from map_reduce_go_spark.registry import all_queries
from perfbench import gate, gen
from perfbench.workloads import MR_APPS, text_files

Q1 = "q1_pricing_summary"


@pytest.fixture(scope="module")
def tpch(tmp_path_factory):
    root = tmp_path_factory.mktemp("tpch")
    data = gen.ensure_inputs("dedup_index", 1, root)
    oracles = {Q1: all_queries()[Q1].oracle}
    with gate.duckdb_connection(data, root / "duckdb") as con:
        yield con, oracles, con.sql(oracles[Q1]).df()


def test_oracle_rows_pass(tpch):
    con, oracles, right = tpch
    assert gate.check_oracles({Q1: right.sample(frac=1, random_state=0)}, oracles, con) == []


@pytest.mark.parametrize(
    "plant",
    [
        lambda df: df.assign(count_order=df["count_order"].where(df.index != 0, 1)),
        lambda df: df.assign(sum_qty=df["sum_qty"] + (df.index == 2) * 1e-3),
        lambda df: df.iloc[1:],
        lambda df: pd.concat([df, df.iloc[:1]]),
        lambda df: df.rename(columns={"avg_qty": "avg_quantity"}),
    ],
    ids=["changed-count", "changed-sum", "missing-row", "extra-row", "renamed-column"],
)
def test_planted_wrong_row_is_caught(tpch, plant):
    con, oracles, right = tpch
    assert gate.check_oracles({Q1: plant(right.copy())}, oracles, con) == [Q1]


def test_missing_result_is_caught(tpch):
    con, oracles, _right = tpch
    assert gate.check_oracles({}, oracles, con) == [Q1]


def _commit(out: Path, lines: list[str]) -> None:
    out.mkdir(parents=True)
    (out / "part-00000").write_text("".join(line + "\n" for line in lines), encoding="utf-8")
    (out / "_SUCCESS").touch()


def test_mr_gate_compares_committed_text_and_native_results(tmp_path):
    files = text_files(gen.ensure_inputs("mr_text", 1, tmp_path / "in"))
    contents = {Path(f).resolve().as_uri(): Path(f).read_text(encoding="utf-8") for f in files}
    lines = {app: gate.sequential_lines(app, contents) for app in MR_APPS}
    wc = [line.split(" ") for line in lines["wc"]]
    index = [line.split(" ", 2) for line in lines["indexer"]]
    results = {
        "wordcount": pd.DataFrame({"word": [w for w, _ in wc], "cnt": [int(c) for _, c in wc]}),
        "inverted_index": pd.DataFrame(
            {
                "word": [w for w, _, _ in index],
                "doc_count": [int(n) for _, n, _ in index],
                "docs": [",".join(u.rsplit("/", 1)[-1] for u in d.split(",")) for *_, d in index],
            }
        ),
    }
    out = tmp_path / "out"
    for app, app_lines in lines.items():
        _commit(out / app, app_lines)
    assert gate.check_mr_text(files, out, results) == []

    # One wrong count in one committed file fails wc, and the native
    # wordcount no longer matches it either.
    word, count = lines["wc"][0].split(" ")
    planted = [f"{word} {int(count) + 1}"] + lines["wc"][1:]
    (out / "wc" / "part-00000").write_text("\n".join(planted) + "\n", encoding="utf-8")
    assert gate.check_mr_text(files, out, results) == ["wc", "wordcount"]

    # A native result with one wrong posting list is caught on its own.
    _commit(out / "wc2", lines["wc"])
    (out / "wc").rename(out / "wc-planted")
    (out / "wc2").rename(out / "wc")
    wrong = results["inverted_index"].copy()
    wrong.loc[0, "docs"] = "pg-99.txt"
    assert gate.check_mr_text(files, out, {**results, "inverted_index": wrong}) == ["inverted_index"]

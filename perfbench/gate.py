"""Correctness gate, run after the timed window: every job's output is
compared with an independent computation of the same answer.

- ``mr_text``: the text files each generic ``map_reduce`` job committed last are
  compared, as sorted lines, with a sequential in-process run of the same
  map and reduce hooks (the reference's ``mrsequential`` plus sort-and-diff).
  The native ``wordcount``/``inverted_index`` plans must equal the generic
  wc/indexer outputs.
- ``dedup_index``: each query's rows, collected after the timed window,
  are compared with its registry oracle SQL run in DuckDB over the same
  files, after the canonicalisation the repository's oracle tests use.

Each check returns a list of failed job names; an empty list means correct.
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

import duckdb
import pandas as pd

from perfbench.workloads import MR_APPS
from tests.oracle_compare import canonical_rows


def _complain(job: str, message: str) -> None:
    print(f"perfbench: gate: {job}: {message}", file=sys.stderr)


def sequential_lines(app: str, files: dict[str, str]) -> list[str]:
    """Sorted ``"<key> <value>"`` output lines of one reference app run
    sequentially over ``files`` (filename -> contents)."""
    map_fn, reduce_fn, _strategy = MR_APPS[app]
    groups: dict[str, list[str]] = defaultdict(list)
    for filename, contents in files.items():
        for key, value in map_fn(filename, contents):
            groups[key].append(value)
    return sorted(f"{k} {reduce_fn(k, vs)}" for k, vs in groups.items())


def committed_lines(out_dir: Path) -> list[str]:
    """Sorted lines of every part file a text sink committed."""
    if not (out_dir / "_SUCCESS").exists():
        return []
    lines = []
    for part in sorted(out_dir.glob("part-*")):
        lines.extend(part.read_text(encoding="utf-8").splitlines())
    return sorted(lines)


def check_mr_text(files: list[str], out_dir: Path, results: dict[str, pd.DataFrame]) -> list[str]:
    """Failed jobs of ``mr_text``: generic apps whose committed text differs
    from the sequential run, native plans that differ from the generic apps."""
    # The hooks see each file under the URI Spark's whole-file scan reports.
    contents = {Path(f).resolve().as_uri(): Path(f).read_text(encoding="utf-8") for f in files}
    failed = []
    lines = {}
    for app in MR_APPS:
        lines[app] = committed_lines(out_dir / app)
        want = sequential_lines(app, contents)
        if lines[app] != want:
            _complain(app, f"{len(lines[app])} committed lines, {len(want)} expected")
            failed.append(app)

    wc = {k: int(v) for k, v in (line.split(" ", 1) for line in lines["wc"])}
    got = results.get("wordcount")
    if got is None or dict(zip(got["word"], got["cnt"])) != wc:
        _complain("wordcount", "differs from the generic wc output")
        failed.append("wordcount")
    index = {}
    for line in lines["indexer"]:
        word, n, uris = line.split(" ", 2)
        index[word] = (int(n), ",".join(u.rsplit("/", 1)[-1] for u in uris.split(",")))
    got = results.get("inverted_index")
    if got is None or dict(zip(got["word"], zip(got["doc_count"], got["docs"]))) != index:
        _complain("inverted_index", "differs from the generic indexer output")
        failed.append("inverted_index")
    return failed


def duckdb_connection(data_dir: Path, home: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per generated table. Extensions are never
    fetched, and DuckDB keeps its state under ``home``."""
    home.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect(
        config={
            "autoinstall_known_extensions": False,
            "extension_directory": str(home / "extensions"),
        }
    )
    con.execute(f"SET home_directory = '{home}'")
    for table in sorted(data_dir.glob("*.parquet")):
        con.sql(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')")
    return con


def rows_match(spark_pdf, duck_pdf) -> str | None:
    """None when the two results hold the same rows, else why not."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"{len(spark_pdf)} rows vs {len(duck_pdf)}"
    for i, (a, b) in enumerate(zip(canonical_rows(spark_pdf), canonical_rows(duck_pdf))):
        if a != b:
            return f"row {i}: {a} vs {b}"
    return None


def check_oracles(
    results: dict[str, pd.DataFrame], oracles: dict[str, str], con: duckdb.DuckDBPyConnection
) -> list[str]:
    """Failed jobs: those whose collected rows differ from their oracle's."""
    failed = []
    for name, oracle in oracles.items():
        got = results.get(name)
        why = "no result" if got is None else rows_match(got, con.sql(oracle).df())
        if why:
            _complain(name, why)
            failed.append(name)
    return failed

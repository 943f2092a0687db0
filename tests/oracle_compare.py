"""Order-insensitive result comparison mimicking the driver's correctness
gate: row count + schema (column names) + value comparison with columns
sorted by name and rows sorted canonically; and the sequential in-process
MapReduce the generic engine is diffed against (the reference's
mrsequential).
"""

from __future__ import annotations

import math
from datetime import date, datetime


def _canon_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Round so Spark-vs-DuckDB summation-order ULP noise cancels.
        r = round(v, 6)
        return f"{r + 0.0:.6f}"  # +0.0 normalizes -0.0
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(df_pandas) -> list[tuple]:
    cols = sorted(df_pandas.columns)
    if not len(df_pandas):
        return []
    # Per-column map + zip instead of iterrows (which builds a Series per
    # row — ~20× slower on wide 60k-row results).
    return sorted(zip(*[df_pandas[c].map(_canon_cell) for c in cols]))


def compare(spark_df, duck_rel, name: str = "query") -> None:
    sp = spark_df.toPandas()
    dk = duck_rel.df()
    assert sorted(sp.columns) == sorted(dk.columns), (
        f"{name}: column mismatch spark={sorted(sp.columns)} duck={sorted(dk.columns)}"
    )
    assert len(sp) == len(dk), f"{name}: row count spark={len(sp)} duck={len(dk)}"
    srows, drows = canonical_rows(sp), canonical_rows(dk)
    for i, (a, b) in enumerate(zip(srows, drows)):
        assert a == b, f"{name}: first differing row #{i}:\n  spark={a}\n  duck ={b}"


def sequential_map_reduce(docs, map_fn, reduce_fn) -> dict:
    """Run the two hooks in-process over ``[(filename, contents)]``: every
    key's values in emission order, one ``reduce_fn`` call per key."""
    from collections import defaultdict

    groups = defaultdict(list)
    for fname, contents in docs:
        for k, v in map_fn(fname, contents):
            groups[k].append(v)
    return {k: reduce_fn(k, vs) for k, vs in groups.items()}

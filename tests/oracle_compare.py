"""Order-insensitive result comparison mimicking the driver's correctness
gate: row count + schema (column names) + value comparison with columns
sorted by name and rows sorted canonically; and the sequential in-process
MapReduce the generic engine is diffed against (the reference's
mrsequential).
"""

from __future__ import annotations

import math
from datetime import date, datetime

from map_reduce_go_spark.sources.readers import TABLES


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


def duck_views(sf_dir: str, tables=TABLES):
    """A DuckDB connection with one view per fixture table of ``sf_dir``,
    named as the oracles read them."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _doubled_documents(docs):
    """``docs`` with every document appearing twice: the copy's doc_id is
    the original's + max(doc_id) + 1."""
    import pyarrow as pa
    import pyarrow.compute as pc

    i = docs.schema.get_field_index("doc_id")
    shift = pc.max(docs["doc_id"]).as_py() + 1
    copy = docs.set_column(i, docs.schema.field(i), pc.add(docs["doc_id"], shift))
    return pa.concat_tables([docs, copy])


def _hot_user_events(events):
    """``events`` with one hot user: every row whose index % 10 != 0
    takes row 0's user_id, so that user holds 90% of the rows."""
    import pyarrow as pa

    i = events.schema.get_field_index("user_id")
    users = events["user_id"].to_pylist()
    hot = [u if k % 10 == 0 else users[0] for k, u in enumerate(users)]
    field = events.schema.field(i)
    return events.set_column(i, field, pa.array(hot, field.type))


def compare_on_head_copies(
    spark,
    sf_dir: str,
    out_dir,
    name: str,
    tables,
    rows: int | None,
    dupes: bool = False,
    hotkey: bool = False,
) -> None:
    """Write pyarrow copies of ``tables`` from ``sf_dir`` under
    ``out_dir`` — the first ``rows`` rows of each (0: empty tables, 1:
    single rows, None: every row), with every document doubled when
    ``dupes`` and one user holding 90% of the events when ``hotkey`` —
    and compare query ``name`` with its DuckDB oracle over them."""
    import pyarrow.parquet as pq

    from map_reduce_go_spark.registry import all_queries

    for t in tables:
        table = pq.read_table(f"{sf_dir}/{t}.parquet")
        if rows is not None:
            table = table.slice(0, rows)
        if dupes and t == "documents":
            table = _doubled_documents(table)
        if hotkey and t == "events":
            table = _hot_user_events(table)
        pq.write_table(table, f"{out_dir}/{t}.parquet")
    con = duck_views(str(out_dir), tables)
    spec = all_queries()[name]
    try:
        compare(spec.fn(spark, str(out_dir)), con.sql(spec.oracle), name=name)
    finally:
        con.close()


def sequential_map_reduce(docs, map_fn, reduce_fn) -> dict:
    """Run the two hooks in-process over ``[(filename, contents)]``: every
    key's values in emission order, one ``reduce_fn`` call per key."""
    from collections import defaultdict

    groups = defaultdict(list)
    for fname, contents in docs:
        for k, v in map_fn(fname, contents):
            groups[k].append(v)
    return {k: reduce_fn(k, vs) for k, vs in groups.items()}

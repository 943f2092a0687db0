"""functions/hashing.py: the four notations of the portable md5 hash
(Column, Spark SQL text, DuckDB SQL text, Python) agree bit-for-bit."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.hashing import md5_int, md5_int_expr, md5_int_py, md5_int_sql

KEYS = ["", "wordcount", "é", "分布式"]
SLICES = [(1, 1), (8, 1), (8, 25), (13, 1), (15, 1)]


def _want(key: str, n: int, start: int) -> int:
    import hashlib

    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[start - 1 : start - 1 + n], 16)


@pytest.mark.parametrize("n,start", SLICES)
def test_four_notations_agree(spark, n, start):
    keys = spark.createDataFrame([(k,) for k in KEYS], "k string")
    rows = keys.select(
        "k", md5_int(F.col("k"), n, start).alias("col"), F.expr(md5_int_expr("k", n, start)).alias("expr")
    ).collect()
    got = {r["k"]: (r["col"], r["expr"]) for r in rows}
    con = duckdb.connect()
    for k in KEYS:
        want = _want(k, n, start)
        duck = con.execute(f"SELECT {md5_int_sql('k', n, start)} FROM (SELECT ? AS k)", [k]).fetchone()[0]
        assert got[k] == (want, want) and duck == want, (k, got[k], duck, want)
        if start == 1:
            assert md5_int_py(k, n) == want
    con.close()


def test_column_and_sql_text_resolve_to_the_same_expression(spark):
    df = spark.createDataFrame([("a",)], "k string")

    def resolved(col):
        return df.select(col.alias("h"))._jdf.queryExecution().analyzed().projectList().apply(0).child()

    for n, start in SLICES:
        a = resolved(md5_int(F.col("k"), n, start))
        b = resolved(F.expr(md5_int_expr("k", n, start)))
        assert a.semanticEquals(b), (a.toString(), b.toString())

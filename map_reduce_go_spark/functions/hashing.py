"""The portable hash contract, stated once for the engine, the DuckDB
oracle and Python workers.

The reference sends a key to its reducer by ``ihash(key) % nReduce``
(reference src/mr/worker.go:24-28). This engine's cross-engine hash is
the integer value of md5 hex digits ``[start, start + n)`` of the key's
UTF-8 bytes, 1-indexed. With ``n <= 15`` the value fits a signed BIGINT
on both engines, so every slice, sample draw, shard and bucket derived
from it replays bit-for-bit in the oracle. Salt, seed and ``% mod`` stay
with the caller; only the digit slice lives here.

Four notations of the same value:

- ``md5_int``: a Spark Column;
- ``md5_int_expr``: Spark SQL text, for ``F.expr`` and higher-order
  lambdas;
- ``md5_int_sql``: DuckDB SQL text, for oracles;
- ``md5_int_py``: a Python int, for Python workers and driver constants.

The engine side and the oracle side share no code: no SQL string is
built from a Column and no Column from SQL.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int(key: Column, n: int = 8, start: int = 1) -> Column:
    """Integer value of md5(key) hex digits [start, start + n) (Column)."""
    return F.conv(F.substring(F.md5(key), start, n), 16, 10).cast("long")


def md5_int_expr(key: str, n: int = 8, start: int = 1) -> str:
    """``md5_int`` as Spark SQL text over the SQL expression ``key``."""
    return f"CAST(conv(substring(md5({key}), {start}, {n}), 16, 10) AS BIGINT)"


def md5_int_sql(key: str, n: int = 8, start: int = 1) -> str:
    """``md5_int`` as DuckDB SQL text over the SQL expression ``key``."""
    return f"CAST('0x' || substring(md5({key}), {start}, {n}) AS BIGINT)"


def md5_int_py(s: str, n: int = 8) -> int:
    """``md5_int`` of the string ``s`` with ``start = 1``, in Python."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:n], 16)

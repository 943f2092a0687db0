"""Distributed global ranks and prefix sums — the one idiom behind every
"rank all N rows" need, without an ``Exchange SinglePartition``.

A bare ``Window.orderBy(...)`` plans as a single-partition exchange: every
row moves to ONE task, which is the last place a 100 TB plan is allowed to
funnel an unbounded-cardinality frame. :func:`dist_prefix` is the
distributed form:

1. ``repartitionByRange(range_parts(spark), *order)`` — range shuffle,
   globally ordered ACROSS partitions;
2. one ``groupBy(pid)`` aggregate collect — one row of per-partition
   totals per partition, metadata, never data — turned into broadcast
   offsets;
3. a running sum over a window partitioned by ``pid`` plus the offset of
   the row's partition — parallel.

A row number is the running count (:func:`dist_row_number`). The callers:
the mleval prefix sums (``auc_value_by_event_type``,
``decision_stump_doclen``, ``spearman_quantity_price``), the vocabulary
rank of ``zipf_tail_slope``, the sort rank of
``dedup_sorted_neighborhood``, and the row numbers behind
``equidepth_histogram_price_approx``, Lorenz/Gini, RFM and the customer
deciles (the last four tile them with :func:`ntile_from_rank`).

The ordering key must be a TOTAL order (include a unique tiebreak column):
``repartitionByRange`` may split equal keys across adjacent partitions, so
any tie that straddles a boundary would make local ranks non-deterministic.
With a unique composite key the result is bit-identical to the
single-partition window — same contract the oracles hash.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.caching import tracked_cache

#: Floor for the range-partition fan-out: enough to parallelize even when
#: the session's shuffle-partition conf is tiny (local test sessions),
#: small enough that the per-partition collect stays metadata.
RANK_PARTS_MIN = 8


def range_parts(spark) -> int:
    """The rank shuffle's fan-out: ``spark.sql.shuffle.partitions`` — the
    conf that sizes every other shuffle in the job — floored at
    RANK_PARTS_MIN. Results are identical at any fan-out (the offsets are
    exact metadata)."""
    return max(RANK_PARTS_MIN, int(spark.conf.get("spark.sql.shuffle.partitions", "8")))


def dist_prefix(
    df: DataFrame, order_by: list[Column], sums: Mapping[str, Column]
) -> tuple[DataFrame, dict[str, int]]:
    """(df + one inclusive running total per ``sums`` entry, the totals).

    Each output column ``name`` is ``sum(expr)`` over the rows up to and
    including the current one in ``order_by`` order, as a long;
    ``order_by`` must totally order ``df`` (see module docstring). The
    totals are driver-side metadata (the offset collect already paid for
    them), so a caller needing ``n`` embeds it as a literal instead of
    planning a ``count() OVER ()`` — itself a single-partition window."""
    spark = df.sparkSession
    ranged = tracked_cache(
        df.repartitionByRange(range_parts(spark), *order_by).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    names = list(sums)
    per_pid = ranged.groupBy("pid").agg(*[F.sum(c).alias(n) for n, c in sums.items()])
    offsets, acc = [], [0] * len(names)
    for r in sorted(per_pid.collect(), key=lambda r: r["pid"]):
        offsets.append((r["pid"], *acc))
        acc = [a + (r[n] or 0) for a, n in zip(acc, names)]
    offs = [f"off{j}" for j in range(len(names))]
    schema = ", ".join(["pid int", *(f"{o} long" for o in offs)])
    off = spark.createDataFrame(offsets or [(0, *acc)], schema)
    w = (
        Window.partitionBy("pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged.join(F.broadcast(off), "pid")
    for (n, c), o in zip(sums.items(), offs):
        out = out.withColumn(n, (F.sum(c).over(w) + F.col(o)).cast("long"))
    return out.drop("pid", *offs), dict(zip(names, acc))


def dist_row_number(
    df: DataFrame, order_by: list[Column], out: str = "i"
) -> tuple[DataFrame, int]:
    """(df + global 1-based ``out`` row number, total row count): the
    running count of :func:`dist_prefix`."""
    ranked, totals = dist_prefix(df, order_by, {out: F.lit(1)})
    return ranked, totals[out]


def ntile_from_rank(i: Column, n: int, k: int) -> Column:
    """SQL ``ntile(k)`` reconstructed from a global 1-based rank ``i``
    over ``n`` rows — integer-exact, identical to Spark's and DuckDB's
    ntile: the first ``n % k`` tiles hold ``n // k + 1`` rows, the rest
    ``n // k``. Lets the RFM-style quintile scoring ride the distributed
    rank instead of a single-partition ntile window."""
    if n <= 0:
        return F.lit(None).cast("int")
    q, r = divmod(n, k)
    # Tile boundaries as Python-int literals (k-1 of them — metadata):
    # tile = 1 + #{boundaries below i}. Pure integer comparisons, no
    # division in the plan at all, so there is nothing to misround.
    bounds = []
    acc = 0
    for j in range(1, k):
        acc += (q + 1) if j <= r else q
        bounds.append(acc)
    tile: Column = F.lit(1)
    for b in bounds:
        tile = tile + F.when(i > b, 1).otherwise(0)
    return tile.cast("int")

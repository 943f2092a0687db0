"""The generic two-hook MapReduce API — the reference's actual user contract.

The reference exposes exactly two user hooks loaded from a Go plugin
(reference src/mr/worker.go:38):

    Map(filename string, contents string) []KeyValue   # a flatMap/UDTF
    Reduce(key string, values []string) string         # a UDAF over a group

re-expressed here as :func:`map_reduce`, with everything the reference
hand-rolls — hash partitioning (src/mr/worker.go:24-28), shuffle files
(src/mr/worker.go:82-99), sort/group (src/mr/worker.go:136-156), barriers,
retries, atomic commit — delegated to Spark's shuffle, DAG scheduler, and
output committer.

Two execution strategies:

- ``strategy="rdd"``: ``flatMap -> groupByKey(n_reduce) -> map(reduce_fn)``.
  A literal realization of the reference dataflow. Each key's values are
  materialized on one executor, exactly like a reference reduce task
  (src/mr/worker.go:113-134) — same per-key memory bound, so the same
  caveat applies at 100 TB: fine for bounded values-per-key, wrong for
  giant hot keys.
- ``strategy="pandas"``: the reference's reduce task over Arrow batches.
  ``mapInPandas`` maps; the (key, value) rows are hash-partitioned into
  ``n_reduce`` partitions, sorted by key within each, and one
  ``mapInPandas`` pass per partition walks runs of equal keys, calling
  ``reduce_fn`` once per run (src/mr/worker.go:136-156). A run may span
  Arrow batches; only the current key's values are held in Python, the
  same per-key memory bound as ``rdd``. A hot key still lands in one
  reduce task: AQE splits skew only in joins and rebalances. Data moves
  Python-side in columnar batches instead of pickled rows.

Prefer the native DataFrame queries in :mod:`.mrapps` whenever semantics
allow; this module exists for arbitrary user hooks.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from itertools import groupby
from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

MapFn = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

KV_SCHEMA = StructType(
    [StructField("key", StringType(), False), StructField("value", StringType(), True)]
)


def _as_corpus(spark: SparkSession, inputs) -> DataFrame:
    from map_reduce_go_spark.sources.readers import read_wholetext

    if isinstance(inputs, DataFrame):
        return inputs.select("filename", "contents")
    return read_wholetext(spark, inputs)


def map_reduce(
    spark: SparkSession,
    inputs: DataFrame | list[str] | str,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    n_reduce: int = 10,
    strategy: str = "pandas",
) -> DataFrame:
    """Run a full MapReduce job; returns DataFrame(key string, value string).

    ``inputs``: file path(s) for whole-file text scan, or a
    DataFrame(filename, contents). ``n_reduce`` mirrors the reference's
    reduce-bucket count (nReduce=10, reference src/main/mrcoordinator.go:23);
    it sets shuffle partitioning, not output semantics.
    """
    corpus = _as_corpus(spark, inputs)
    if strategy == "rdd":
        reduced = (
            corpus.rdd.flatMap(lambda row: map_fn(row[0], row[1]))
            .groupByKey(numPartitions=n_reduce)
            .map(lambda kv: (kv[0], reduce_fn(kv[0], list(kv[1]))))
        )
        return spark.createDataFrame(reduced, KV_SCHEMA)
    if strategy == "pandas":
        import pandas as pd

        def map_partition(batches):
            for pdf in batches:
                out_k, out_v = [], []
                for fname, contents in zip(pdf["filename"], pdf["contents"]):
                    for k, v in map_fn(fname, contents):
                        out_k.append(k)
                        out_v.append(v)
                yield pd.DataFrame({"key": out_k, "value": out_v})

        def reduce_partition(batches):
            # Rows arrive sorted by key; a run of one key may continue in
            # the next batch, so the open run is carried across batches.
            run_key, run_values = None, []
            for pdf in batches:
                out_k, out_v = [], []
                for key, pairs in groupby(zip(pdf["key"], pdf["value"]), itemgetter(0)):
                    if run_values and key != run_key:
                        out_k.append(run_key)
                        out_v.append(reduce_fn(run_key, run_values))
                        run_values = []
                    run_key = key
                    run_values.extend(v for _, v in pairs)
                yield pd.DataFrame({"key": out_k, "value": out_v})
            if run_values:
                yield pd.DataFrame(
                    {"key": [run_key], "value": [reduce_fn(run_key, run_values)]}
                )

        kv = corpus.mapInPandas(map_partition, schema=KV_SCHEMA)
        return (
            kv.repartition(n_reduce, "key")
            .sortWithinPartitions("key")
            .mapInPandas(reduce_partition, schema=KV_SCHEMA)
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def write_text_kv(df: DataFrame, path: str, n_partitions: int | None = None) -> None:
    """Text sink: one ``"<key> <value>"`` line per row, reference output
    format (src/mr/worker.go:161). ``n_partitions`` mirrors nReduce file
    layout (mr-out-0..N-1); Spark's FileOutputCommitter provides the
    atomic-rename commit the reference hand-rolls (src/mr/worker.go:99,165).
    """
    # Partition by KEY, mirroring the reference's ihash(key) % nReduce
    # file assignment (src/mr/worker.go:75): all lines for one key land in
    # one mr-out-N file. Partitioning by the concatenated line would split
    # a key across files whenever values differ.
    if n_partitions is not None:
        df = df.repartition(n_partitions, F.col("key"))
    out = df.select(F.concat_ws(" ", F.col("key"), F.col("value")).alias("value"))
    out.write.mode("overwrite").text(path)


# --- The reference's 7 app hooks, as Python map/reduce pairs -------------
# Used by conformance tests to diff the generic engine against the native
# DataFrame fast paths (mirrors the reference's sequential-vs-distributed
# comparison, src/main/test-mr.sh:78-144).

import re

_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)  # runs of letters, = \p{L}+


def wc_map(filename: str, contents: str):
    """wc: emit (word, "1") per occurrence (reference src/mrapps/wc.go:19-32)."""
    return [(w, "1") for w in _WORD_RE.findall(contents)]


def wc_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


def indexer_map(filename: str, contents: str):
    """indexer: distinct words per doc (reference src/mrapps/indexer.go:20-31)."""
    return [(w, filename) for w in sorted(set(_WORD_RE.findall(contents)))]


def indexer_reduce(key: str, values: list[str]) -> str:
    docs = sorted(set(values))
    return f"{len(docs)} {','.join(docs)}"


def early_exit_map(filename: str, contents: str):
    return [(filename, "1")]


def early_exit_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


def crash_map(filename: str, contents: str):
    """crash/nocrash dataflow (reference src/mrapps/crash.go:34-43), minus
    the fault injection (Spark task retry is tested separately)."""
    return [
        ("a", filename),
        ("b", str(len(filename))),
        ("c", str(len(contents))),
        ("d", "xyzzy"),
    ]


def crash_reduce(key: str, values: list[str]) -> str:
    return " ".join(sorted(values))

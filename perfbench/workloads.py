"""What each benchmark workload runs: its jobs, how each job's DataFrame is
built and sunk, and which module of ``map_reduce_go_spark`` (the layer)
owns the build.

A job is one user-visible unit of work: a registered query or a generic
``map_reduce`` app, built by a callable and materialised by a sink. The
benchmark times the two halves separately, so ``build`` must return the
lazy DataFrame and ``sink`` must run the action. Registered queries are
sunk to Spark's ``noop`` format, which runs the whole plan and discards the
rows, so the timed action holds no driver-side collect; the correctness
gate collects their rows once more, after the timed window. The generic
apps are sunk to text files by the reference's text sink, and the gate
reads those files.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from map_reduce_go_spark.operators import mapreduce as mr
from map_reduce_go_spark.registry import QuerySpec

#: Build-heavy operators with an iterative job chain, eager pre-jobs,
#: k-means training and the functions.caching memos. Each runs cold, then
#: warm. dedup_minhash_lsh, setsim_prefix_filter_join and semdedup_prune are
#: left out to fit the run-time budget: the first two keep no memo, and LSH
#: candidates and IVF centroid training also run inside the two kept jobs.
DEDUP_QUERIES = ("dedup_clusters", "ann_ivf_cosine")

#: Catalyst relational plans over the star schema, no Python UDF and no
#: memo: a scan-and-aggregate over the line items and a six-way join.
PLANS_QUERIES = ("q1_pricing_summary", "q5_region_revenue")

#: The reference's apps through the generic two-hook engine:
#: name -> (map hook, reduce hook, strategy).
MR_APPS = {
    "wc": (mr.wc_map, mr.wc_reduce, "pandas"),
    "indexer": (mr.indexer_map, mr.indexer_reduce, "pandas"),
    "crash": (mr.crash_map, mr.crash_reduce, "pandas"),
    "wc_rdd": (mr.wc_map, mr.wc_reduce, "rdd"),
}

#: Native DataFrame forms of wc and indexer, over the same corpus.
MR_NATIVE = ("wordcount", "inverted_index")

#: Reduce buckets and output files, as the reference's nReduce.
N_REDUCE = 10


@dataclass(frozen=True)
class Job:
    name: str
    layer: str
    build: Callable[[SparkSession], DataFrame]
    #: Runs the action.
    sink: Callable[[DataFrame], None]
    #: True when the sink is the reference's text sink (write_text_kv).
    writes_text: bool = False
    #: True when each cold execution is followed by a warm one, which keeps
    #: the functions.caching memos the cold one built.
    warm: bool = False


def noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_of(fn: Callable) -> str:
    """The layer that owns a query: its module, with every ``plans.*``
    module folded into one ``plans`` layer."""
    module = fn.__module__.removeprefix("map_reduce_go_spark.")
    return "plans" if module.startswith("plans.") else module


def _query_job(spec: QuerySpec, data_dir: Path, warm: bool = False) -> Job:
    return Job(
        name=spec.name,
        layer=layer_of(spec.fn),
        build=lambda spark: spec.fn(spark, str(data_dir)),
        sink=noop_sink,
        warm=warm,
    )


def _mr_job(name: str, files: list[str], out_dir: Path) -> Job:
    map_fn, reduce_fn, strategy = MR_APPS[name]

    def build(spark: SparkSession) -> DataFrame:
        return mr.map_reduce(spark, files, map_fn, reduce_fn, N_REDUCE, strategy)

    def sink(df: DataFrame) -> None:
        mr.write_text_kv(df, str(out_dir / name), n_partitions=N_REDUCE)

    return Job(name, "operators.mapreduce", build, sink, writes_text=True)


def text_files(data_dir: Path) -> list[str]:
    return sorted(str(p) for p in (data_dir / "text").glob("*.txt"))


def jobs_for(
    workload: str, data_dir: Path, out_dir: Path, specs: dict[str, QuerySpec]
) -> list[Job]:
    """The workload's jobs, in the order one pass runs them."""
    if workload == "mr_text":
        files = text_files(data_dir)
        return [_mr_job(name, files, out_dir) for name in MR_APPS] + [
            _query_job(specs[name], data_dir) for name in MR_NATIVE
        ]
    if workload == "dedup_index":
        return [_query_job(specs[name], data_dir, warm=True) for name in DEDUP_QUERIES] + [
            _query_job(specs[name], data_dir) for name in PLANS_QUERIES
        ]
    raise ValueError(f"unknown workload {workload!r}")

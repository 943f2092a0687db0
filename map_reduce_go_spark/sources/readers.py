"""Sources: parquet star-schema tables and whole-file text corpora.

The reference engine's only source is a whole-file UTF-8 text scan — one
map call per file with ``(filename, contents)`` (reference
src/mr/worker.go:59-71). :func:`read_wholetext` reproduces that contract
with Spark's ``text`` source in ``wholetext`` mode so the scan stays a
distributed, splittable-by-file parquet-grade source rather than a
driver-side read loop.

The driver fixtures (TESTDATA.md) are parquet; :func:`load_table` is the
single choke point for reading them so projection/predicate pushdown can be
verified in one place (``.explain`` shows ReadSchema/PushedFilters on these
scans). It takes each table's schema from the Parquet footer, read on the
driver with pyarrow, so a read starts no Spark job; ``events`` is the one
table whose schema Spark still infers (its timestamp shim needs the
inferred type).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from map_reduce_go_spark.functions.caching import fixture_stamp

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor — at
#: TPC-H-like scaling, region=5 and nation=25 rows always; customer/supplier
#: /part grow with SF but stay orders of magnitude below the fact tables.
BROADCAST_DIMS = ("region", "nation")


def _maps_like_spark(t) -> bool:
    """True for the Arrow types whose PySpark mapping is also the type
    Spark's Parquet reader infers for the column the type came from."""
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_dictionary(t):
        return _maps_like_spark(t.value_type)
    if pa.types.is_map(t):
        return _maps_like_spark(t.key_type) and _maps_like_spark(t.item_type)
    if pa.types.is_struct(t):
        return all(_maps_like_spark(f.type) for f in t)
    if pa.types.is_timestamp(t):  # ns: INT96 or NANOS, read differently
        return t.unit in ("ms", "us")
    return (
        pa.types.is_signed_integer(t)
        or pa.types.is_float32(t)
        or pa.types.is_float64(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_date32(t)
        or pa.types.is_decimal128(t)
    )


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark would infer for a single Parquet file, read from
    its footer on the driver, or None where the two could differ.

    ``spark.read.parquet(path)`` infers the schema with a one-task Spark
    job (~90 ms); the footer holds the same facts. Timestamps without a
    time zone map to TIMESTAMP_NTZ exactly when Spark's own inference
    would (``spark.sql.parquet.inferTimestampNTZ.enabled``). Directory
    datasets (partition columns), types outside :func:`_maps_like_spark`
    and sessions with ``spark.sql.parquet.binaryAsString`` set (inference
    then reads unannotated binary as string) return None.
    """
    if not os.path.isfile(path):
        return None
    if spark.conf.get("spark.sql.parquet.binaryAsString", "false") == "true":
        return None
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pq.read_schema(path)
    if not all(_maps_like_spark(f.type) for f in arrow):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Column pruning + filter pushdown reach this
    scan automatically because every query keeps the plan declarative.

    The schema comes from the Parquet footer (:func:`_footer_schema`), so
    the read starts no Spark job; ``events`` and any table the footer
    cannot describe exactly fall back to Spark's inference job."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Fixture-drift compatibility shim. The driver has regenerated
        # events.parquet with different ts physical types across rounds
        # (TIMESTAMP(NANOS) through round 2, plain timestamp[us]
        # isAdjustedToUTC=false — i.e. TIMESTAMP_NTZ — since round 3), so
        # normalize every known encoding to a plain session-tz TIMESTAMP
        # here, the single read choke point:
        #   - NANOS: nanosAsLong surfaces bigint nanos (vanilla Spark can't
        #     read NANOS at all); truncate to micros — the same truncation
        #     DuckDB applies, so engine and oracle agree.
        #   - TIMESTAMP_NTZ: cast to TIMESTAMP. The session timezone is
        #     pinned UTC (session.py), so the wall-clock fields are
        #     preserved bit-for-bit and epoch extraction matches DuckDB's.
        # The conf is set here (not only in get_spark) because the round
        # driver hands us its own session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


_NUM_ROWS_CACHE: dict[tuple, int] = {}


def table_num_rows(sf_dir: str, name: str) -> int:
    """Fixture row count straight from the parquet footer — no Spark job.

    Index-build sizing steps (e.g. the block-grid derivation in
    dedup_embedding_cosine) need only a cardinality, and parquet already
    carries it as metadata; ``df.count()`` would re-scan the table per
    invocation (VERDICT r4 nit #2). Memoized per resolved path and newest
    mtime (:func:`fixture_stamp`, the stamp ``fixture_key`` uses), so a
    table regenerated at the same path is counted again. Works for single
    files and directory datasets alike via pyarrow.dataset.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (name, *fixture_stamp(sf_dir, name))
    if key not in _NUM_ROWS_CACHE:
        import pyarrow.dataset as ds

        _NUM_ROWS_CACHE[key] = ds.dataset(path, format="parquet").count_rows()
    return _NUM_ROWS_CACHE[key]


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's parallelism — only when
    the scan yields fewer partitions than cores.

    CPU-bound per-row pipelines (interpreted HOF lambdas, Pandas UDFs) are
    throughput-limited by scan splits, not data volume: a compact parquet
    file scans as ONE split (files.maxPartitionBytes) and serializes the
    whole build onto a single core — measured 9s -> sub-second on the
    sf0.1 shingle build. At cluster scale inputs already split into far
    more partitions than cores and this is a no-op (the guard avoids an
    always-on shuffle of raw text).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_wholetext(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Whole-file text scan -> DataFrame(filename string, contents string).

    Mirrors the reference map-task input contract (one record per file,
    entire contents as one string — reference src/mr/worker.go:59-71) while
    remaining fully distributed. A file is never split, but it is not one
    partition either, as a reference map task is (src/mr/coordinator.go:146-150):
    Spark packs small files into one input partition up to
    ``spark.sql.files.maxPartitionBytes``, counting
    ``spark.sql.files.openCostInBytes`` per file, so 16 small files can
    scan as 4 map tasks.
    """
    df = spark.read.format("text").option("wholetext", "true").load(paths)
    return df.select(
        F.input_file_name().alias("filename"),
        F.col("value").alias("contents"),
    )


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver ``documents`` table viewed as a whole-file corpus:
    ``source`` plays filename, ``text`` plays contents (FIXTURES.md A)."""
    return load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("filename"),
        F.col("text").alias("contents"),
        F.col("doc_id"),
    )


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every fixture table as a temp view so callers can use
    ``spark.sql(...)`` directly — the SQL entry point of the engine (the
    same table names the DuckDB oracle sees, so any oracle SQL string in
    the registry also runs verbatim on Spark)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run an ANSI SQL query against the fixture tables (views registered
    on demand). Catalyst gets the same declarative plan a DataFrame
    formulation would produce."""
    register_views(spark, sf_dir)
    return spark.sql(query)

"""Source/sink roundtrips and scan-contract assertions: every format
written by the engine reads back value-identical, partitioned parquet
prunes partitions at scan, and the generic engine's n_reduce=1 run equals
the distributed run (the reference's sequential-oracle comparison,
src/main/mrsequential.go — SURVEY.md §3.2).
"""

from pyspark.sql import functions as F

from map_reduce_go_spark.operators import mapreduce as mr
from map_reduce_go_spark.sources import sinks
from map_reduce_go_spark.sources.readers import corpus_from_documents, load_table


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_parquet_partitioned_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_by_status")
    orders = load_table(spark, sf_dir, "orders")
    sinks.write_parquet(orders, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out)
    assert _rows(back, ["o_orderkey", "o_orderstatus"]) == _rows(
        orders, ["o_orderkey", "o_orderstatus"]
    )
    # Partition pruning: a filter on the partition column must appear as a
    # PartitionFilter, not a post-scan filter.
    plan = (
        back.where(F.col("o_orderstatus") == "F")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "nation_csv")
    nation = load_table(spark, sf_dir, "nation")
    sinks.write_csv(nation, out)
    back = sinks.read_csv(spark, out, "n_nationkey INT, n_name STRING, n_regionkey INT")
    assert _rows(back, ["n_nationkey", "n_name", "n_regionkey"]) == _rows(
        nation, ["n_nationkey", "n_name", "n_regionkey"]
    )


def test_json_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "region_json")
    region = load_table(spark, sf_dir, "region")
    sinks.write_json(region, out)
    back = sinks.read_json(spark, out, "r_regionkey INT, r_name STRING")
    assert _rows(back, ["r_regionkey", "r_name"]) == _rows(
        region, ["r_regionkey", "r_name"]
    )


def test_sequential_oracle_conformance(spark, sf_dir):
    """n_reduce=1 (the mrsequential analog: everything in one partition)
    must produce exactly the distributed n_reduce=10 result."""
    corpus = corpus_from_documents(spark, sf_dir)
    seq = mr.map_reduce(spark, corpus, mr.wc_map, mr.wc_reduce, n_reduce=1)
    dist = mr.map_reduce(spark, corpus, mr.wc_map, mr.wc_reduce, n_reduce=10)
    assert _rows(seq, ["key", "value"]) == _rows(dist, ["key", "value"])


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "nation_orc")
    nation = load_table(spark, sf_dir, "nation")
    sinks.write_orc(nation, out)
    back = sinks.read_orc(spark, out)
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    assert _rows(back, cols) == _rows(nation, cols)


def test_sql_entry_point_matches_dataframe(spark, sf_dir):
    """spark.sql over the registered views must equal the DataFrame
    formulation of the same query (shared Catalyst plan space)."""
    from map_reduce_go_spark.registry import all_queries
    from map_reduce_go_spark.sources.readers import sql

    df_result = {
        tuple(r)
        for r in all_queries()["q6_forecast_revenue"].fn(spark, sf_dir).collect()
    }
    sql_result = {
        tuple(r)
        for r in sql(
            spark,
            sf_dir,
            """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,6)))
                      AS DOUBLE) AS revenue,
                      count(*) AS n_items
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l_shipdate < TIMESTAMP '1997-01-01'
                 AND l_discount BETWEEN 0.03 AND 0.07
                 AND l_quantity < 24""",
        ).collect()
    }
    assert df_result == sql_result


def test_fixture_temporal_dtypes_normalized(spark):
    """Fixture-drift guard. The driver has regenerated the parquet fixtures
    with different temporal physical types across rounds (events.ts:
    TIMESTAMP(NANOS) -> timestamp[us]/NTZ); load_table normalizes every
    known encoding. If this test fails, the fixtures drifted AGAIN — extend
    the shim in sources/readers.py:load_table rather than chasing opaque
    AnalysisExceptions in the window/as-of queries."""
    import os

    sf_dirs = [
        d.path
        for d in os.scandir("/root/testdata")
        if d.is_dir() and d.name.startswith("sf")
    ]
    assert sf_dirs, "no /root/testdata/sf* fixture dirs found"
    for sf in sf_dirs:
        dtypes = dict(load_table(spark, sf, "events").dtypes)
        assert dtypes["ts"] == "timestamp", (
            f"{sf}/events.parquet: ts surfaced as {dtypes['ts']!r}, expected "
            "'timestamp' — fixture schema drifted; update load_table's shim"
        )
        # lineitem/orders dates are timestamp[us]/NTZ today and every query
        # handles NTZ (comparisons + unix_timestamp, never .cast("long")) —
        # guard against drift to something temporal-unreadable (e.g. the
        # round-2 NANOS-as-bigint encoding).
        ok = ("date", "timestamp", "timestamp_ntz")
        li = dict(load_table(spark, sf, "lineitem").dtypes)
        assert li["l_shipdate"] in ok, f"{sf}/lineitem l_shipdate: {li['l_shipdate']} — fixture drifted"
        od = dict(load_table(spark, sf, "orders").dtypes)
        assert od["o_orderdate"] in ok, f"{sf}/orders o_orderdate: {od['o_orderdate']}"


def test_json_malformed_records_permissive_and_failfast(spark, tmp_path):
    """Operational contract for dirty inputs: PERMISSIVE captures bad rows
    in _corrupt_record (pipeline continues), FAILFAST raises."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = tmp_path / "dirty.jsonl"
    p.write_text('{"id": 1, "v": "ok"}\n{"id": broken\n{"id": 3, "v": "fine"}\n')
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("v", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    ).cache()
    assert df.count() == 3
    assert df.where(F.col("_corrupt_record").isNotNull()).count() == 1
    assert df.where(F.col("id").isNotNull()).count() == 2
    df.unpersist()

    strict = spark.read.schema(schema).option("mode", "FAILFAST").json(str(p))
    with pytest.raises(Exception, match="FAILFAST|Malformed|malformed"):
        strict.count()


def test_range_partitioned_global_sort_export(spark, sf_dir, tmp_path):
    """The curriculum-export pattern: repartitionByRange + sortWithin
    Partitions gives a GLOBALLY ordered multi-file dataset (every row in
    file i sorts before every row in file i+1, rows within a file sorted)
    without a single-partition global sort — the way you write a corpus
    in quality/length order at 100 TB."""
    import glob

    out = str(tmp_path / "by_len")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    (
        docs.repartitionByRange(8, F.col("n_chars"), F.col("doc_id"))
        .sortWithinPartitions("n_chars", "doc_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) > 1
    prev_max = None
    total = 0
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        if len(pdf) == 0:
            continue
        total += len(pdf)
        keys = list(zip(pdf["n_chars"], pdf["doc_id"]))
        assert keys == sorted(keys), f"{f} not internally sorted"
        if prev_max is not None:
            assert keys[0] >= prev_max, f"{f} overlaps previous file's range"
        prev_max = keys[-1]
    assert total == docs.count()


def test_binaryfile_source_reads_blobs(spark, tmp_path):
    """The binaryFile source — the scan multimodal ingestion starts from
    (operators/multimodal.py consumes exactly this shape): whole files as
    (path, modificationTime, length, content) rows, with pathGlobFilter
    pruning non-matching modalities at the listing, before any read."""
    blobs = {"a.jpg": b"\xff\xd8JPEGDATA", "b.jpg": b"\xff\xd8MORE", "skip.txt": b"nope"}
    for name, payload in blobs.items():
        (tmp_path / name).write_bytes(payload)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(str(tmp_path))
    )
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.jpg", "b.jpg"}
    for name, r in rows.items():
        assert bytes(r.content) == blobs[name]
        assert r.length == len(blobs[name])


def test_observation_metrics_ride_the_action(spark, sf_dir):
    """DataFrame.observe(): pipeline health metrics (row counts, null
    counts, value bounds) collected as a side effect of the SAME action
    that does the work — at 100 TB this is how a publish job reports its
    own DQ stats without a second scan. The observed values must match a
    direct aggregate."""
    from pyspark.sql import Observation

    obs = Observation("dq")
    docs = load_table(spark, sf_dir, "documents")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_chars").isNull().cast("int")).alias("null_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").isNull().cast("int")).alias("nn"),
        F.max("n_chars").alias("mx"),
    ).first()
    assert got["n_rows"] == want["n"]
    assert (got["null_chars"] or 0) == (want["nn"] or 0)
    assert got["max_chars"] == want["mx"]


def test_load_table_footer_schema_matches_inference(spark, sf_dir):
    """load_table takes each table's schema from the Parquet footer; it must
    be exactly the schema Spark's own inference job gives (types, names
    and nullability), or the scan reads a different table. ``events``
    still goes through inference and its timestamp shim."""
    from map_reduce_go_spark.sources.readers import TABLES

    for name in TABLES:
        if name == "events":
            continue
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert load_table(spark, sf_dir, name).schema == inferred, name


def test_load_table_keeps_inference_where_the_footer_could_differ(spark, tmp_path):
    """Unsigned integers (no PySpark mapping from Arrow) and a partitioned
    directory (partition columns are not in any footer) still read with
    Spark's inferred schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"r_regionkey": pa.array([1, 2], pa.uint32()), "r_name": ["a", "b"]}),
        tmp_path / "region.parquet",
    )
    nation = spark.createDataFrame(
        [(1, "x", 3)], "n_nationkey int, n_name string, n_regionkey int"
    )
    nation.write.partitionBy("n_regionkey").parquet(str(tmp_path / "nation.parquet"))
    for name in ("region", "nation"):
        inferred = spark.read.parquet(str(tmp_path / f"{name}.parquet")).schema
        assert load_table(spark, str(tmp_path), name).schema == inferred, name


def test_load_table_follows_binary_as_string(spark, tmp_path):
    """With ``spark.sql.parquet.binaryAsString`` set, inference reads a
    binary column without a string annotation as string; load_table must
    give the same schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"r_regionkey": [1, 2], "r_name": pa.array([b"a", b"b"], pa.binary())}),
        tmp_path / "region.parquet",
    )
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        inferred = spark.read.parquet(str(tmp_path / "region.parquet")).schema
        assert dict((f.name, f.dataType.simpleString()) for f in inferred)["r_name"] == "string"
        assert load_table(spark, str(tmp_path), "region").schema == inferred
    finally:
        spark.conf.set(key, before)
    assert load_table(spark, str(tmp_path), "region").schema == (
        spark.read.parquet(str(tmp_path / "region.parquet")).schema
    )


def test_load_table_starts_no_spark_job(spark, sf_dir):
    """The footer read replaces Spark's one-task schema-inference job."""
    from map_reduce_go_spark.sources.readers import TABLES

    sc = spark.sparkContext
    group = "test_load_table_starts_no_spark_job"
    sc.setJobGroup(group, "load_table job count")
    try:
        for name in TABLES:
            if name != "events":
                load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_table_num_rows_sees_in_session_regeneration(tmp_path):
    """The row-count memo is keyed by the table's mtime as well as its path,
    so a table rewritten at the same path is counted again."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_go_spark.sources.readers import table_num_rows

    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"o_orderkey": list(range(5))}), path)
    assert table_num_rows(str(tmp_path), "orders") == 5
    before = os.stat(path).st_mtime_ns
    pq.write_table(pa.table({"o_orderkey": list(range(8))}), path)
    # A coarse filesystem clock can give two quick writes the same mtime;
    # set a later one explicitly, as a regeneration seconds later would.
    os.utime(path, ns=(before + 10**9, before + 10**9))
    assert table_num_rows(str(tmp_path), "orders") == 8

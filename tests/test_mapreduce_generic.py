"""Conformance tests for the generic map_reduce() engine: diff it against
the native DataFrame fast paths (mirrors the reference's
sequential-vs-distributed golden compare, src/main/test-mr.sh:78-144), plus
scheduler-behavior assertions replacing the reference's probe apps (A3-A5,
A7 — SURVEY.md §5).
"""

import os

import pytest

from map_reduce_go_spark.operators import mapreduce as mr
from map_reduce_go_spark.operators.mrapps import inverted_index, wordcount
from map_reduce_go_spark.sources.readers import corpus_from_documents
from tests.oracle_compare import sequential_map_reduce


def kv_dict(df):
    return {r["key"]: r["value"] for r in df.collect()}


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return corpus_from_documents(spark, sf_dir).cache()


@pytest.mark.parametrize("strategy", ["rdd", "pandas"])
def test_generic_wordcount_matches_native(spark, sf_dir, corpus, strategy):
    generic = kv_dict(
        mr.map_reduce(spark, corpus, mr.wc_map, mr.wc_reduce, strategy=strategy)
    )
    native = {
        r["word"]: str(r["cnt"]) for r in wordcount(spark, sf_dir).collect()
    }
    assert generic == native


@pytest.mark.parametrize("strategy", ["rdd", "pandas"])
def test_generic_indexer_matches_native(spark, sf_dir, corpus, strategy):
    generic = kv_dict(
        mr.map_reduce(spark, corpus, mr.indexer_map, mr.indexer_reduce, strategy=strategy)
    )
    native = {
        r["word"]: f"{r['doc_count']} {r['docs']}"
        for r in inverted_index(spark, sf_dir).collect()
    }
    assert generic == native


def test_generic_crash_dataflow(spark, corpus):
    """A7 dataflow through the generic engine: 4 keys, sorted joined values."""
    out = kv_dict(mr.map_reduce(spark, corpus, mr.crash_map, mr.crash_reduce))
    assert set(out) == {"a", "b", "c", "d"}
    n_docs = corpus.count()
    assert out["d"] == " ".join(["xyzzy"] * n_docs)
    assert out["a"].split(" ") == sorted(out["a"].split(" "))


def _run_both(spark, docs, map_fn, reduce_fn, strategy):
    """(engine rows, sequential in-process result) for the same hooks."""
    corpus = spark.createDataFrame(docs, "filename string, contents string")
    rows = mr.map_reduce(spark, corpus, map_fn, reduce_fn, n_reduce=3, strategy=strategy)
    return rows.collect(), sequential_map_reduce(docs, map_fn, reduce_fn)


@pytest.mark.parametrize("strategy", ["rdd", "pandas"])
def test_null_values_reach_reduce(spark, strategy):
    """A NULL value is a value: reduce_fn sees it, as the reference's
    reduce sees every emitted pair."""
    docs = [("d0", "ant bee ant cat"), ("d1", "bee ant"), ("d2", "cat")]

    def null_map(filename, contents):
        return [(w, None if i % 2 else filename) for i, w in enumerate(contents.split())]

    def null_reduce(key, values):
        return f"{sum(v is None for v in values)}/{len(values)}"

    rows, want = _run_both(spark, docs, null_map, null_reduce, strategy)
    assert {r["key"]: r["value"] for r in rows} == want
    assert want["ant"] == "1/3"


@pytest.mark.parametrize("strategy", ["rdd", "pandas"])
def test_empty_corpus_gives_no_rows(spark, strategy):
    rows, want = _run_both(spark, [], mr.wc_map, mr.wc_reduce, strategy)
    assert rows == [] and want == {}


@pytest.mark.parametrize("strategy", ["rdd", "pandas"])
def test_key_spanning_arrow_batches_reduced_once(spark, strategy):
    """With 7-row Arrow batches the hot key's 200 values span ~30 batches
    of its reduce partition; it must still reach reduce_fn as one run."""
    words = ["ant", "bee", "cat", "dog", "eel"]
    docs = [(f"d{i}", "hot " * 20 + words[i % 5]) for i in range(10)]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        rows, want = _run_both(spark, docs, mr.wc_map, mr.wc_reduce, strategy)
    finally:
        spark.conf.set(conf, previous)
    assert sorted(r["key"] for r in rows) == sorted(want)
    assert {r["key"]: r["value"] for r in rows} == want
    assert want["hot"] == "200"


def test_text_sink_roundtrip(spark, corpus, tmp_path):
    """E9 text sink: '<key> <value>' lines, order-insensitive equality
    (the reference compares sorted output, src/main/test-mr.sh:103)."""
    df = mr.map_reduce(spark, corpus, mr.early_exit_map, mr.early_exit_reduce)
    out = str(tmp_path / "mr-out")
    mr.write_text_kv(df, out, n_partitions=10)
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    # nReduce=10 layout (mrcoordinator.go:23); Spark skips empty partitions
    # at write where the reference emits empty mr-out files — consumers
    # concat+sort, so the difference is immaterial.
    assert 1 <= len(files) <= 10
    lines = sorted(r["value"] for r in spark.read.text(out).collect())
    expected = sorted(f"{k} {v}" for k, v in kv_dict(df).items())
    assert lines == expected


def test_text_sink_co_partitions_by_key(spark, tmp_path):
    """E9 file-assignment fidelity: every line for one key lands in ONE
    mr-out-N file — the reference's ihash(key) % nReduce contract
    (src/mr/worker.go:75). Partitioning by the rendered line would split
    keys with multiple distinct values across files."""
    rows = [(f"k{i % 5}", f"v{i}") for i in range(50)]
    df = spark.createDataFrame(rows, ["key", "value"])
    out = str(tmp_path / "mr-out-keyed")
    mr.write_text_kv(df, out, n_partitions=4)
    key_files: dict[str, set[str]] = {}
    for fname in os.listdir(out):
        if not fname.startswith("part-"):
            continue
        with open(os.path.join(out, fname)) as fh:
            for line in fh:
                key = line.split(" ", 1)[0]
                key_files.setdefault(key, set()).add(fname)
    assert key_files and all(len(fs) == 1 for fs in key_files.values()), key_files


def test_map_parallelism_probe(spark):
    """A3/A4 analog: the scheduler really runs tasks in parallel."""
    assert spark.sparkContext.defaultParallelism >= 2
    # mtiming's method: record task (start, end) wall-clock spans and assert
    # at least two overlapped (reference src/mrapps/mtiming.go:19-62).
    def timed(_):
        import time

        start = time.time()
        time.sleep(0.5)
        return [(start, time.time())]

    spans = spark.sparkContext.parallelize(range(8), 8).flatMap(timed).collect()
    overlaps = sum(
        1
        for i, (s1, e1) in enumerate(spans)
        for s2, e2 in spans[i + 1 :]
        if s1 < e2 and s2 < e1
    )
    assert overlaps >= 1


def test_jobcount_probe(spark, corpus):
    """A5 analog: absent failures, map_fn runs exactly once per input row
    (the reference test demands exactly 8 runs for 8 files,
    src/main/test-mr.sh:201-223)."""
    acc = spark.sparkContext.accumulator(0)

    def counting_map(fname, contents):
        acc.add(1)
        return [("a", "x")]

    df = mr.map_reduce(spark, corpus, counting_map, mr.early_exit_reduce, strategy="rdd")
    assert df.count() == 1
    assert acc.value == corpus.count()


def test_crash_recovery_probe(spark, corpus, tmp_path):
    """A7 crash analog: a map task that dies on its first attempt still
    produces correct output via Spark task retry (replaces the reference's
    10 s-timeout reassignment, src/mr/coordinator.go:114-138)."""
    marker_dir = str(tmp_path)

    def flaky_map(fname, contents):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        marker = os.path.join(marker_dir, f"p{ctx.partitionId()}")
        if ctx.attemptNumber() == 0 and not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("injected task failure")
        return mr.wc_map(fname, contents)

    flaky = kv_dict(
        mr.map_reduce(spark, corpus, flaky_map, mr.wc_reduce, strategy="rdd")
    )
    clean = kv_dict(
        mr.map_reduce(spark, corpus, mr.wc_map, mr.wc_reduce, strategy="rdd")
    )
    assert flaky == clean

"""The status-store collector, the span tracer and their helpers."""

from __future__ import annotations

import pytest

from perfbench.collect import StatusCollector, interval_union, parse_sql_metric
from perfbench.trace import Tracer


@pytest.mark.parametrize(
    ("text", "value"),
    [
        ("2,732", 2732.0),
        ("0.0 B", 0.0),
        ("25.8 KiB", 25.8 * 1024),
        ("5 ms", 0.005),
        ("total (min, med, max (stageId: taskId))\n9.4 s (609 ms, 979 ms, 1.6 s (stage 2.0: task 2))", 9.4),
        ("total (min, med, max (stageId: taskId))\n1.5 m (1 ms, 2 ms, 3 ms (stage 1.0: task 1))", 90.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_interval_union_counts_overlaps_once():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_self_time_subtracts_children():
    tracer = Tracer("r", enabled=True)
    with tracer.span("parent") as parent:
        with tracer.span("child") as child:
            pass
    assert [s.name for s in tracer.spans] == ["child", "parent"]
    assert child.parent == parent.span_id and parent.parent is None
    self_times = tracer.self_times()
    assert self_times[parent.span_id] == pytest.approx(parent.duration - child.duration)


def test_disabled_tracer_times_but_keeps_nothing():
    tracer = Tracer("r", enabled=False)
    with tracer.span("x") as span:
        pass
    assert span.duration >= 0 and tracer.spans == []


@pytest.fixture(scope="module")
def spark():
    from map_reduce_go_spark import get_spark

    session = get_spark(app_name="perfbench-collector-test", master="local[2]")
    yield session
    session.stop()


def test_collector_reads_one_map_reduce_job(spark, tmp_path):
    from map_reduce_go_spark.operators.mapreduce import map_reduce, wc_map, wc_reduce

    assert spark.conf.get("spark.ui.enabled") == "false"
    corpus = tmp_path / "a.txt"
    corpus.write_text("the cat saw the dog\n", encoding="utf-8")
    sc = spark.sparkContext
    collector = StatusCollector(spark)
    mark = collector.mark()
    sc.setJobGroup("t:build", "collector test")
    df = map_reduce(spark, [str(corpus)], wc_map, wc_reduce, n_reduce=2)
    sc.setJobGroup("t:action", "collector test")
    assert sorted(df.collect()) == [("cat", "1"), ("dog", "1"), ("saw", "1"), ("the", "2")]
    m = collector.read("t:build", "t:action", mark)
    assert m["spark.jobs"] >= 1 and m["spark.stages"] >= 1
    assert m["spark.tasks"] > 0 and m["spark.failed_tasks"] == 0
    assert m["python.bytes_sent"] > 0 and m["python.bytes_returned"] > 0
    assert m["sources.input_bytes"] == corpus.stat().st_size
    assert m["spark.task_run_s"] > 0 and m["spark.stage_active_s"] > 0
    # Stages are counted once: reading the same groups again adds nothing.
    assert collector.read("t:build", "t:action", collector.mark())["spark.stages"] == 0

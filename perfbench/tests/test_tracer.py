"""Tests of the benchmark's span and status-store reader.

Run from the repository root::

    python3 -m pytest -q perfbench/tests
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

from tracer import Span, Tracer, parse_sql_metric, self_time, tag_matches  # noqa: E402


def test_sql_metric_display_strings_parse_to_the_total():
    multi = "total (min, med, max (stageId: taskId))\n25.6 MiB (6.4 MiB, 6.4 MiB, 6.4 MiB (stage 3.0: task 5))"
    assert parse_sql_metric(multi) == pytest.approx(25.6 * (1 << 20))
    timing = "total (min, med, max (stageId: taskId))\n1.9 s (326 ms, 551 ms, 592 ms (stage 11.0: task 18))"
    assert parse_sql_metric(timing) == pytest.approx(1900.0)
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n28.6 KiB (7.1 KiB, 7.1 KiB, 7.2 KiB (stage 1.0: task 2))") == pytest.approx(28.6 * 1024)
    assert parse_sql_metric("0 ms") == 0.0
    assert parse_sql_metric("480 ms") == 480.0
    assert parse_sql_metric("1568.0 B") == 1568.0
    assert parse_sql_metric("10,000") == 10000.0
    assert parse_sql_metric(None) == 0.0
    assert parse_sql_metric("") == 0.0


def test_tag_matching_by_suffix_survives_the_session_thread_prefix():
    stored = (
        "spark-session-6accf1a0-3179-4968-a843-6002f8b56b08-thread-"
        "bb17bd81-66b2-4b2d-915d-91783a9838ec-pb-span-7"
    )
    assert tag_matches(stored, "pb-span-7")
    assert tag_matches("pb-span-7", "pb-span-7")
    # a different span whose number ends in the same digits
    assert not tag_matches(stored, "pb-span-17")
    assert not tag_matches(stored.replace("span-7", "span-17"), "pb-span-7")
    assert not tag_matches("spark-session-6accf1a0-execution-root-id-7", "pb-span-7")


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", 1, parent, start, end)


def test_self_time_subtracts_only_the_intervals_children_cover():
    parent = _span(0, 0.0, 10.0)
    assert self_time(parent, []) == 10.0
    # disjoint children
    assert self_time(parent, [_span(1, 1.0, 2.0, 0), _span(2, 4.0, 7.0, 0)]) == pytest.approx(6.0)
    # overlapping children count once
    assert self_time(parent, [_span(1, 1.0, 5.0, 0), _span(2, 3.0, 6.0, 0)]) == pytest.approx(5.0)
    # a nested child inside another child adds nothing
    assert self_time(parent, [_span(1, 1.0, 5.0, 0), _span(2, 2.0, 3.0, 0)]) == pytest.approx(6.0)
    # the part of a child outside the parent is not subtracted
    assert self_time(parent, [_span(1, 8.0, 12.0, 0), _span(2, -3.0, 1.0, 0)]) == pytest.approx(7.0)


@pytest.fixture(scope="module")
def spark():
    from k_means_in_mapreduce_spark.session import get_session

    s = get_session(app_name="perfbench-tests", master="local[2]", driver_memory="2g")
    yield s


def test_one_arrow_iteration_yields_exactly_one_tagged_job(spark):
    from k_means_in_mapreduce_spark.operators import kmeans_df

    df = (
        spark.createDataFrame(
            [([float(i % 7), float(i % 3)],) for i in range(4000)],
            "features array<double>",
        )
        .repartition(4)
        .cache()
    )
    df.count()
    assert df.rdd.getNumPartitions() == 4
    orig = kmeans_df.cluster_features_arrow
    tracer = Tracer(spark)
    tracer.wrap(kmeans_df, "cluster_features_arrow", "kmeans_df.cluster_features_arrow")
    try:
        with tracer.operation():
            kmeans_df.cluster_features_arrow(df, [[0.0, 0.0], [5.0, 1.0]])
            df.count()  # an untagged job in the same operation
    finally:
        tracer.restore()
        df.unpersist()
    (span,) = tracer.named("kmeans_df.cluster_features_arrow")
    assert len(span.jobs) == 1
    (job,) = span.jobs
    assert sum(s["tasks"] for s in job["stage_data"]) == 4
    assert any(tag_matches(t, span.tag) and t != span.tag for t in job["tags"])
    assert job["python"]["bytes_to_python"] > 0
    assert kmeans_df.cluster_features_arrow is orig

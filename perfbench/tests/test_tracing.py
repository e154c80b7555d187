"""Span self-times and Spark job attribution."""

import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.tracing import Tracer


def test_self_times_sum_to_no_more_than_wall():
    tr = Tracer()
    t0 = time.time()
    with tr.span("outer.a"):
        time.sleep(0.02)
        with tr.span("mid.b"):
            time.sleep(0.01)
            with tr.span("inner.c"):
                time.sleep(0.01)
        with tr.span("mid.d"):
            time.sleep(0.01)
    wall = time.time() - t0
    own = tr.self_seconds()
    assert all(v >= 0 for v in own.values())
    assert sum(own.values()) <= wall + 1e-6
    outer = tr.spans[0]
    assert sum(own.values()) == pytest.approx(outer.seconds, abs=1e-6)
    assert own[1] == pytest.approx(tr.spans[1].seconds - tr.spans[2].seconds, abs=1e-6)
    assert set(tr.layer_self_seconds()) == {"outer", "mid", "inner"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x.y") as s:
        assert s is None
    assert tr.spans == []


@pytest.fixture(scope="module")
def spark():
    from lucene_spark import get_spark

    from perfbench.run import stop_spark

    s = get_spark("perfbench-tests", master="local[1]", shuffle_partitions=2)
    yield s
    stop_spark(s)


def _job_ids_of_group(sc, group: str, action) -> list[int]:
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_span_job_counts_add_up_to_status_tracker(spark):
    """Spark numbers jobs 0, 1, 2, ... per context, so every job between a
    marker job before tracing and one after it must land in exactly one
    span or among the unattributed jobs."""
    sc = spark.sparkContext
    spark.range(10).count()                     # before tracing, no group
    before = max(sc.statusTracker().getJobIdsForGroup(None))
    tr = Tracer(sc)
    with tr.span("outer.two_jobs"):
        spark.range(100).count()
        with tr.span("inner.one_job"):
            spark.range(5).collect()
        spark.range(7).count()
    with tr.span("pool.helper_thread"):        # a job without a job group
        with ThreadPoolExecutor(1) as ex:
            ex.submit(lambda: spark.range(3).count()).result()
    after = _job_ids_of_group(sc, "perfbench-test-after", lambda: spark.range(1).count())[0]
    tr.attribute_jobs()
    per_span = [jid for s in tr.spans for jid in s.jobs]
    assert len(per_span) == len(set(per_span))
    assert not set(per_span) & set(tr.unattributed_jobs)
    window = set(range(before, after))
    assert {j for j in per_span + tr.unattributed_jobs if j >= before} == window
    assert before in tr.unattributed_jobs
    outer, inner, helper = tr.spans
    assert len(inner.jobs) >= 1 and len(outer.jobs) >= 2 and len(helper.jobs) >= 1
    assert all(s.tasks >= len(s.jobs) for s in tr.spans)

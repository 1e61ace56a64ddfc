"""map_concurrent: the side-by-side runner of mover's per-table Spark jobs."""

import threading
import time

import pytest

from mover_spark.util import map_concurrent


def _slots(spark):
    return spark.sparkContext.defaultParallelism


def test_map_concurrent_runs_calls_side_by_side(spark):
    """All min(n, slots) calls are in flight at once: each waits on one
    barrier, which a one-at-a-time runner never fills."""
    n = _slots(spark)
    barrier = threading.Barrier(n, timeout=30)
    assert map_concurrent(spark, lambda i: (barrier.wait(), i)[1], range(n)) == list(range(n))


def test_map_concurrent_width_is_task_slots(spark):
    """The pool is as wide as the session's task slots, no wider."""
    lock = threading.Lock()
    active, peak = [0], [0]

    def call(i):
        with lock:
            active[0] += 1
            peak[0] = max(peak[0], active[0])
        time.sleep(0.05)
        with lock:
            active[0] -= 1
        return i

    n = 3 * _slots(spark)
    assert map_concurrent(spark, call, range(n)) == list(range(n))
    assert 1 < peak[0] <= _slots(spark)


def test_map_concurrent_keeps_input_order(spark):
    """Later items finish first, and the results still come back in input
    order."""
    n = min(4, _slots(spark))
    finished = []

    def call(i):
        time.sleep(0.1 * (n - i))
        finished.append(i)
        return i * 10

    assert map_concurrent(spark, call, range(n)) == [i * 10 for i in range(n)]
    assert finished == list(reversed(range(n)))


def test_map_concurrent_raises_after_siblings_finish(spark):
    """One failing call re-raises to the caller, but only once the calls
    running beside it have returned: no job outlives the helper."""
    n = min(4, _slots(spark))
    barrier = threading.Barrier(n, timeout=30)
    finished = []

    def call(i):
        barrier.wait()  # every call has started
        if i == 0:
            raise ValueError("table 0 failed")
        time.sleep(0.3)
        finished.append(i)
        return i

    with pytest.raises(ValueError, match="table 0 failed"):
        map_concurrent(spark, call, range(n))
    assert sorted(finished) == list(range(1, n))


def test_map_concurrent_carries_job_group_and_tags(spark):
    """Jobs launched inside the helper run under the caller's job group and
    carry the session's tags."""
    sc = spark.sparkContext
    group, tag = "map-concurrent-group", "map-concurrent-tag"
    sc.setJobGroup(group, "map_concurrent job group test")
    spark.addTag(tag)
    try:
        tags = map_concurrent(
            spark, lambda _: (spark.range(3).count(), spark.getTags())[1], range(2)
        )
    finally:
        spark.removeTag(tag)
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
    assert all(tag in t for t in tags), tags


def test_map_concurrent_empty(spark):
    assert map_concurrent(spark, lambda x: x, []) == []

"""materialize_concurrently: ordering, overlap, error paths, and the
caller's job group on the jobs its threads submit. It copies the caller's
Spark local properties, so it takes a session."""

import threading
import time

import pytest

from prase_spark.concurrency import materialize_concurrently


def test_results_keep_thunk_order(spark):
    out = materialize_concurrently(lambda: "a", lambda: "b", lambda: "c")
    assert out == ("a", "b", "c")


def test_thunks_actually_overlap(spark):
    gate = threading.Event()

    def first():
        # blocks until the second thunk has started -> deadlocks unless
        # the two really run concurrently (2s timeout fails the test)
        assert gate.wait(timeout=2), "second thunk never started"
        return 1

    def second():
        gate.set()
        return 2

    assert materialize_concurrently(first, second) == (1, 2)


def test_thunks_overlap_with_the_retired_serial_knob_set(spark, monkeypatch):
    # this knob used to run the thunks one after another; it is gone, and
    # the concurrent path is the only path
    monkeypatch.setenv("PRASE_SERIAL_CHECKPOINTS", "1")
    test_thunks_actually_overlap(spark)


def test_exception_propagates(spark):
    def boom():
        raise RuntimeError("thunk failed")

    with pytest.raises(RuntimeError, match="thunk failed"):
        materialize_concurrently(lambda: time.sleep(0.01) or 1, boom)


def test_jobs_keep_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "concurrency_group")
    try:
        materialize_concurrently(
            lambda: spark.range(100).count(), lambda: spark.range(200).count()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("concurrency_group")) >= 2

"""Driver-thread job overlap for independent eager materializations.

Spark's scheduler is thread-safe and interleaves concurrently-submitted
jobs' stages; with FIFO scheduling, idle cores from one job's
coordination gaps run the other job's tasks. This attacks the serial
coordination floor quantified by the Amdahl fit in BENCH.md (~120 s at
37M facts) without changing any plan: each thunk's DAG is exactly what
the serial code built. Used by the PARIS iteration checkpoints
(paris.py), the two-KG pair build (pipeline.py / __spark_entry__), and
the node/predicate dict-encodes inside one KG build (kgbuild.py).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from prase_spark.config import env_flag


def materialize_concurrently(*thunks):
    """Run independent eager-materialization thunks (localCheckpoint /
    persist-count) as CONCURRENT Spark jobs from driver threads.

    ``PRASE_SERIAL_CHECKPOINTS`` (a config.env_flag: 1/true/yes/on) falls
    back to sequential execution (A/B lever; also the escape hatch if a
    cluster's scheduler pools are configured to starve concurrent jobs).

    Each thunk runs with its own copy of the caller's local properties
    (job group, description, pool) and session tags, so its jobs are
    labelled like the caller's; this needs an active SparkSession."""
    if env_flag("PRASE_SERIAL_CHECKPOINTS") or len(thunks) == 1:
        return tuple(t() for t in thunks)
    session = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(inheritable_thread_target(session)(t)) for t in thunks]
        return tuple(f.result() for f in futures)

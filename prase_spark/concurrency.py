"""Driver-thread job overlap for independent eager materializations.

Spark's scheduler is thread-safe and interleaves concurrently-submitted
jobs' stages; with FIFO scheduling, idle cores from one job's
coordination gaps run the other job's tasks. Each thunk's DAG is exactly
what a serial call would build, so no plan changes. Measured on a 4-vCPU
host at local[4] (perfbench, 9 interleaved pairs against a copy forced
serial): end-to-end time 14.89 -> 12.74 s on crawl_pages and 19.38 ->
14.42 s on kg_prase_hub, lower in every pair; one warm KG-pair build
4.1-4.5 s serial vs 2.5-2.9 s overlapped. Used by the PARIS iteration
checkpoints (paris.py), the two-KG pair build (pipeline.py), and the
node/predicate dict-encodes inside one KG build (kgbuild.py).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def materialize_concurrently(*thunks):
    """Run independent eager-materialization thunks (localCheckpoint /
    persist-count) as CONCURRENT Spark jobs from driver threads.

    Each thunk runs with its own copy of the caller's local properties
    (job group, description, pool) and session tags, so its jobs are
    labelled like the caller's; this needs an active SparkSession."""
    session = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(inheritable_thread_target(session)(t)) for t in thunks]
        return tuple(f.result() for f in futures)

"""Session + hyperparameter configuration.

Hyperparameters mirror the reference defaults (objects/KGs.py:14-24):
theta=0.1, delta=0.01, epsilon=1.01, const=10.0, iteration=3 (test.py:127 uses 10).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class ParisConfig:
    theta: float = 0.1        # match threshold      (objects/KGs.py:17)
    delta: float = 0.01       # evidence cutoff      (objects/KGs.py:20)
    epsilon: float = 1.01     # dampening            (objects/KGs.py:21)
    const: float = 10.0       # normalization const  (objects/KGs.py:22,212)
    iterations: int = 3       # fixpoint rounds      (objects/KGs.py:15)
    # weights of the default fusion function (test.py:74-76)
    fusion_paris_weight: float = 0.8
    fusion_cosine_weight: float = 0.2
    # engine knobs (no reference analog; scale controls)
    checkpoint_dir: str = field(default="/tmp/prase_spark_ckpt")


# Generated classes kept by Spark's codegen cache (JVM-wide, driver and
# executors alike). One warm pipeline pass generates ~440 distinct classes
# and one PARIS iteration 105-140, so Spark's default of 100 evicts every
# class before its next use: each pass and each fixpoint iteration re-runs
# Janino and re-JITs the fresh classes (measured at local[4] on a 4-vCPU
# VM: the HotSpot compiler threads used ~23 of a warm pass's ~44
# CPU-seconds).
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "prase_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Scale posture: AQE on (runtime coalesce + skew-join split), adaptive
    broadcast, Arrow for every pandas-UDF boundary. On a real cluster the
    same code runs via spark-submit --py-files; only master/memory change.

    The codegen cache holds CODEGEN_CACHE_ENTRIES generated classes, sized
    from the measured working set (~440 per warm pipeline pass) instead of
    Spark's default 100, so repeated passes and PARIS iterations reuse
    compiled code. It is a static conf: it takes effect only when this
    call creates the JVM's first session.

    It runs no Spark job: JIT, code generation and Python-worker spawn are
    paid by the first query that needs them.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or os.environ.get("PRASE_SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("PRASE_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # KG workloads are CPU-heavy per byte (URI strings, regex); the
        # default 1m floor coalesces small-byte stages below core count and
        # idles executors — keep coalescing but let parallelism win.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("PRASE_DRIVER_MEM", "12g"))
        # pre-size the heap: lazy heap expansion causes a one-time multi-
        # second GC churn on the first heavy query (observed 28s -> 3s).
        # JDK17 unified logging writes warning-level GC messages (e.g.
        # GCLocker allocation retries) to STDOUT by default — and that
        # default sink stays active when another -Xlog output is merely
        # ADDED, so it must be -Xlog:disable'd first or warnings still
        # pollute stdout (observed: GCLocker retry warnings glued into a
        # captured bench stdout; bench.py's one-JSON-line contract).
        # GCLockerRetryAllocationCount: G1's default gives up after 2
        # retries when JNI critical sections (Arrow transfers) pin the GC
        # during a humongous allocation and throws a spurious OOM that
        # kills the job (observed once on a loaded host, 64MB alloc);
        # retrying longer is strictly safer than dying.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('PRASE_DRIVER_XMS', '6g')} "
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64 "
            "-Xlog:disable -Xlog:all=warning:stderr:uptime,level,tags",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()

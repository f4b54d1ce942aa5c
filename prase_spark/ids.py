"""Scalable deterministic dense-id assignment.

The reference reassigns contiguous ids with a driver-side loop over Python
sets (objects/KG.py:202-210). At 10^12-row scale a single global window
(``row_number() over (ORDER BY name)``) would serialize on one task, so we
use the standard two-phase distributed dense-rank:

1. range-partition + sort by the (unique) order key,
2. count rows per partition, prefix-sum the offsets (a window over at most
   ``n_part`` tiny rows — no driver collect round-trip),
3. broadcast-join the offsets and add partition-local ``row_number``.

Deterministic as long as the order key is unique: range partitioning keeps
the global order across partitions regardless of sampled boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = start, start+1, ... densely in ``order_cols`` order.

    ``order_cols`` must be a unique key of ``df`` (guaranteed by the
    ``distinct()`` dict-encode step that precedes every call).
    """
    spark = df.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_part = max(1, n_part)

    # The input is not pinned: under AQE the distinct() that precedes
    # every call is a shuffle stage materialized before the range exchange
    # samples it, so boundary sampling and the range shuffle both read
    # its shuffle output rather than recomputing the corpus.
    parted = (
        df.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    # CRITICAL: pin the partitioning so it is evaluated exactly once.
    # RangePartitioner samples with a seed derived from the (fresh) RDD id,
    # so two evaluations of `parted` (the offsets branch and the output
    # branch below) could draw different boundaries -> overlapping/gapped
    # ids. The persist pins one snapshot for both reads — block-level
    # get-or-compute makes even same-job branch reads share it.
    parted = parted.persist()
    # Per-partition offsets: counts -> exclusive prefix sum, all inside the
    # output job (the single-partition window touches at most `n_part`
    # rows). Replaces the r5 collect()+createDataFrame round-trip, which
    # cost one blocking driver job per encode (guide §1.2: fewer passes).
    counts = parted.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid",
        (F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)) + F.lit(start)).alias(
            "__offset"
        ),
    )

    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (
        parted.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.col("__rn") - 1 + F.col("__offset")).cast("long"))
        .drop("__pid", "__rn", "__offset")
    )
    # Pin the assignment eagerly: ids must NEVER be recomputed — a fresh
    # evaluation would re-sample range boundaries against materialized
    # offsets (silent id corruption). localCheckpoint stores RDD blocks
    # that survive catalog.clearCache() (which only unpersists SQL
    # relations), so downstream cache hygiene can't resurrect the race.
    out = out.localCheckpoint()
    parted.unpersist()
    return out

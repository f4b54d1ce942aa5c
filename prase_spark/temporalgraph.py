"""Temporal-graph reachability: earliest-arrival paths over timestamped
edges (Wu et al., VLDB 2016, "Path Problems in Temporal Graphs").

A crawl/KG edge usually carries WHEN it was observed (warc_ts, fact
validity from temporal.py). Static reachability over such edges
overstates what can actually propagate: influence, redirects-at-a-time,
citation flow and contamination all travel only along time-RESPECTING
paths — each hop's timestamp at or after the previous hop's. The
canonical primitive is earliest arrival: the minimum time at which a
node is reachable from a seed set along a time-respecting path.

Algorithm: label-correcting relaxation. ``arrival(seed) = start_ts``;
repeatedly, an edge (u, v, t) with ``t >= arrival(u)`` offers ``t`` to
``v``; every node keeps the MIN offer. Arrivals are monotone
non-increasing integers, so the iteration converges and every step is
one equi-join + one min-groupBy — the connected-components/pagerank
Jacobi shape, nothing partition-dependent. Fixed ``iterations`` gives
the value-hashable horizon (hop-bounded arrival, the gate mode);
``iterations=None`` runs to the exact fixpoint with a changed-count per
step.

Scale shape: the edge table never reshapes — each round joins it
against the current (node, arrival) labels on ``src``. Hop-bounded
variants are also what a 10^12-edge deployment runs (influence windows,
not unbounded closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: round cap of earliest_arrival's run-to-fixpoint mode (iterations=None);
#: no fixpoint within it raises.
ARRIVAL_MAX_ITERATIONS = 100


def earliest_arrival(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ts_col: str = "ts",
    node: str = "node",
    start_ts: int = 0,
    iterations: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """(node, arrival): minimum arrival time from any seed along a
    time-respecting path whose first edge departs at or after
    ``start_ts``; seeds themselves report ``start_ts``. With fixed
    ``iterations`` = h, arrivals are exact for paths of at most h hops
    (the gate-hashable mode); ``None`` = exact fixpoint."""
    e = (
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d"),
            F.col(ts_col).cast("long").alias("t"),
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull() & F.col("t").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    arr = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .select("node", F.lit(start_ts).cast("long").alias("arrival"))
        .localCheckpoint()
    )

    def _step(cur: DataFrame) -> DataFrame:
        offers = (
            cur.join(e, (cur["node"] == e["s"]) & (e["t"] >= cur["arrival"]))
            .select(F.col("d").alias("node"), F.col("t").alias("arrival"))
        )
        return (
            cur.unionByName(offers)
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
        )

    if iterations is not None:
        for _ in range(iterations):
            arr = _step(arr).localCheckpoint()
        return arr
    done = 0
    for it in range(ARRIVAL_MAX_ITERATIONS):
        nxt = _step(arr).localCheckpoint()
        changed = (
            nxt.join(arr.withColumnRenamed("arrival", "__old"), "node", "left")
            .filter(F.col("__old").isNull() | (F.col("arrival") < F.col("__old")))
            .count()
        )
        arr = nxt
        done = it + 1
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"earliest_arrival: no fixpoint within {ARRIVAL_MAX_ITERATIONS} iterations"
        )
    if stats_out is not None:
        stats_out["arrival_iterations"] = done
    return arr

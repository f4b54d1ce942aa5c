"""Explicit skew handling for the PARIS expansion join (north_rule:
"partitioning / shuffle / skew handled explicitly"; SURVEY.md §4).

AQE's skew-join splitting is the always-on backstop (config.py). It keys
off shuffle INPUT partition sizes, so it cannot touch the skew class of the
hub-head expansion: a three-way path join whose per-key OUTPUT is the
product of the per-key input counts (a 3k x 3k hub has tiny inputs and a
9M-row output). :func:`guarded_join` detects exactly that product and
salts only the keys where it is catastrophic; this module owns that
policy, its two thresholds and its hot-key cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Size gate: a >= HOT_PRODUCT_ROWS per-key product needs >= ~7.1k rows of
# one key on each side, so build sides under this many facts cannot reach
# it at sane fan-outs — the guard skips even its (cheap) detection job.
GUARD_MIN_FACTS = 5_000_000
# Per-key output rows (probe rows x build rows) at which a key is salted.
# Deliberately absolute and high: the r6 A/B at sf0.1 showed the expansion
# stage is CPU-bound, not straggler-bound, below ~10M-row products
# (salting doubled stage CPU for no wall gain), so the guard engages only
# where one task would run for minutes — the catastrophic class, not the
# merely-uneven one.
HOT_PRODUCT_ROWS = 50_000_000
# Most hot keys collected to the driver (largest products first): each one
# becomes a literal in the guard's isin() filters.
MAX_HOT_KEYS = 200


def product_hot_keys(
    probe: DataFrame, build: DataFrame, key: str, min_out_rows: int
) -> list:
    """Join keys whose OUTPUT contribution (probe rows x build rows) is at
    least ``min_out_rows`` — returned as collected rows
    ``(key, __pc, __bc)``, largest product first, at most ``MAX_HOT_KEYS``.

    r6 measurement: 5 hub keys = 82% of the PARIS expansion volume. Two
    per-key count aggs + a tiny join; both inputs are typically already
    pinned, so this costs one small job. NULL keys never match an
    equi-join, and the inner join here drops them too."""
    pc = probe.groupBy(key).agg(F.count("*").alias("__pc"))
    bc = build.groupBy(key).agg(F.count("*").alias("__bc"))
    return (
        pc.join(bc, key)
        .filter(F.col("__pc") * F.col("__bc") >= min_out_rows)
        .orderBy(F.desc(F.col("__pc") * F.col("__bc")))
        .limit(MAX_HOT_KEYS)
        .collect()
    )


def guarded_join(
    probe: DataFrame, build: DataFrame, key: str, build_facts: int
) -> DataFrame:
    """``probe ⋈ build`` on ``key`` with the product-skew guard: the same
    row multiset as the plain join, which it is whenever ``build_facts``
    is under GUARD_MIN_FACTS or no key's product reaches HOT_PRODUCT_ROWS.

    Otherwise the hot keys (a collected driver list, capped at
    MAX_HOT_KEYS) split both sides by literal isin() filters fused into the
    scans — no semi/anti-join stages. Hot probe rows are scattered over
    ``k`` salt buckets by a deterministic full-row hash, hot build rows
    replicated to every bucket, and the salted leg is unioned with the
    plain cold join."""
    hot_rows = (
        product_hot_keys(probe, build, key, HOT_PRODUCT_ROWS)
        if build_facts >= GUARD_MIN_FACTS
        else []
    )
    if not hot_rows:
        return probe.join(build, key)
    keys = [r[key] for r in hot_rows]
    # enough (key, salt) combos to spread over the cluster: ~4 combos per
    # partition slot (guide §2.5 — too few distinct combos leaves
    # hash-collision lumps), bounded by the largest product so tiny hubs
    # aren't over-split
    dp = probe.sparkSession.sparkContext.defaultParallelism
    max_out = int(hot_rows[0]["__pc"]) * int(hot_rows[0]["__bc"])
    k = min(
        max(2, (4 * dp) // max(1, len(keys)) + 1),
        max(2, -(-max_out // 500_000)),
    )
    probe_hot = probe.filter(F.col(key).isin(keys))
    scattered = probe_hot.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in probe_hot.columns]), F.lit(k)).cast("int"),
    )
    replicated = build.filter(F.col(key).isin(keys)).withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    )
    cold = probe.filter(~F.col(key).isin(keys)).join(
        build.filter(~F.col(key).isin(keys)), key
    )
    # the hot leg MUST be a shuffle join: a broadcast join would drop the
    # exchange and leave the exploded copies sitting in the hub's original
    # partitions (the salt only rebalances if rows actually move by
    # (key, __salt))
    return (
        scattered.hint("shuffle_hash")
        .join(replicated, [key, "__salt"])
        .drop("__salt")
        .unionByName(cold)
    )

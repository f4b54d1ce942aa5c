"""Embedding similarity: cosine scoring, LSH blocking, global-argmax reset.

Reference analogs:
- cosine fusion inside the kernel (test.py:74-76, model/PARIS.py:45-48)
- global embedding argmax reset: full matmul + row argmax, prob=0.2 both
  ways (objects/KGs.py:265-279)
- embedding load + blend (objects/KGs.py:522-539, 176-183)

Scale posture: the reference's N×M matmul is replaced by random-hyperplane
LSH blocking -> banded candidate join -> native cosine; the exact cross-join
path is kept for test-scale validation (SURVEY.md §2.4 J7).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    """Native (JVM, codegen) cosine over two array<float/double> columns:
    zip_with product + aggregate sums — no Python in the hot path."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def pandas_fusion(py_func):
    """Wrap a reference-style scalar ``fusion_func(prob, x, y) -> float``
    (test.py:74-76) as an Arrow-batched column callable for
    entity_candidates(fusion=...). The default native weighted-cosine path
    is faster — use this only for custom fusion logic."""
    import pyspark.sql.functions as SF
    from pyspark.sql.types import DoubleType

    @SF.pandas_udf(DoubleType())
    def _f(score: pd.Series, emb_e: pd.Series, emb_t: pd.Series) -> pd.Series:
        out = [
            float(py_func(s, np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)))
            if a is not None and b is not None
            else float(s)
            for s, a, b in zip(score, emb_e, emb_t)
        ]
        return pd.Series(out)

    return lambda score_col, emb_e_col, emb_t_col: _f(score_col, emb_e_col, emb_t_col)


def resolve_embeddings(named_embeddings: DataFrame, nodes: DataFrame) -> DataFrame:
    """S4 (objects/KGs.py:522-539): attach external embeddings keyed by
    entity name to engine ids. Input (name, embedding) -> (ent_id, embedding);
    entities only (the reference indexes ``entity_dict_by_name``)."""
    return (
        named_embeddings.join(
            nodes.filter(~F.col("is_literal")).select("ent_id", "name"), "name"
        ).select("ent_id", "embedding")
    )


def _claims_sup(sub: DataFrame, prob: float) -> DataFrame:
    """The sup direction of a J7 reset (objects/KGs.py:277-279): each
    claimed counterpart points back at the max ent_id among its claimants
    (the reference's ascending loop leaves the last writer in the slot)."""
    return (
        sub.groupBy("counterpart_id")
        .agg(F.max("ent_id").alias("l_id"))
        .select(
            F.col("counterpart_id").alias("ent_id"),
            F.col("l_id").alias("counterpart_id"),
            F.lit(prob).alias("prob"),
            F.lit(False).alias("is_lit"),
        )
    )


def _dot_argmax(
    emb_l: DataFrame, emb_r: DataFrame, prob: float, pairs: DataFrame | None = None
) -> DataFrame:
    """J7 argmax: each left entity takes the right entity with the largest
    raw dot product (the reference matmuls unnormalized rows), ties to the
    smallest r_id (np.argmax's first-index rule), at ``prob``. Candidates
    are ``pairs`` (l_id, r_id), or every pair (cross join) when None.
    Output (ent_id, counterpart_id, prob, is_lit)."""
    l = emb_l.select(F.col("ent_id").alias("l_id"), F.col("embedding").alias("emb_l"))
    r = emb_r.select(F.col("ent_id").alias("r_id"), F.col("embedding").alias("emb_r"))
    scored = l.crossJoin(r) if pairs is None else pairs.join(l, "l_id").join(r, "r_id")
    dot = F.aggregate(
        F.zip_with("emb_l", "emb_r", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        scored.withColumn("dot", dot)
        .groupBy("l_id")
        .agg(F.max_by(F.struct("r_id"), F.struct("dot", (-F.col("r_id")).alias("nr"))).alias("b"))
        .select(
            F.col("l_id").alias("ent_id"),
            F.col("b.r_id").alias("counterpart_id"),
            F.lit(prob).alias("prob"),
            F.lit(False).alias("is_lit"),
        )
    )


def brute_force_argmax(
    emb_l: DataFrame, emb_r: DataFrame, prob: float = 0.2
) -> tuple[DataFrame, DataFrame]:
    """Exact J7 reset path (objects/KGs.py:265-279): row argmax of the
    similarity matrix, assign ``prob`` both directions.

    Test-scale only — the LSH path below is the 10^12-row strategy."""
    sub = _dot_argmax(emb_l, emb_r, prob)
    return sub, _claims_sup(sub, prob)


def auto_band_bits(
    n_rows: int, margin: int = 2, min_bits: int = 8, max_bits: int = 24
) -> int:
    """Size the band key to the corpus: bits ≈ log2(n) + margin keeps the
    EXPECTED random-collision volume per band at n²/2^bits ≈ n/2^margin —
    linear in n, not quadratic. 4-bit keys (16 buckets) on a 10^9-row
    corpus are n²/16 candidate pairs: the cross join in disguise."""
    import math

    bits = math.ceil(math.log2(max(n_rows, 2))) + margin
    return max(min_bits, min(max_bits, bits))


def hyperplane_signatures(
    emb: DataFrame, dim: int, n_bits: int = 128, n_bands: int = 8, seed: int = 42
) -> DataFrame:
    """Random-hyperplane (SimHash) signatures, banded for LSH joins.

    Deterministic: planes from a seeded generator (rounded to 6 decimals so
    engine-twin oracles can inline them as compact literals), broadcast to
    executors inside an Arrow-batched pandas transform. Output: one row per
    (ent_id, band, band_key) — candidate pairs are equi-joins on
    (band, band_key).

    Band keys are ``n_bits // n_bands`` bits wide — the scale lever. The
    default (128/8 = 16-bit keys, 65,536 buckets/band) suits ~10^4-10^6 row
    corpora; size it as log2(n)+margin via auto_band_bits (expected random
    candidate volume per band is n²·2^-bits). Wider keys cut candidates AND
    recall per band; hold recall by adding bands, not by narrowing keys.
    """
    if n_bits % n_bands != 0:
        raise ValueError(f"n_bits ({n_bits}) must be a multiple of n_bands ({n_bands})")
    rng = np.random.default_rng(seed)
    planes = np.round(rng.normal(size=(n_bits, dim)), 6).astype(np.float64)
    bits_per_band = n_bits // n_bands

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
            bits = (mat @ planes.T) >= 0.0  # (n, n_bits)
            ids, bands, keys = [], [], []
            weights = (1 << np.arange(bits_per_band)).astype(np.int64)
            for b in range(n_bands):
                chunk = bits[:, b * bits_per_band : (b + 1) * bits_per_band]
                key = chunk @ weights
                ids.extend(pdf["ent_id"].tolist())
                bands.extend([b] * len(pdf))
                keys.extend(key.tolist())
            yield pd.DataFrame({"ent_id": ids, "band": bands, "band_key": keys})

    return emb.select("ent_id", "embedding").mapInPandas(
        run, "ent_id LONG, band INT, band_key LONG"
    )


def lsh_candidate_pairs(
    emb_l: DataFrame,
    emb_r: DataFrame,
    dim: int,
    n_bits: int = 128,
    n_bands: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Blocked candidate pairs (l_id, r_id): same band key in any band.
    Replaces the all-pairs matmul at scale (SURVEY.md §4: MinHash/LSH
    blocking is the scale substitute for J7). ``max_bucket_size`` guards
    each side's band buckets (buckets.cap_band_buckets); production
    entry points default it on."""
    from prase_spark.datapipe.buckets import cap_band_buckets

    sig_l = cap_band_buckets(
        hyperplane_signatures(emb_l, dim, n_bits, n_bands, seed),
        max_bucket_size, stats_out=stats_out, label="hyperplane_lsh_l",
    ).select(F.col("ent_id").alias("l_id"), "band", "band_key")
    sig_r = cap_band_buckets(
        hyperplane_signatures(emb_r, dim, n_bits, n_bands, seed),
        max_bucket_size, label="hyperplane_lsh_r",
    ).select(F.col("ent_id").alias("r_id"), "band", "band_key")
    return sig_l.join(sig_r, ["band", "band_key"]).select("l_id", "r_id").distinct()


def lsh_argmax(
    emb_l: DataFrame,
    emb_r: DataFrame,
    dim: int,
    prob: float = 0.2,
    n_bits: int = 128,
    n_bands: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate J7: argmax within LSH-blocked candidates.

    Ranks candidates by raw dot product — the SAME rule as
    brute_force_argmax and the reference's matmul argmax
    (objects/KGs.py:273-275), so crossing the dispatcher's size gate never
    changes the ranking metric, only restricts the candidate set. Note the
    hyperplane blocking itself is angular: a counterpart that wins on dot
    through sheer norm despite a poor angle can fall outside the candidate
    set (recall caveat, tested ≥0.9 on the fixture)."""
    pairs = lsh_candidate_pairs(
        emb_l, emb_r, dim, n_bits, n_bands, seed, max_bucket_size=max_bucket_size
    )
    return _dot_argmax(emb_l, emb_r, prob, pairs)


# Above this many candidate pairs the exact cross join is never the right
# plan; the LSH-blocked argmax replaces it (recall >= 0.95 vs brute force,
# tests/test_reset_path.py).
_BRUTE_FORCE_PAIR_BUDGET = 4_000_000


def embedding_reset_matches(
    emb_l: DataFrame,
    emb_r: DataFrame,
    prob: float = 0.2,
    use_lsh: bool | None = None,
    pair_budget: int = _BRUTE_FORCE_PAIR_BUDGET,
) -> tuple[DataFrame, DataFrame]:
    """J7 dispatcher: exact cross-join argmax at test scale, LSH-blocked
    argmax beyond ``pair_budget`` candidate pairs (or when forced via
    ``use_lsh``). The cross join is THE cartesian scale-killer at web scale,
    so production paths must never reach it implicitly — the size gate here
    costs one aggregate per side on the (small-schema) embedding tables, the
    left one also reading the embedding dimension.

    Both returned frames are pinned (localCheckpoint): sub is computed
    once, sup is derived from the pinned sub, and callers — the PARIS
    fixpoint reads the match state many times per iteration — never
    recompute the argmax or pay the LSH signature UDF again.

    The LSH band key is auto-sized to the corpus (auto_band_bits over the
    larger side's row count): a fixed narrow key re-admits the quadratic
    join through the blocked path at web scale. Recall is held by BAND
    COUNT, not key width — J7 counterparts are moderate-similarity
    (cos ~0.6 on the alignment fixtures), where per-band match probability
    is p^bits (p = 1-θ/π), so 48 bands keep argmax recall ≳0.95 while
    candidate volume stays ~bands·n²/2^bits ≈ 12n (linear). The bucket
    guard is ON here (degenerate embeddings — all-zero vectors — share
    every signature)."""
    if use_lsh is not False:
        n_l, dim = emb_l.agg(F.count(F.lit(1)), F.max(F.size("embedding"))).first()
        n_r = emb_r.count()
        if use_lsh is None:
            use_lsh = n_l * n_r > pair_budget
    if use_lsh and (dim or 0) > 0:
        from prase_spark.datapipe.buckets import DEFAULT_MAX_BUCKET

        n_bands = 48
        bits = auto_band_bits(max(n_l, n_r))
        sub = lsh_argmax(
            emb_l, emb_r, dim, prob, n_bits=bits * n_bands, n_bands=n_bands,
            max_bucket_size=DEFAULT_MAX_BUCKET,
        )
    else:
        sub = brute_force_argmax(emb_l, emb_r, prob)[0]
    sub = sub.localCheckpoint()
    return sub, _claims_sup(sub, prob).localCheckpoint()


def blend_embeddings(
    current: DataFrame, updates: DataFrame, alpha: float = 0.5
) -> DataFrame:
    """P15 (objects/KGs.py:176-183): αold + (1-α)new, L2-normalized —
    native array arithmetic, no UDF.

    The norm is materialized ONCE per row behind a single-element explode:
    CollapseProject inlines a once-referenced alias into consumer lambdas
    even when it is an O(dim) aggregate, and interpreted higher-order
    functions re-evaluate captured expressions per element — O(dim²) per
    row (measured 2.8x at dim=64, linear-in-dim worse beyond). The
    Generate bars the collapse, keeping normalization O(dim)."""
    cur = current.select("ent_id", F.col("embedding").alias("old"))
    upd = updates.select("ent_id", F.col("embedding").alias("new"))
    pooled = F.zip_with(
        "old", "new", lambda o, n: F.lit(alpha) * o + F.lit(1.0 - alpha) * n
    )
    joined = cur.join(upd, "ent_id", "left").withColumn(
        "pooled", F.when(F.col("new").isNull(), F.col("old")).otherwise(pooled)
    )
    staged = joined.withColumn(
        "nrm", F.sqrt(F.aggregate("pooled", F.lit(0.0), lambda acc, x: acc + x * x))
    ).withColumn("__barrier", F.explode(F.array(F.lit(True))))
    # rows without an update keep their original vector untouched (the
    # reference only writes the provided indices, objects/KGs.py:182-183)
    return staged.select(
        "ent_id",
        F.when(F.col("new").isNull(), F.col("old").cast("array<float>"))
        .otherwise(F.transform("pooled", lambda x: (x / F.col("nrm")).cast("float")))
        .alias("embedding"),
    )

"""Driver orchestration: the PARIS fixpoint loop + result materialization.

Mirrors the reference entry points (test.py:58-104, objects/KGs.py:91-108)
as plain driver control flow over DataFrame jobs. Each iteration ends in a
parquet checkpoint (resume point + lineage truncation).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prase_spark.checkpoint import load_state, roundtrip_state
from prase_spark.concurrency import materialize_concurrently
from prase_spark.config import ParisConfig
from prase_spark.evaluate import evaluate_alignment
from prase_spark.kgbuild import KGFrames, build_kg
from prase_spark.paris import AlignState, init_state, run_iteration
from prase_spark.seed import literal_seed_matches


@dataclass
class AlignmentRun:
    state: AlignState
    evals: list = field(default_factory=list)


def bootstrap_seed(
    kg_l: KGFrames,
    kg_r: KGFrames,
    seed_mode: str = "literal",
) -> tuple[DataFrame, DataFrame]:
    """Initial match-state seed. ``literal`` is the reference's exact
    literal-value equality (objects/KGs.py:53-58); ``name`` bootstraps from
    near-duplicate entity surface forms (seed.name_seed_matches — the
    beyond-reference fallback for KGs with zero shared literal vocabulary);
    ``auto`` tries literal first and falls back to name when it is empty
    (one limit-1 probe job — driver control flow, not a collect)."""
    if seed_mode not in ("literal", "name", "auto"):
        raise ValueError(f"seed_mode must be literal|name|auto, got {seed_mode!r}")
    if seed_mode in ("literal", "auto"):
        sub, sup = literal_seed_matches(kg_l, kg_r)
        if seed_mode == "literal" or not sub.isEmpty():
            return sub, sup
    from prase_spark.seed import name_seed_matches

    return name_seed_matches(kg_l, kg_r)


def _fixpoint(
    kg_l: KGFrames,
    kg_r: KGFrames,
    state: AlignState,
    cfg: ParisConfig,
    gold: DataFrame | None,
    embeddings_l: DataFrame | None,
    embeddings_r: DataFrame | None,
    checkpoint: bool,
) -> AlignmentRun:
    """Run PARIS iterations from ``state`` until ``cfg.iterations``; with
    ``checkpoint`` each new state round-trips through parquet under
    ``cfg.checkpoint_dir`` (resume point), and with ``gold`` each one is
    evaluated into ``run.evals``."""
    run = AlignmentRun(state=state)
    while run.state.iter_num < cfg.iterations:
        nxt = run_iteration(
            kg_l, kg_r, run.state, cfg,
            embeddings_l=embeddings_l, embeddings_r=embeddings_r,
        )
        if checkpoint:
            nxt = roundtrip_state(nxt, cfg.checkpoint_dir)
        # else: run_iteration already materialized every state frame once
        run.state = nxt
        if gold is not None:
            run.evals.append(evaluate_alignment(nxt.matches_sub, gold))
    return run


def align(
    spark: SparkSession,
    kg_l: KGFrames,
    kg_r: KGFrames,
    cfg: ParisConfig | None = None,
    gold: DataFrame | None = None,
    embeddings_l: DataFrame | None = None,
    embeddings_r: DataFrame | None = None,
    resume_from: str | None = None,
    checkpoint: bool = True,
    seed_mode: str = "literal",
) -> AlignmentRun:
    """Full fixpoint (objects/KGs.py:91-102). ``resume_from`` restores the
    latest checkpoint in that directory and continues (S7)."""
    cfg = cfg or ParisConfig()
    if resume_from is not None:
        state = load_state(spark, resume_from)
    else:
        sub, sup = bootstrap_seed(kg_l, kg_r, seed_mode)
        state = init_state(spark, sub, sup)
    return _fixpoint(kg_l, kg_r, state, cfg, gold, embeddings_l, embeddings_r, checkpoint)


def prase_feedback_align(
    spark: SparkSession,
    kg_l: KGFrames,
    kg_r: KGFrames,
    cfg: ParisConfig | None = None,
    seed_links: DataFrame | None = None,
    embeddings_l: DataFrame | None = None,
    embeddings_r: DataFrame | None = None,
    gold: DataFrame | None = None,
    load_weight: float = 1.0,
    reset_weight: float | None = None,
    prior_state: AlignState | None = None,
    checkpoint: bool = False,
    reset_from_embeddings: bool = False,
    reset_use_lsh: bool | None = None,
    seed_mode: str = "literal",
) -> AlignmentRun:
    """The PRASE feedback loop (test.py:83-104):

    1. optional prob rescale of a prior state (reset_ent_align_prob), or
       the embedding global-argmax reset (reset_ent_align_result,
       objects/KGs.py:265-279) when ``reset_from_embeddings`` is set,
    2. mapping feedback: force-merge embedding-module seed links
       (load_ent_links force=True, probs scaled by load_weight),
    3. embedding feedback + fusion-active fixpoint (0.8/0.2 by default).
    """
    from prase_spark.seed import force_merge, load_seed_links, rescale_probs

    import dataclasses

    cfg = cfg or ParisConfig()
    if prior_state is None:
        sub, sup = bootstrap_seed(kg_l, kg_r, seed_mode)
        state = init_state(spark, sub, sup)
    else:
        # Fresh copy — never mutate the caller's state object — and restart
        # iter_num at 0: the reference's kgs.run() always executes
        # `iteration` ADDITIONAL rounds and resets _iter_num per run
        # (objects/KGs.py:94-99), so a feedback pass after a completed
        # align() must not silently run zero iterations. has_load carries
        # over, so a checkpoint-loaded state keeps its no-bootstrap
        # schedule while a plain prior state re-bootstraps like the
        # reference.
        state = dataclasses.replace(prior_state, iter_num=0)
        if reset_weight is not None:
            state.matches_sub = rescale_probs(state.matches_sub, reset_weight)
            state.matches_sup = rescale_probs(state.matches_sup, reset_weight)
    if reset_from_embeddings:
        if embeddings_l is None or embeddings_r is None:
            raise ValueError("reset_from_embeddings requires both embedding tables")
        from prase_spark.embed import embedding_reset_matches

        # J7 reset: entity matches replaced by the similarity argmax at
        # prob 0.2 both ways; literal seed rows are preserved (the
        # reference resets only entity slots, objects/KGs.py:266-271).
        # embedding_reset_matches size-gates the exact cross join and
        # switches to the LSH-blocked argmax beyond the pair budget.
        sub_r, sup_r = embedding_reset_matches(
            embeddings_l, embeddings_r, prob=0.2, use_lsh=reset_use_lsh
        )
        state.matches_sub = state.matches_sub.filter("is_lit").unionByName(sub_r)
        state.matches_sup = state.matches_sup.filter("is_lit").unionByName(sup_r)
    if seed_links is not None:
        sub_u, sup_u = load_seed_links(seed_links, kg_l, kg_r, prob_scale=load_weight)
        state.matches_sub = force_merge(state.matches_sub, sub_u)
        state.matches_sup = force_merge(state.matches_sup, sup_u)
    return _fixpoint(kg_l, kg_r, state, cfg, gold, embeddings_l, embeddings_r, checkpoint)


def alignment_results(
    state: AlignState, kg_l: KGFrames, kg_r: KGFrames, theta: float
) -> DataFrame:
    """S9 (objects/KGs.py:373-409): one DataFrame with a ``kind`` column
    (entity / literal / relation / attribute) instead of file sections.
    Rel/attr rows are θ-thresholded like the reference."""
    names_l = kg_l.nodes.select(F.col("ent_id").alias("ent_id"), F.col("name").alias("name_l"))
    names_r = kg_r.nodes.select(F.col("ent_id").alias("counterpart_id"), F.col("name").alias("name_r"))
    ent = (
        state.matches_sub.join(names_l, "ent_id")
        .join(names_r, "counterpart_id")
        .select(
            F.when(F.col("is_lit"), F.lit("literal")).otherwise(F.lit("entity")).alias("kind"),
            "name_l",
            "name_r",
            "prob",
        )
    )
    preds_l = kg_l.predicates.select(
        F.col("pred_id"), F.col("name").alias("name_l"), F.col("is_attribute")
    )
    preds_r = kg_r.predicates.select(
        F.col("pred_id").alias("counterpart_pred_id"), F.col("name").alias("name_r")
    )
    rel = (
        state.rel_align_l.filter(F.col("prob") > theta)
        .join(F.broadcast(preds_l), "pred_id")
        .join(F.broadcast(preds_r), "counterpart_pred_id")
        .select(
            F.when(F.col("is_attribute"), F.lit("attribute")).otherwise(F.lit("relation")).alias("kind"),
            "name_l",
            "name_r",
            "prob",
        )
    )
    return ent.unionByName(rel)


def materialize(
    raw_triples: DataFrame,
    kg: KGFrames,
    canonical: DataFrame,
    side: str = "L",
    out_path: str | None = None,
    fmt: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Materialize one KG's name-level triples with canonical entity ids and
    per-partition lineage/metrics columns (north_rule). Canonical id falls
    back to the entity's own id when it joined no cluster. ``fmt`` routes
    the sink through io.write_table (Iceberg when the session has an
    Iceberg catalog, parquet otherwise).

    ``n_buckets`` adds the deterministic content-keyed ``bucket`` column
    (io.bucket_column: pmod(xxhash64(subj), n)) and, when writing, makes
    it the table's partition key — the explicit hash-partitioning of the
    triple store the north_rule asks for. Unlike ``partition_id`` (the
    physical writing partition, which varies with parallelism), ``bucket``
    is a pure function of the row: per-bucket lineage stays comparable
    across runs and cluster sizes, and co-locates subj-keyed downstream
    joins when both sides are bucketed the same way."""
    can = canonical.filter(F.col("side") == side).select("ent_id", "canonical_id")
    ids = kg.nodes.join(can, "ent_id", "left").select(
        "name",
        "is_literal",
        F.coalesce("canonical_id", F.col("ent_id")).alias("canon"),
    )
    smap = ids.filter(~F.col("is_literal")).select(
        F.col("name").alias("subj"), F.col("canon").alias("canonical_subj")
    )
    omap = ids.select(
        F.col("name").alias("o_name"),
        F.col("is_literal").alias("o_lit"),
        F.col("canon").alias("canonical_obj"),
    )
    out = (
        raw_triples.select(
            F.trim("subj").alias("subj"), F.trim("pred").alias("pred"),
            F.trim("obj").alias("obj"), "is_attr",
        )
        .join(smap, "subj", "left")
        .join(
            omap,
            (F.col("obj") == F.col("o_name")) & (F.col("o_lit") == F.col("is_attr")),
            "left",
        )
        .select(
            "subj",
            "pred",
            "obj",
            "canonical_subj",
            F.when(F.col("is_attr"), F.lit(None).cast("long"))
            .otherwise(F.col("canonical_obj"))
            .alias("canonical_obj"),
        )
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn(
            "lineage",
            F.concat(F.lit("prase_spark:"), F.lit(side), F.lit(":p"), F.col("partition_id")),
        )
    )
    if n_buckets:
        from prase_spark.io import bucket_column

        out = out.withColumn("bucket", bucket_column("subj", n_buckets))
    if out_path:
        from prase_spark.io import read_table, write_table

        used = write_table(
            out,
            out_path,
            mode="overwrite",
            fmt=fmt,
            partition_by=("bucket",) if n_buckets else None,
        )
        return read_table(out.sparkSession, out_path, fmt=used)
    return out


def partition_metrics(materialized: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics table (north_rule): row counts and
    canonicalization coverage per output partition. Keys on the
    deterministic content bucket when :func:`materialize` was given
    ``n_buckets`` (stable across cluster sizes), else on the physical
    writing partition id."""
    key = "bucket" if "bucket" in materialized.columns else "partition_id"
    return materialized.groupBy(F.col(key).alias("partition_id")).agg(
        F.count("*").alias("rows"),
        F.sum(F.col("canonical_subj").isNotNull().cast("long")).alias("subj_canonicalized"),
        F.sum(F.col("canonical_obj").isNotNull().cast("long")).alias("obj_canonicalized"),
    )


def build_kgs_from_raw(
    spark: SparkSession, raw_l: DataFrame, raw_r: DataFrame
) -> tuple[KGFrames, KGFrames]:
    """construct_kgs analog (test.py:58-71). The two builds are fully
    independent, and build_kg is eager in its expensive parts (dense-id
    localCheckpoints, node/predicate persists), so they run as concurrent
    driver-thread jobs — one build's coordination gaps execute the
    other's tasks (concurrency.materialize_concurrently)."""
    kg_l, kg_r = materialize_concurrently(
        lambda: build_kg(raw_l), lambda: build_kg(raw_r)
    )
    return kg_l, kg_r

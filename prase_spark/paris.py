"""One PARIS half-iteration as a single declarative DataFrame DAG.

Reference kernel: model/PARIS.py:81-125 (``one_iteration_one_way``) — a
per-entity Python loop over adjacency dicts with multiprocessing fan-out.
Here the same math is two shuffle joins + two broadcast joins + two hash
aggregations, so Catalyst/Tungsten run it whole-stage-codegen'd:

    facts_l(h,r,e) ⋈ matches(h→h',p_h)[θ-filtered]          (J2a, shuffle)
      ⟕ matches(e→e',p_e)                                    (J5, shuffle)
      ⋈ facts_r(h',r',t')[t' non-literal]                    (J2b, shuffle)
      ⋈ broadcast rel_align_l/r                              (J3)
      ⋈ broadcast functionality_l/r                          (J4)
    → groupBy(r)      Σ p_h·p_e                 = rel norm   (A4)
    → groupBy(r,r')   Σ p_h·p_e [t'=e']         = rel score  (A3)
    → groupBy(e,t')   Π factor → 1-Π            = noisy-OR   (A7)
    → groupBy(e)      max_by(val)               = argmax     (A8)

Semantics deviation (documented, SURVEY.md §7.4): the reference updates its
match array *while* iterating (Gauss-Seidel, nondeterministic order); we run
pure Jacobi — every read sees the previous iteration's state. Deterministic,
and converges to comparable fixpoints (the P/R≥0.95 band absorbs the
difference; the reference itself is run-to-run nondeterministic via
random.shuffle at objects/KGs.py:188).

Scale posture: matches/facts join on LONG ids; the two fact tables are
pre-partitioned by subj (kgbuild); rel-align + functionality are O(|preds|²)
sparse / O(|preds|) and always broadcast (the reference ships the same dicts
to every worker process, objects/KGs.py:140-151); θ- and δ-filters prune
before the expensive expansion exactly like the reference
(model/PARIS.py:103, 75-78); AQE skew-join splits hub h' keys, and the
product-skew guard (skew.guarded_join) salts the ones whose per-key
output product AQE cannot split.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prase_spark.concurrency import materialize_concurrently
from prase_spark.config import ParisConfig
from prase_spark.kgbuild import KGFrames
from prase_spark.normalize import clamp01
from prase_spark.seed import max_merge
from prase_spark.skew import guarded_join


@dataclass
class AlignState:
    """The iterated alignment state (objects/KGs.py:26-33)."""

    matches_sub: DataFrame  # L-side: (ent_id, counterpart_id, prob, is_lit)
    matches_sup: DataFrame  # R-side: same schema
    rel_align_l: DataFrame  # (pred_id, counterpart_pred_id, prob)
    rel_align_r: DataFrame
    iter_num: int = 0
    has_load: bool = False

    def local_checkpoint(self) -> "AlignState":
        """Truncate lineage in place (mandatory between iterations —
        iterative self-joins otherwise grow the plan exponentially,
        SURVEY.md §7.4). Parquet round-trip via checkpoint.py is the
        durable/resumable variant."""
        return AlignState(
            matches_sub=self.matches_sub.localCheckpoint(),
            matches_sup=self.matches_sup.localCheckpoint(),
            rel_align_l=self.rel_align_l.localCheckpoint(),
            rel_align_r=self.rel_align_r.localCheckpoint(),
            iter_num=self.iter_num,
            has_load=self.has_load,
        )


def _empty_rel_align(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "pred_id LONG, counterpart_pred_id LONG, prob DOUBLE"
    )


def init_state(spark, matches_sub: DataFrame, matches_sup: DataFrame) -> AlignState:
    return AlignState(
        matches_sub=matches_sub,
        matches_sup=matches_sup,
        rel_align_l=_empty_rel_align(spark),
        rel_align_r=_empty_rel_align(spark),
    )


def rel_align_update(
    cand_base: DataFrame, facts_r: DataFrame, const: float
) -> DataFrame:
    """A3+A4+A5: numerator Σ p_h·p_e over matching tails, denominator
    Σ p_h·p_e over facts with any counterpart, Laplace-style normalize
    score/(const+norm) with norm defaulting to 1.0
    (model/PARIS.py:105-115; objects/KGs.py:211-220).

    Scale note: the numerator condition ``t' == match(e)`` is an
    equi-condition, so it joins facts_r on BOTH (h', t') keys — it never
    materializes the hub-head expansion the candidate path needs. The R→L
    pass (ent_align=False) therefore costs two narrow joins total."""
    numer = (
        cand_base.filter(F.col("e_cp").isNotNull() & (F.col("p_e") > 0.0))
        .join(
            facts_r.select(
                F.col("h_cp"), F.col("r2"), F.col("t2").alias("e_cp")
            ),
            ["h_cp", "e_cp"],
        )
        .groupBy("r", "r2")
        .agg(F.sum(F.col("p_h") * F.col("p_e")).alias("score"))
    )
    norm = (
        cand_base.filter(F.col("e_cp").isNotNull())
        .groupBy("r")
        .agg(F.sum(F.col("p_h") * F.col("p_e")).alias("norm"))
    )
    return (
        numer.join(norm, "r", "left")
        .select(
            F.col("r").alias("pred_id"),
            F.col("r2").alias("counterpart_pred_id"),
            (F.col("score") / (F.lit(const) + F.coalesce(F.col("norm"), F.lit(1.0)))).alias(
                "prob"
            ),
        )
    )


def candidate_scores(
    expanded: DataFrame,
    rel_align_l: DataFrame,
    rel_align_r: DataFrame,
    cfg: ParisConfig,
    init: bool,
) -> DataFrame:
    """A7: per-(e, t') noisy-OR score 1 - Π factors (model/PARIS.py:56-78).
    Returns (e, t2, score). Split from the argmax so the driver gate can
    oracle-check the raw scores. ``expanded`` is evidence_expansion's
    output (it carries the functionality columns ``fun_l``/``fun_r``).

    Probe economy (r6, guide §2.3): the expansion stream is the job's
    biggest intermediate (r6 measurement: 54.7M rows at sf0.1, the stage
    CPU-bound on per-row hash probes), so the two rel-align lookups are
    merged into ONE (r, r2)-keyed broadcast, and the functionality
    lookups piggyback on columns the caller pre-attached to the JOIN
    INPUTS (``fun_l``/``fun_r`` — probed once per cand/fact row instead
    of once per expansion row). Every arithmetic expression and operand
    is unchanged, so scores stay bit-identical to the r5 form (the
    oracle twins replay the original association order)."""
    ral_l = rel_align_l.select(
        F.col("pred_id").alias("r"),
        F.col("counterpart_pred_id").alias("r2"),
        F.col("prob").alias("raw_sub"),
    )
    ral_r = rel_align_r.select(
        F.col("pred_id").alias("r2"),
        F.col("counterpart_pred_id").alias("r"),
        F.col("prob").alias("raw_sup"),
    )
    # one sparse (r, r2) map instead of two: same keys, same values, one
    # hash probe per expansion row
    ral = ral_l.join(ral_r, ["r", "r2"], "full_outer")
    eps = float(cfg.epsilon)
    ev = (
        expanded.join(F.broadcast(ral), ["r", "r2"], "left")
        .withColumn("p_sub", clamp01(F.coalesce("raw_sub", F.lit(0.0))) / eps)
        .withColumn("p_sup", clamp01(F.coalesce("raw_sup", F.lit(0.0))) / eps)
    )
    ev = ev.withColumn("below", (F.col("p_sub") < cfg.theta) & (F.col("p_sup") < cfg.theta))
    if init:
        # bootstrap: unknown rel-align probs default to θ (model/PARIS.py:62-64)
        ev = (
            ev.withColumn("p_sub", F.when(F.col("below"), F.lit(cfg.theta)).otherwise(F.col("p_sub")))
            .withColumn("p_sup", F.when(F.col("below"), F.lit(cfg.theta)).otherwise(F.col("p_sup")))
        )
    else:
        ev = ev.filter(~F.col("below"))
    ev = ev.drop("below")
    factor = (
        (1.0 - F.col("p_h") * F.col("p_sup") * F.coalesce("fun_r", F.lit(0.0)) / eps)
        * (1.0 - F.col("p_h") * F.col("p_sub") * F.coalesce("fun_l", F.lit(0.0)) / eps)
    )
    return (
        ev.withColumn("factor", factor)
        .filter((1.0 - F.col("factor")) > cfg.delta)       # δ-prune (model/PARIS.py:75)
        .groupBy("e", "t2")
        .agg(F.product("factor").alias("factor_prod"))
        .select("e", "t2", (1.0 - F.col("factor_prod")).alias("score"))
    )


def entity_candidates(
    expanded: DataFrame,
    rel_align_l: DataFrame,
    rel_align_r: DataFrame,
    cfg: ParisConfig,
    init: bool,
    embeddings_l: DataFrame | None = None,
    embeddings_r: DataFrame | None = None,
    fusion=None,
) -> DataFrame:
    """A8 on top of A7: optional embedding fusion, clamp, per-e argmax
    (model/PARIS.py:41-53). Returns (ent_id, counterpart_id, prob, is_lit).

    ``fusion``: optional callable (score_col, emb_e_col, emb_t_col) ->
    Column replacing the default native 0.8/0.2 weighted cosine — the
    pluggable ``fusion_func`` of the reference (objects/KGs.py:82-83);
    build pandas-UDF-backed ones with embed.pandas_fusion."""
    scored = candidate_scores(expanded, rel_align_l, rel_align_r, cfg, init)
    if not init and embeddings_l is not None and embeddings_r is not None:
        # fusion: val = w1·score + w2·cos(emb_e, emb_t2) (test.py:74-76),
        # cosine computed natively (zip_with + aggregate — JVM, no Python).
        from prase_spark.embed import cosine_expr

        emb_l = embeddings_l.select(F.col("ent_id").alias("e"), F.col("embedding").alias("emb_e"))
        emb_r = embeddings_r.select(F.col("ent_id").alias("t2"), F.col("embedding").alias("emb_t"))
        scored = (
            scored.join(emb_l, "e", "left")
            .join(emb_r, "t2", "left")
            .withColumn(
                "val",
                F.when(
                    F.col("emb_e").isNotNull() & F.col("emb_t").isNotNull(),
                    fusion(F.col("score"), F.col("emb_e"), F.col("emb_t"))
                    if fusion is not None
                    else F.lit(cfg.fusion_paris_weight) * F.col("score")
                    + F.lit(cfg.fusion_cosine_weight) * cosine_expr("emb_e", "emb_t"),
                ).otherwise(F.col("score")),
            )
        )
    else:
        scored = scored.withColumn("val", F.col("score"))
    return (
        scored.withColumn("val", clamp01(F.col("val")))
        .groupBy("e")
        .agg(F.max_by(F.struct("t2", "val"), F.struct("val", "t2")).alias("best"))
        .select(
            F.col("e").alias("ent_id"),
            F.col("best.t2").alias("counterpart_id"),
            F.col("best.val").alias("prob"),
            F.lit(False).alias("is_lit"),
        )
    )


def _expansion_inputs(
    kg_l: KGFrames, kg_r: KGFrames, matches_sub: DataFrame, theta: float
) -> tuple[DataFrame, DataFrame]:
    """J2a + J5: ``cand_base`` (facts of e whose head h has a θ-passing
    counterpart h', with e's own counterpart if any) and the non-literal
    ``facts_r`` (h', r2, t2) it expands against."""
    facts_l = kg_l.triples.filter(~F.col("obj_is_lit")).select(
        F.col("subj").alias("h"), F.col("pred").alias("r"), F.col("obj").alias("e")
    )
    m_h = matches_sub.filter(F.col("prob") >= theta).select(
        F.col("ent_id").alias("h"),
        F.col("counterpart_id").alias("h_cp"),
        F.col("prob").alias("p_h"),
    )
    # e is always an entity id (facts_l keeps ~obj_is_lit rows only, and the
    # dict encode gives entities and literals disjoint id ranges), so the
    # literal match rows — the bulk of the state right after literal seeding
    # — can never join on e: drop them BEFORE the shuffle instead of
    # carrying them through the exchange as guaranteed non-matches.
    # (m_h must keep literal rows: INV'd attribute facts have literal heads,
    # which is exactly how literal seeds inject evidence.)
    m_e = matches_sub.filter(~F.col("is_lit")).select(
        F.col("ent_id").alias("e"),
        F.col("counterpart_id").alias("e_cp"),
        F.col("prob").alias("p_e"),
    )
    facts_r = kg_r.triples.filter(~F.col("obj_is_lit")).select(
        F.col("subj").alias("h_cp"), F.col("pred").alias("r2"), F.col("obj").alias("t2")
    )
    return facts_l.join(m_h, "h").join(m_e, "e", "left"), facts_r


def _expand(
    kg_l: KGFrames, kg_r: KGFrames, cand_base: DataFrame, facts_r: DataFrame
) -> DataFrame:
    """J2b: the hub-head expansion (e, r, p_h, e_cp, p_e, r2, t2, fun_l,
    fun_r) — one row per (fact of e, fact of h') pair, mirroring the nested
    loops at model/PARIS.py:100-120. Functionality attaches to the JOIN
    INPUTS (one broadcast probe per cand/fact row, not per expansion row —
    see candidate_scores' probe-economy note), and the join itself goes
    through the product-skew guard (skew.guarded_join)."""
    fun_l = kg_l.functionality.select(
        F.col("pred_id").alias("r"), F.col("functionality").alias("fun_l")
    )
    fun_r = kg_r.functionality.select(
        F.col("pred_id").alias("r2"), F.col("functionality").alias("fun_r")
    )
    return guarded_join(
        cand_base.join(F.broadcast(fun_l), "r", "left"),
        facts_r.join(F.broadcast(fun_r), "r2", "left"),
        "h_cp",
        kg_r.triple_count(),
    ).select("e", "r", "p_h", "e_cp", "p_e", "r2", "t2", "fun_l", "fun_r")


def evidence_expansion(
    kg_l: KGFrames, kg_r: KGFrames, matches_sub: DataFrame, theta: float
) -> DataFrame:
    """J2: the θ-pruned candidate-evidence expansion, as one lazy frame
    (the iteration's own plan, without its cand_base pin)."""
    return _expand(kg_l, kg_r, *_expansion_inputs(kg_l, kg_r, matches_sub, theta))


def half_iteration(
    kg_l: KGFrames,
    kg_r: KGFrames,
    matches_sub: DataFrame,
    rel_align_l: DataFrame,
    rel_align_r: DataFrame,
    cfg: ParisConfig,
    init: bool,
    ent_align: bool = True,
    embeddings_l: DataFrame | None = None,
    embeddings_r: DataFrame | None = None,
    fusion=None,
) -> tuple[DataFrame, DataFrame | None]:
    """One directional pass: returns (new rel_align for this side,
    entity-candidate updates or None). Mirrors __run_per_iteration_one_way
    (objects/KGs.py:110-174) with Jacobi state reads."""
    cand_base, facts_r = _expansion_inputs(kg_l, kg_r, matches_sub, cfg.theta)
    # cand_base is consumed by norm, numerator, and (if ent_align) the
    # expansion — pin it; it is O(matched facts), never hub-expanded.
    cand_base = cand_base.persist()
    rel_lazy = rel_align_update(cand_base, facts_r, cfg.const)
    cands = None
    if ent_align:
        # The hub-head expansion has exactly ONE consumer (the candidate
        # scorer); its δ-filter drops hub garbage before the product-agg
        # shuffle, so the wide intermediate is streamed, never stored.
        expanded = _expand(kg_l, kg_r, cand_base, facts_r)
        cands_lazy = entity_candidates(
            expanded, rel_align_l, rel_align_r, cfg, init,
            embeddings_l, embeddings_r, fusion=fusion,
        )
        # Jacobi makes rel_new and cands mutually independent (rel_new is
        # only read NEXT iteration), so their materialization jobs overlap:
        # at sandbox volume each job is dominated by stage-scheduling
        # latency with idle cores (BENCH.md Amdahl note), and on a cluster
        # the scheduler interleaves their stages across executors.
        rel_new, cands = materialize_concurrently(
            lambda: rel_lazy.localCheckpoint(),
            lambda: cands_lazy.localCheckpoint(),
        )
    else:
        rel_new = rel_lazy.localCheckpoint()
    cand_base.unpersist()
    return rel_new, cands


def run_iteration(
    kg_l: KGFrames,
    kg_r: KGFrames,
    state: AlignState,
    cfg: ParisConfig,
    embeddings_l: DataFrame | None = None,
    embeddings_r: DataFrame | None = None,
    fusion=None,
) -> AlignState:
    """One full PARIS iteration (objects/KGs.py:104-108):
    L→R pass (ent+rel) → max-merge → bipartite → R→L pass (rel only)."""
    from prase_spark.matching import bipartite_match

    init = (not state.has_load) and state.iter_num <= 1
    rel_l_new, cands = half_iteration(
        kg_l, kg_r, state.matches_sub, state.rel_align_l, state.rel_align_r,
        cfg, init, ent_align=True,
        embeddings_l=embeddings_l, embeddings_r=embeddings_r, fusion=fusion,
    )
    # merged_sub is read by both bipartite passes but is cheap (one join of
    # two already-pinned match tables): a lazy persist lets new_sup's
    # checkpoint job materialize it in passing — one blocking job wave per
    # iteration fewer than checkpointing it separately (at 100-TB volume
    # that is one full pass over the match state saved per iteration).
    merged_sub = max_merge(state.matches_sub, cands).persist()
    new_sub, new_sup = bipartite_match(merged_sub, state.matches_sup)
    # new_sub's pass-2 filter reads new_sup; pin new_sup so the R-side rel
    # pass and the sub filter don't recompute the claim aggregation.
    new_sup = new_sup.localCheckpoint()
    # R-side rel stats read the post-bipartite sup state, ent_align=False
    # (objects/KGs.py:107). Both consumers below depend only on the pinned
    # new_sup, so the R-side pass and the final sub pin are independent
    # jobs — overlap them (see materialize_concurrently).
    rel_r_new, new_sub = materialize_concurrently(
        lambda: half_iteration(
            kg_r, kg_l, new_sup, state.rel_align_r, state.rel_align_l,
            cfg, init, ent_align=False,
        )[0],
        # pin the last lazy output too: every returned frame is
        # materialized exactly once, so callers need no second
        # checkpoint wave
        lambda: new_sub.localCheckpoint(),
    )
    merged_sub.unpersist()
    return AlignState(
        matches_sub=new_sub,
        matches_sup=new_sup,
        rel_align_l=rel_l_new,
        rel_align_r=rel_r_new,
        iter_num=state.iter_num + 1,
        has_load=state.has_load,
    )

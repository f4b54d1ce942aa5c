"""Mutual-best bipartite matching + connected-components canonicalization.

- bipartite_match: reference __ent_bipartite_matching (objects/KGs.py:222-241)
  re-expressed as two passes, claim_pass (one groupBy-argmax + one
  full-outer join) and reciprocity_pass (one join-filter), no loops.
- connected_components: NEW capability (SURVEY.md §4) — the reference only
  ever aligns two KGs 1:1; web-scale mention canonicalization needs
  transitive closure over the match graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def claim_pass(matches_sub: DataFrame, matches_sup: DataFrame) -> DataFrame:
    """Bipartite pass 1 (objects/KGs.py:222-231): each right entity adopts
    its best left claimant if that beats its current prob (strict >,
    existing wins ties — ``counterpart_prob < prob`` at :229). Returns the
    new sup state. Only entity sub rows claim; literal seed rows pass
    through untouched (the reference iterates ``entity_set``).

    Documented deviation: when two NEW claimants tie on prob exactly, we
    keep the larger ent_id (max_by struct order) whereas the reference's
    sequential id-order loop keeps the FIRST (smallest) claimant. Exact
    float ties between distinct claimants are vanishing-rare post-iteration
    1; the P/R≥0.95 parity band absorbs them, and the SQL oracle mirrors
    THIS rule so the value gate is internally exact.
    """
    claims = (
        matches_sub.filter(~F.col("is_lit"))
        .groupBy("counterpart_id")
        .agg(F.max_by(F.struct("ent_id", "prob"), F.struct("prob", "ent_id")).alias("c"))
        .select(
            F.col("counterpart_id").alias("ent_id"),
            F.col("c.ent_id").alias("new_cp"),
            F.col("c.prob").alias("new_prob"),
        )
    )
    sup = matches_sup.alias("s").join(claims.alias("c"), "ent_id", "full_outer")
    # strict >: an unset right slot has prob 0.0 in the reference, and a
    # 0.0-prob claim does NOT take it (objects/KGs.py:229).
    take_new = F.col("new_prob").isNotNull() & (
        F.col("new_prob") > F.coalesce(F.col("s.prob"), F.lit(0.0))
    )
    return sup.select(
        "ent_id",
        F.when(take_new, F.col("new_cp")).otherwise(F.col("s.counterpart_id")).alias(
            "counterpart_id"
        ),
        F.when(take_new, F.col("new_prob")).otherwise(F.col("s.prob")).alias("prob"),
        F.coalesce(F.col("s.is_lit"), F.lit(False)).alias("is_lit"),
    ).filter(F.col("counterpart_id").isNotNull())


def reciprocity_pass(matches_sub: DataFrame, new_sup: DataFrame) -> DataFrame:
    """Bipartite pass 2 (objects/KGs.py:232-241): left entity matches not
    reciprocated by the *updated* sup state (claim_pass's output; the
    reference mutates in place) are dropped. Returns the new sub state.

    Literal sup rows participate in the reciprocity lookup too: the
    reference indexes sup_ent_match[sub_counterpart_id] regardless of
    literal-ness (objects/KGs.py:236-241), so an entity force-merged onto
    a literal counterpart is cleared unless the literal points back."""
    sup_ent = new_sup.select(
        F.col("ent_id").alias("counterpart_id"),
        F.col("counterpart_id").alias("reciprocal"),
    )
    kept = (
        matches_sub.filter(~F.col("is_lit"))
        .join(sup_ent, "counterpart_id", "left")
        .filter(F.col("reciprocal").isNull() | (F.col("reciprocal") == F.col("ent_id")))
        .select("ent_id", "counterpart_id", "prob", "is_lit")
    )
    return kept.unionByName(matches_sub.filter(F.col("is_lit")))


def bipartite_match(
    matches_sub: DataFrame, matches_sup: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Enforce mutual-best 1:1 alignment (objects/KGs.py:222-241): the
    claim pass, then the reciprocity pass against its output. Returns
    lazy (new_sub, new_sup); run_iteration runs the two passes itself so
    it can pin new_sup between them."""
    new_sup = claim_pass(matches_sub, matches_sup)
    return reciprocity_pass(matches_sub, new_sup), new_sup


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + one small-star step (Kiveris et al., 'Connected
    Components in MapReduce and Beyond') over undirected edges (a, b).

    large-star: every node connects its STRICTLY LARGER neighbors to the
    min of its closed neighborhood — long chains halve toward the min.
    small-star: each edge, oriented large→small, connects the smaller
    endpoint and the center to the center's min neighbor — flattens the
    trees large-star built. Both are one groupBy + one join, all keyed on
    node ids (no growth: output edge count ≤ input edge count after the
    distinct)."""
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    large = (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(
            F.col("b").alias("a"),
            F.least(F.col("mn"), F.col("a")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ori = large.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    cmin = ori.groupBy("a").agg(F.min("b").alias("m"))
    withm = ori.join(cmin, "a")
    small = (
        withm.select(F.col("b").alias("a"), F.col("m").alias("b"))
        .unionByName(cmin.select("a", F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return small


def _is_star_forest(edges: DataFrame) -> bool:
    """True when every edge (a, b), a > b, hangs leaf a off center b:
    each node that is some edge's ``a`` occurs in no other edge. Each
    component is then one star whose center is its min node, so the
    edges are the labels (the large-star/small-star fixpoint)."""
    roles = edges.select(F.col("a").alias("n"), F.lit(1).alias("leaf")).unionByName(
        edges.select(F.col("b").alias("n"), F.lit(0).alias("leaf"))
    )
    return (
        roles.groupBy("n")
        .agg(F.max("leaf").alias("leaf"), F.count(F.lit(1)).alias("deg"))
        .filter((F.col("leaf") == 1) & (F.col("deg") > 1))
        .isEmpty()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    stats_out: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns (node, component) where component = min node id reachable.
    Runs large-star/small-star rounds (``_star_round``) until the edges
    form a star forest (``_is_star_forest``): O(log n) rounds whatever
    the component diameter, so a crawl-scale redirect or template chain
    costs a handful of rounds, and a 1:1 match graph is a star forest
    from the start (zero rounds). Every round is pinned (localCheckpoint)
    to cut lineage (mandatory for iterative joins — SURVEY.md §4).
    ``stats_out`` (dict) receives ``star_rounds``, the number of rounds
    run.
    """
    # one (larger, smaller) row per edge; self-loops and null endpoints
    # stay in this pin so every input node gets a label
    swap = F.col(src) < F.col(dst)
    pairs = (
        edges.select(
            F.when(swap, F.col(dst)).otherwise(F.col(src)).alias("a"),
            F.when(swap, F.col(src)).otherwise(F.col(dst)).alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    cur = pairs.filter(F.col("a") != F.col("b"))
    rounds = 0
    while not _is_star_forest(cur):
        if rounds == 60:  # O(log n) rounds: 60 covers any feasible n
            raise RuntimeError(
                "star-contraction components did not converge within 60 rounds"
                " — pathological id graph (expected O(log n) rounds)"
            )
        cur = _star_round(cur).localCheckpoint()
        rounds += 1
    if stats_out is not None:
        stats_out["star_rounds"] = rounds
    # every node labels itself, and each leaf also its star's center: the
    # min per node is the component
    return (
        pairs.select(F.col("a").alias("node"), F.col("a").alias("component"))
        .unionByName(pairs.select(F.col("b").alias("node"), F.col("b").alias("component")))
        .unionByName(cur.select(F.col("a").alias("node"), F.col("b").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
        .localCheckpoint()
    )


# R-side entity ids are shifted by this much in the equivalence graph of
# canonical_entity_ids, so the two KGs' dense ids never collide (L ids stay
# unshifted); a KG side would need 2^40 entities to reach it.
R_ID_OFFSET = 1 << 40


def canonical_entity_ids(matches_sub: DataFrame, threshold: float) -> DataFrame:
    """Collapse accepted match pairs into canonical cluster ids.

    Builds the equivalence graph from entity matches with prob ≥ threshold
    (R ids shifted by ``R_ID_OFFSET``) and returns (side, ent_id,
    canonical_id). NEW functionality beyond the reference's 1:1 state
    (SURVEY.md §4 item 3).
    """
    pairs = matches_sub.filter((~F.col("is_lit")) & (F.col("prob") >= threshold))
    edges = pairs.select(
        F.col("ent_id").alias("src"),
        (F.col("counterpart_id") + F.lit(R_ID_OFFSET)).alias("dst"),
    )
    comp = connected_components(edges)
    is_r = F.col("node") >= R_ID_OFFSET
    return comp.select(
        F.when(is_r, F.lit("R")).otherwise(F.lit("L")).alias("side"),
        F.when(is_r, F.col("node") - R_ID_OFFSET).otherwise(F.col("node")).alias("ent_id"),
        F.col("component").alias("canonical_id"),
    )


def incremental_components(
    mapping: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    stats_out: dict | None = None,
    with_delta: bool = False,
):
    """Merge a batch of new sameAs edges into an existing canonical-ID
    mapping WITHOUT recomputing components over the full graph.

    ``mapping`` is a prior `connected_components` output (node,
    component), component = min reachable node id; ``new_edges`` is the
    day's/batch's new equivalence evidence (endpoints may be brand-new
    nodes). NEW capability beyond the reference (it realigns its two
    in-memory KGs from scratch each run — objects/KGs.py holds no
    persistent state); a continuously-updating 10^12-mention store
    cannot.

    Scale contract — the instance-scale mapping is NEVER shuffled:
    1. each batch endpoint resolves to its current component with one
       broadcast-the-batch join against the mapping scan;
    2. components are CONTRACTED: CC runs only on the (old-comp,
       old-comp) graph the batch touches — batch-sized, not
       corpus-sized (transitive cross-batch merges collapse here);
    3. the resulting (old_comp -> new_comp) relabel map is broadcast
       back over the mapping — one more scan, no exchange — and
       brand-new nodes are unioned in.
    Labels stay canonical (min node id) because a merged component's new
    label is the min of the merged old labels, each itself a min node id.

    ``with_delta=True`` additionally returns the CHANGED rows — relabelled
    old nodes plus brand-new nodes — as a second DataFrame: the
    O(touched)-sized record a snapshot+delta store persists per batch
    instead of rewriting the O(10^12) mapping (streaming.run_incremental_cc_stream).
    """
    e = (
        new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    batch_nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # (1) resolve endpoints: broadcast the batch side so the mapping only
    # streams (never shuffles); ``seen`` is batch-sized, so the anti-join
    # for unseen nodes broadcasts batch-sized data only — the full
    # mapping's node column is never collected or broadcast
    seen = (
        mapping.join(F.broadcast(batch_nodes), "node")
        .select("node", "component")
        .localCheckpoint()
    )
    unseen = batch_nodes.join(
        F.broadcast(seen.select("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    resolved = seen.unionByName(unseen)
    ra = resolved.select(F.col("node").alias("a"), F.col("component").alias("ca"))
    rb = resolved.select(F.col("node").alias("b"), F.col("component").alias("cb"))
    contracted = (
        e.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # (2) CC over the touched-component graph only
    relabel = (
        connected_components(contracted)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("component"), F.col("component").alias("new_comp"))
    )
    if stats_out is not None:
        stats_out["touched_components"] = relabel.count()
    # (3) broadcast relabel over the mapping; brand-new nodes enter with
    # their own id as component, then relabel like everything else
    full = (
        mapping.unionByName(unseen)
        .join(F.broadcast(relabel), "component", "left")
        .select("node", F.coalesce("new_comp", "component").alias("component"))
    )
    if not with_delta:
        return full
    changed_old = (
        mapping.join(F.broadcast(relabel), "component")
        .select("node", F.col("new_comp").alias("component"))
    )
    delta = changed_old.unionByName(
        unseen.join(F.broadcast(relabel), "component", "left").select(
            "node", F.coalesce("new_comp", "component").alias("component")
        )
    )
    return full, delta


def components_min_label(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    hashed: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """(node, label) — connected components where the label is the MIN
    NODE VALUE of each component, with an optional hashed execution
    mode: ``hashed=True`` runs the CC iterations over ``xxhash64(node)``
    8-byte keys (the shuffle-payload win at 10^9+ string nodes — URL
    identity graphs, hreflang clusters) and recovers the min-value
    label afterwards with one node-table join + one per-component min.
    Output is identical to the direct mode unless two distinct node
    values collide in 64 bits (P ≈ n²·2⁻⁶⁴); ``stats_out['n_nodes']``
    is the audit denominator. Direct mode delegates straight to
    :func:`connected_components` (labels ARE min values there)."""
    if not hashed:
        comp = connected_components(edges, src=src, dst=dst, stats_out=stats_out)
        return comp.select("node", F.col("component").alias("label"))
    nodes = (
        edges.select(F.col(src).alias("u"))
        .unionByName(edges.select(F.col(dst).alias("u")))
        .distinct()
        .select("u", F.xxhash64("u").alias("h"))
    )
    if stats_out is not None:
        stats_out["n_nodes"] = nodes.count()
    h_edges = edges.select(
        F.xxhash64(src).alias("src"), F.xxhash64(dst).alias("dst")
    )
    comp = connected_components(h_edges, stats_out=stats_out)
    rep = (
        nodes.join(comp, nodes["h"] == comp["node"])
        .groupBy("component")
        .agg(F.min("u").alias("label"))
    )
    return (
        nodes.join(comp, nodes["h"] == comp["node"])
        .join(rep, "component")
        .select(F.col("u").alias("node"), "label")
    )


def compose_alignment(
    m_ab: DataFrame,
    m_bc: DataFrame,
    left_col: str = "name_l",
    right_col: str = "name_r",
    prob_col: str = "prob",
) -> DataFrame:
    """(name_a, name_c, prob): transitive alignment composition across a
    pivot KG — every a->b match in ``m_ab`` joined with every b->c match
    in ``m_bc`` on the shared middle, independence-multiplied probs.
    The multi-source fusion primitive the pairwise reference lacks:
    align(A,B) and align(B,C) compose to candidate A->C links without
    ever running A x C; composing an alignment with its own transpose
    yields within-KG coreference via the counterpart pivot (two A
    entities claiming one B entity). One equi-join on the pivot name;
    duplicate (a, c) pairs from multiple pivots are left to the caller
    (max_by / noisy-OR are both defensible merges and the caller knows
    which)."""
    a = m_ab.select(
        F.col(left_col).alias("name_a"),
        F.col(right_col).alias("__b"),
        F.col(prob_col).alias("__p1"),
    )
    b = m_bc.select(
        F.col(left_col).alias("__b"),
        F.col(right_col).alias("name_c"),
        F.col(prob_col).alias("__p2"),
    )
    return a.join(b, "__b").select(
        "name_a", "name_c", (F.col("__p1") * F.col("__p2")).alias("prob")
    )

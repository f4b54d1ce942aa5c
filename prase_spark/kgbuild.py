"""KG construction: normalize -> dict-encode -> INV-union -> functionality.

Re-expresses the reference's object-graph build (objects/KG.py:95-235,
test.py:10-55) as a handful of DataFrame jobs:

- dedup dicts by name           -> ``distinct()``                (objects/KG.py:95-143)
- dense id reassignment         -> distributed dense rank        (objects/KG.py:202-210)
- inverse-edge doubling         -> ``explode`` of each resolved  (objects/KG.py:145-157)
                                   id triple and its swapped twin
- adjacency dicts by head/tail  -> *dropped*: joins on subj/obj replace them
                                   (objects/KG.py:212-219)
- functionality per predicate   -> groupBy agg                   (objects/Relation.py:45-49)

Scale posture: ids are LONGs so every downstream shuffle moves 8-byte keys,
not URIs; triples are hash-repartitioned by ``subj`` once and cached so both
PARIS join probes reuse the partitioning; functionality/predicates are tiny
and always broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prase_spark.concurrency import materialize_concurrently
from prase_spark.ids import assign_dense_ids
from prase_spark.normalize import inv_pred_name, normalize_literal, normalize_uri

INV_SUFFIX = "-(INV)"


@dataclass
class KGFrames:
    """Columnar equivalent of the reference's ``KG`` object (objects/KG.py:8-47)."""

    nodes: DataFrame          # (ent_id, name, value, is_literal)
    predicates: DataFrame     # (pred_id, name, value, is_attribute, is_inv)
    triples: DataFrame        # (subj, pred, obj, subj_is_lit, obj_is_lit) — ids, INV included
    functionality: DataFrame  # (pred_id, functionality, functionality_inv)

    def entity_count(self) -> int:
        return self.nodes.filter(~F.col("is_literal")).count()

    def literal_count(self) -> int:
        return self.nodes.filter(F.col("is_literal")).count()

    def literals(self) -> DataFrame:
        return self.nodes.filter(F.col("is_literal"))

    def triple_count(self) -> int:
        """Memoized triples row count (the frame is pinned at build, so
        the count is stable); used by scale-gated planning decisions
        (e.g. the PARIS product-skew guard) without a per-iteration job."""
        n = getattr(self, "_n_triples", None)
        if n is None:
            n = self.triples.count()
            object.__setattr__(self, "_n_triples", n)
        return n

    def unpersist(self) -> None:
        for df in (self.nodes, self.predicates, self.triples, self.functionality):
            df.unpersist()


def build_kg(
    raw_triples: DataFrame,
    ent_norm=None,
    pred_norm=None,
    lite_norm=None,
) -> KGFrames:
    """Build the dict-encoded KG tables from raw string triples.

    ``raw_triples``: (subj:string, pred:string, obj:string, is_attr:boolean).
    Follows the reference id layout: entities 0..E-1 then literals E..E+L-1;
    relations (incl. INV) before attributes (objects/KG.py:202-210,227-228).

    ``ent_norm``/``pred_norm``/``lite_norm``: optional Column->Column
    normalizers replacing the defaults — the per-KG pluggable pre-funcs of
    the reference (objects/KG.py:9-15). Pass native column expressions (or
    a pandas-UDF-wrapped callable) — never row-at-a-time UDFs.
    """
    ent_norm = ent_norm or normalize_uri
    pred_norm = pred_norm or normalize_uri
    lite_norm = lite_norm or normalize_literal
    # Resolve FORWARD triples only and derive INV rows by swapping the
    # already-resolved ids (the INV name set is identical to the forward
    # one, so doubling the strings before dict-encode/resolution would
    # double every heavy stage — scan, node distinct, resolution joins —
    # for zero information; measured ~40% of KG-build wall at sf0.1).
    named = raw_triples.select(
        F.trim("subj").alias("subj"),
        F.trim("pred").alias("pred"),
        F.trim("obj").alias("obj"),
        "is_attr",
        F.lit(False).alias("subj_is_lit"),
        F.col("is_attr").alias("obj_is_lit"),
    ).persist()

    # --- nodes: dedup by (name, is_literal) — entity and literal namespaces
    # are distinct dicts in the reference (objects/KG.py:95-107,132-143).
    # Forward subjects/objects already cover every name the INV copy uses.
    node_names = (
        named.select(F.col("subj").alias("name"), F.col("subj_is_lit").alias("is_literal"))
        .unionByName(
            named.select(F.col("obj").alias("name"), F.col("obj_is_lit").alias("is_literal"))
        )
        .distinct()
    )
    # --- predicates: dedup by (name, is_attr); relations before attributes.
    # INV names are generated from the (tiny) distinct forward set, not
    # scanned from doubled data.
    fwd_preds = named.select(
        F.col("pred").alias("name"), F.col("is_attr").alias("is_attribute")
    ).distinct()
    pred_names = fwd_preds.withColumn("is_inv", F.lit(False)).unionByName(
        fwd_preds.select(
            inv_pred_name(F.col("name")).alias("name"),
            "is_attribute",
            F.lit(True).alias("is_inv"),
        )
    )
    # The two dict-encodes are independent (both read the pinned `named`)
    # and each is a serial chain of eager jobs (range-sort, offset
    # collect, localCheckpoint) — overlap them (concurrency module).
    nodes, predicates = materialize_concurrently(
        lambda: assign_dense_ids(node_names, ["is_literal", "name"], id_col="ent_id"),
        # The predicate dict is schema-sized (the engine broadcasts it
        # everywhere, like the reference ships its dicts to every worker):
        # a 1-partition range sort skips the RangePartitioner sampling job
        # and the per-partition offset machinery — one window task over at
        # most ~10^6 tiny rows instead of a 3-job chain.
        lambda: assign_dense_ids(
            pred_names, ["is_attribute", "name"], id_col="pred_id",
            num_partitions=1,
        ),
    )
    # Keep the raw dense-id frames for the resolution joins below: the
    # normalized ``value`` column (3-4 regex passes per name) is only read
    # by seed/lookup consumers, so computing it inside the triples critical
    # path would put the normalizers' cost into every KG build (r6 audit:
    # the resolution join prunes value anyway, but the `nodes` persist
    # would materialize it eagerly).
    id_nodes, id_preds = nodes, predicates
    nodes = nodes.withColumn(
        "value",
        F.when(F.col("is_literal"), lite_norm(F.col("name"))).otherwise(
            ent_norm(F.col("name"))
        ),
    ).select("ent_id", "name", "value", "is_literal")
    nodes = nodes.persist()
    predicates = predicates.withColumn("value", pred_norm(F.col("name"))).select(
        "pred_id", "name", "value", "is_attribute", "is_inv"
    )
    predicates = predicates.persist()

    # --- id-level triples (duplicates preserved: the reference counts dupes
    # in frequency, objects/Relation.py:39-43). One resolution pass over the
    # forward rows; the INV twin is an explode of the resolved row — no
    # second scan, no second join wave.
    n_subj = id_nodes.select(
        F.col("name").alias("subj"),
        F.col("is_literal").alias("subj_is_lit"),
        F.col("ent_id").alias("subj_id"),
    )
    n_obj = id_nodes.select(
        F.col("name").alias("obj"),
        F.col("is_literal").alias("obj_is_lit"),
        F.col("ent_id").alias("obj_id"),
    )
    p_fwd = id_preds.filter(~F.col("is_inv")).select(
        F.col("name").alias("pred"),
        F.col("is_attribute").alias("is_attr"),
        F.col("pred_id"),
    )
    p_inv = id_preds.filter(F.col("is_inv")).select(
        F.col("name").alias("inv_name"),
        F.col("is_attribute").alias("is_attr"),
        F.col("pred_id").alias("inv_pred_id"),
    )
    pmap = p_fwd.join(
        p_inv,
        (p_inv["inv_name"] == inv_pred_name(p_fwd["pred"])) & (p_fwd["is_attr"] == p_inv["is_attr"]),
    ).select("pred", p_fwd["is_attr"].alias("is_attr"), "pred_id", "inv_pred_id")
    resolved = (
        named.join(n_subj, ["subj", "subj_is_lit"])
        .join(n_obj, ["obj", "obj_is_lit"])
        .join(F.broadcast(pmap), ["pred", "is_attr"])
    )
    both = resolved.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj_id").alias("subj"),
                    F.col("pred_id").alias("pred"),
                    F.col("obj_id").alias("obj"),
                    F.col("subj_is_lit").alias("subj_is_lit"),
                    F.col("obj_is_lit").alias("obj_is_lit"),
                ),
                F.struct(
                    F.col("obj_id").alias("subj"),
                    F.col("inv_pred_id").alias("pred"),
                    F.col("subj_id").alias("obj"),
                    F.col("obj_is_lit").alias("subj_is_lit"),
                    F.col("subj_is_lit").alias("obj_is_lit"),
                ),
            )
        ).alias("t")
    ).select("t.*")
    n_part = int(raw_triples.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # One hash partitioning by subj, reused by every PARIS head-side probe.
    # Pinned with localCheckpoint, not persist: (a) it materializes NOW,
    # while `named` is still cached, so the resolution joins never re-derive
    # the raw scan; (b) it truncates lineage — the PARIS fixpoint reads
    # triples from ~8 job waves per iteration, and with full build lineage
    # each wave re-plans a 100+-operator tree (the r6 before-plans were
    # 90-140 KB of formatted text per iteration DAG); (c) checkpoint blocks
    # survive catalog-level cache clearing between queries, where a persist
    # marker does not — a cleared persist made every fixpoint wave rebuild
    # the KG from parquet (measured: +7s/iteration at sf0.1).
    triples = both.repartition(n_part, "subj").localCheckpoint()

    # --- functionality (objects/Relation.py:45-49): distinct heads / frequency.
    # Only the forward value feeds PARIS (model/PARIS.py:67 reads
    # functionality_dict); fun_inv(pred) == fun(pred-(INV)) by construction.
    # Aggregate the FORWARD half only: an INV row is its forward row
    # swapped, so fun(p-INV) = distinct-obj(p)/count(p) and
    # fun_inv(p-INV) = distinct-subj(p)/count(p) — same integer operands,
    # bit-identical doubles. Halving the agg input also halves the 3x
    # multi-distinct Expand volume (guide §2.3). The broadcast pmap probe
    # keeps forward rows only (every triples pred is either a pmap pred_id
    # or a pmap inv_pred_id).
    # Same pin rationale as triples: it is broadcast from scratch in every
    # iteration wave, so recompute-after-cache-clear costs a full agg pass.
    pid_map = pmap.select("pred_id", "inv_pred_id")
    fwd_agg = (
        triples.join(F.broadcast(pid_map), triples["pred"] == pid_map["pred_id"])
        .groupBy("pred_id", "inv_pred_id")
        .agg(
            F.countDistinct("subj").alias("__ds"),
            F.countDistinct("obj").alias("__do"),
            F.count("*").alias("__cnt"),
        )
    )
    functionality = fwd_agg.select(
        F.col("pred_id"),
        (F.col("__ds") / F.col("__cnt")).alias("functionality"),
        (F.col("__do") / F.col("__cnt")).alias("functionality_inv"),
    ).unionByName(
        fwd_agg.select(
            F.col("inv_pred_id").alias("pred_id"),
            (F.col("__do") / F.col("__cnt")).alias("functionality"),
            (F.col("__ds") / F.col("__cnt")).alias("functionality_inv"),
        )
    )
    functionality = functionality.localCheckpoint()

    named.unpersist()
    return KGFrames(nodes=nodes, predicates=predicates, triples=triples, functionality=functionality)


def kg_info(kg: KGFrames) -> dict:
    """Counts report mirroring ``print_kg_info`` (objects/KG.py:256-263):
    tuple/relation/attribute counts halved to undo INV doubling."""
    trip = kg.triples.groupBy("obj_is_lit", "subj_is_lit").count().collect()
    rel_tuples = sum(r["count"] for r in trip if not r["obj_is_lit"] and not r["subj_is_lit"])
    attr_tuples = sum(r["count"] for r in trip if r["obj_is_lit"] or r["subj_is_lit"])
    preds = kg.predicates.groupBy("is_attribute").count().collect()
    n_rel = sum(r["count"] for r in preds if not r["is_attribute"])
    n_attr = sum(r["count"] for r in preds if r["is_attribute"])
    return {
        "relation_tuples": rel_tuples // 2,
        "attribute_tuples": attr_tuples // 2,
        "entities": kg.entity_count(),
        "literals": kg.literal_count(),
        "relations": n_rel // 2,
        "attributes": n_attr // 2,
    }


def top_functionality(kg: KGFrames, is_attribute: bool, inverse: bool, num: int = 10) -> DataFrame:
    """Top-N report (objects/KG.py:266-288) — TakeOrderedAndProject, no full sort."""
    key = "functionality_inv" if inverse else "functionality"
    return (
        kg.functionality.join(
            F.broadcast(kg.predicates.filter(F.col("is_attribute") == is_attribute)), "pred_id"
        )
        .select("name", F.col(key).alias("func"))
        .orderBy(F.desc("func"), "name")
        .limit(num)
    )

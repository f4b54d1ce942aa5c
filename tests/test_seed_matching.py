"""Literal-seed join (J1), max-merge (A6), bipartite matching (J6),
connected components — unit semantics tests."""

import random

import pytest
from pyspark.sql import functions as F

from prase_spark.kgbuild import build_kg
from prase_spark.matching import bipartite_match, canonical_entity_ids, connected_components
from prase_spark.schemas import RAW_TRIPLES
from prase_spark.seed import literal_seed_matches, max_merge

MATCH_SCHEMA = "ent_id LONG, counterpart_id LONG, prob DOUBLE, is_lit BOOLEAN"


def test_literal_seed(spark):
    raw_l = spark.createDataFrame(
        [
            ("A", "name", '"alice"', True),
            ("B", "name", '"bob"^^<xsd:string>', True),
            ("C", "name", '"nomatch-l"', True),
        ],
        RAW_TRIPLES,
    )
    raw_r = spark.createDataFrame(
        [
            ("X", "label", "alice", True),
            ("Y", "label", "bob", True),
            ("Z", "label", '"nomatch-r"', True),
        ],
        RAW_TRIPLES,
    )
    kg_l, kg_r = build_kg(raw_l), build_kg(raw_r)
    sub, sup = literal_seed_matches(kg_l, kg_r)
    lit_l = {r["value"]: r["ent_id"] for r in kg_l.literals().collect()}
    lit_r = {r["value"]: r["ent_id"] for r in kg_r.literals().collect()}
    got_sub = {r["ent_id"]: r["counterpart_id"] for r in sub.collect()}
    assert got_sub == {lit_l["alice"]: lit_r["alice"], lit_l["bob"]: lit_r["bob"]}
    got_sup = {r["ent_id"]: r["counterpart_id"] for r in sup.collect()}
    assert got_sup == {lit_r["alice"]: lit_l["alice"], lit_r["bob"]: lit_l["bob"]}
    assert all(r["prob"] == 1.0 and r["is_lit"] for r in sub.collect())


def test_max_merge_new_wins_ties(spark):
    prev = spark.createDataFrame([(1, 10, 0.5, False), (2, 20, 0.9, False)], MATCH_SCHEMA)
    upd = spark.createDataFrame([(1, 11, 0.5, False), (2, 21, 0.3, False), (3, 30, 0.2, False)], MATCH_SCHEMA)
    got = {r["ent_id"]: (r["counterpart_id"], r["prob"]) for r in max_merge(prev, upd).collect()}
    # tie at 0.5 -> new wins (reference keeps update when prob >= curr)
    assert got == {1: (11, 0.5), 2: (20, 0.9), 3: (30, 0.2)}


def test_bipartite_mutual_best(spark):
    # l1 and l2 both claim r1; l1 stronger. l3 claims r3 unopposed.
    sub = spark.createDataFrame(
        [(1, 101, 0.9, False), (2, 101, 0.6, False), (3, 103, 0.7, False), (50, 150, 1.0, True)],
        MATCH_SCHEMA,
    )
    sup = spark.createDataFrame([(150, 50, 1.0, True)], MATCH_SCHEMA)
    new_sub, new_sup = bipartite_match(sub, sup)
    got_sub = {r["ent_id"]: r["counterpart_id"] for r in new_sub.collect()}
    got_sup = {r["ent_id"]: (r["counterpart_id"], r["prob"]) for r in new_sup.collect()}
    # l2's claim on r1 loses -> dropped; l1, l3 reciprocated; literal kept
    assert got_sub == {1: 101, 3: 103, 50: 150}
    assert got_sup[101] == (1, 0.9) and got_sup[103] == (3, 0.7) and got_sup[150] == (50, 1.0)


def test_bipartite_existing_sup_wins_ties(spark):
    sub = spark.createDataFrame([(1, 101, 0.5, False)], MATCH_SCHEMA)
    sup = spark.createDataFrame([(101, 9, 0.5, False)], MATCH_SCHEMA)
    new_sub, new_sup = bipartite_match(sub, sup)
    # strict >: existing sup (9, 0.5) survives; l1 not reciprocated -> dropped
    assert {r["ent_id"]: r["counterpart_id"] for r in new_sup.collect()} == {101: 9}
    assert new_sub.count() == 0


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src LONG, dst LONG"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[20] == 20


def test_canonical_entity_ids(spark):
    sub = spark.createDataFrame(
        [(1, 101, 0.9, False), (2, 101, 0.8, False), (3, 103, 0.05, False)], MATCH_SCHEMA
    )
    got = canonical_entity_ids(sub, threshold=0.1).collect()
    by_key = {(r["side"], r["ent_id"]): r["canonical_id"] for r in got}
    # 1 and 2 both ≥ θ on r101 -> same cluster; 3 below threshold -> absent
    assert by_key[("L", 1)] == by_key[("L", 2)] == by_key[("R", 101)]
    assert ("L", 3) not in by_key


def _union_find_labels(edges):
    """Pure-Python oracle: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _labels(df, stats=None):
    comp = connected_components(df, stats_out=stats)
    return {r["node"]: r["component"] for r in comp.collect()}


def test_connected_components_long_chain_job_budget(spark):
    """A 101-hop chain (crawl-scale redirect/template chains) closes in
    O(log n) large-star/small-star rounds with exact min labels, inside
    a Spark job budget that O(diameter) label propagation (~300 jobs
    here) would exceed."""
    chain = [(i, i + 1) for i in range(101)]
    df = spark.createDataFrame(chain, "src LONG, dst LONG")
    sc, group, stats = spark.sparkContext, "cc_long_chain", {}
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        got = _labels(df, stats)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == _union_find_labels(chain)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 160
    assert 1 <= stats["star_rounds"] <= 12


# chain 0..6, cycle 10-11-12-10, star around 20, bridge 6-10, self-loop 40
_MULTI_COMPONENT_EDGES = [
    *[(i, i + 1) for i in range(6)],
    (10, 11), (11, 12), (12, 10), (6, 10),
    (20, 21), (20, 22), (20, 23),
    (30, 31),
    (40, 40),
]


def _random_edges(seed=7, n_nodes=300, n_edges=320):
    # 8 components; the farthest node is 10 hops from its component's min
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]


# a 1:1 match graph (canonical_entity_ids' usual input) is already a
# star forest: labels come from the edges with no round run
_ONE_TO_ONE_EDGES = [(i, 100 + i) for i in range(20)]


@pytest.mark.parametrize(
    "edges",
    [_MULTI_COMPONENT_EDGES, _random_edges(), _ONE_TO_ONE_EDGES],
    ids=["multi_component", "random", "one_to_one"],
)
def test_connected_components_matches_union_find(spark, edges):
    stats = {}
    got = _labels(spark.createDataFrame(edges, "src LONG, dst LONG"), stats)
    assert got == _union_find_labels(edges)
    if edges is _MULTI_COMPONENT_EDGES:
        assert got[12] == 0 and got[23] == 20 and got[31] == 30 and got[40] == 40
    if edges is _ONE_TO_ONE_EDGES:
        assert stats["star_rounds"] == 0


def test_align_seed_mode_auto_falls_back_to_names(spark):
    """pipeline.align(seed_mode='auto'): disjoint literal vocabularies ->
    the literal seed is empty, the bootstrap falls back to the name seed,
    and the fixpoint still produces entity matches. seed_mode='literal'
    (reference behavior) on the same KGs yields none."""
    from prase_spark.config import ParisConfig
    from prase_spark.pipeline import align, bootstrap_seed

    n = 8
    rows_l, rows_r = [], []
    for i in range(n):
        el = f"<http://a.org/resource/Gadget_{i}>"
        er = f"http://b.org/entity/Gadget_{i}_v2"
        rows_l.append((el, "<http://a.org/ontology/next>",
                       f"<http://a.org/resource/Gadget_{(i + 1) % n}>", False))
        rows_r.append((er, "http://b.org/prop/direct/NEXT",
                       f"http://b.org/entity/Gadget_{(i + 1) % n}_v2", False))
        rows_l.append((el, "<http://a.org/ontology/tag>", f"links_{i}", True))
        rows_r.append((er, "http://b.org/prop/direct/TAG", f"droite_{i}", True))
    kg_l = build_kg(spark.createDataFrame(rows_l, RAW_TRIPLES))
    kg_r = build_kg(spark.createDataFrame(rows_r, RAW_TRIPLES))

    cfg = ParisConfig(iterations=1)
    lit_run = align(spark, kg_l, kg_r, cfg, checkpoint=False, seed_mode="literal")
    assert lit_run.state.matches_sub.filter(~F.col("is_lit")).count() == 0

    auto_run = align(spark, kg_l, kg_r, cfg, checkpoint=False, seed_mode="auto")
    assert auto_run.state.matches_sub.filter(~F.col("is_lit")).count() >= n

    import pytest

    with pytest.raises(ValueError, match="seed_mode"):
        bootstrap_seed(kg_l, kg_r, seed_mode="fuzzy")


def test_seed_from_page_clusters(spark):
    from prase_spark.seed import seed_from_page_clusters

    clusters = spark.createDataFrame(
        [
            ("u_en1", "c1"), ("u_fr1", "c1"), ("u_de1", "c1"),
            ("u_en2", "c2"), ("u_fr2a", "c2"), ("u_fr2b", "c2"),
            ("u_en3", "c3"),  # no KG-2 member -> no pair
        ],
        "url string, cluster string",
    )
    ents = spark.createDataFrame(
        [
            ("u_en1", "E1", 1), ("u_fr1", "F1", 2),
            # u_de1 unmapped on purpose
            ("u_en2", "E2", 1), ("u_fr2a", "F2", 2),
            ("u_fr2b", "F2", 2),  # duplicate entity on 2 urls -> 1 pair
            ("u_en3", "E3", 1),
        ],
        "url string, ent string, kg int",
    )
    got = sorted(
        map(tuple, seed_from_page_clusters(clusters, ents).collect())
    )
    assert got == [("E1", "F1", 1.0), ("E2", "F2", 1.0)]

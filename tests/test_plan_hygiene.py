"""Physical-plan hygiene guards (SURVEY.md §4 / scale posture): the PARIS
candidate DAG must broadcast its small sides and never degenerate into a
cartesian product; parquet scans must receive pushed filters."""

from pyspark.sql import functions as F

from prase_spark.config import ParisConfig
from prase_spark.fixtures import two_kg_fixture
from prase_spark.kgbuild import build_kg
from prase_spark.paris import candidate_scores, evidence_expansion
from prase_spark.seed import literal_seed_matches


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_candidate_plan_hygiene(spark):
    fx = two_kg_fixture(spark, n_ent=40, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    sub, _ = literal_seed_matches(kg_l, kg_r)
    cfg = ParisConfig()
    empty = spark.createDataFrame([], "pred_id LONG, counterpart_pred_id LONG, prob DOUBLE")
    cands = candidate_scores(
        evidence_expansion(kg_l, kg_r, sub, cfg.theta), empty, empty, cfg, True
    )
    plan = _plan(cands)
    assert "CartesianProduct" not in plan
    # rel-align + functionality lookups are explicit broadcasts (J3/J4)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # the noisy-OR product aggregation stays a hash aggregate
    assert "HashAggregate" in plan


def test_iteration_runs_claim_aggregation_once(spark, monkeypatch):
    """One run_iteration pins each state frame once, and only the pinned
    new sup state runs the bipartite claim aggregation: the reciprocity
    pass reads that pin instead of re-deriving the claims."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from prase_spark.paris import init_state, run_iteration

    fx = two_kg_fixture(spark, n_ent=40, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    sub, sup = literal_seed_matches(kg_l, kg_r)
    state = init_state(spark, sub, sup)
    plans = []
    pin = ClassicDataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(_plan(self))
        return pin(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", spy)
    run_iteration(kg_l, kg_r, state, ParisConfig())
    assert len(plans) == 5  # rel_align_l, candidates, sup, rel_align_r, sub
    assert sum("max_by(struct(ent_id" in p for p in plans) == 1


def test_scan_pushdown(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    q = df.filter(F.col("o_orderkey") % 7 != 0).select("o_orderkey")
    plan = _plan(q)
    # column pruning reaches the parquet scan: only the selected column read
    assert "ReadSchema: struct<o_orderkey" in plan


def test_no_cartesian_in_alignment_results(spark):
    from prase_spark.pipeline import align, alignment_results

    fx = two_kg_fixture(spark, n_ent=30, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    run = align(spark, kg_l, kg_r, ParisConfig(iterations=1), checkpoint=False)
    res = alignment_results(run.state, kg_l, kg_r, 0.1)
    assert "CartesianProduct" not in _plan(res)


def test_star_round_plan_hygiene(spark):
    """One large-star/small-star round: node-id-keyed aggregations and
    joins only — no cartesian product, no broadcast of the (at scale,
    huge) edge table's full side needed for correctness, and the groupBys
    stay hash aggregates on the id keys."""
    from prase_spark.matching import _star_round

    edges = spark.range(1000).select(
        F.col("id").alias("a"), ((F.col("id") * 7 + 1) % 1000).alias("b")
    )
    plan = _plan(_star_round(edges))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    # every exchange is keyed on a node-id column, never a full-row key
    assert "hashpartitioning(a" in plan


def test_bpe_plan_hygiene(spark):
    """The BPE merge loop must read a materialized vocab: on an
    unpersisted one, Catalyst pushes the pair explode's implicit
    non-empty filter below the word aggregate and recomputes
    size(zip_with(...)) per CORPUS token occurrence (interpreted HOF on
    the corpus-sized stream). Persisted — the bpe_train path — the
    filter pins to the vocab-sized InMemory scan."""
    from prase_spark.datapipe.bpetrain import (
        char_symbols,
        pair_counts,
        word_table,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 7}") for i in range(50)],
        "doc_id LONG, text STRING",
    )
    vocab = word_table(docs).withColumn("syms", char_symbols("word")).persist()
    try:
        vocab.count()
        plan = _plan(pair_counts(vocab))
        assert "InMemoryTableScan" in plan
        # everything above the cache scan reads the cached syms column —
        # nothing rebuilds the symbol chain from word (i.e. no filter
        # escaped below the materialization onto the corpus stream; the
        # text after the scan marker is the cached relation's own
        # definition, which legitimately mentions the chain)
        above_scan = plan.split("InMemoryTableScan")[0]
        assert "split(word" not in above_scan and "explode(filter" not in above_scan
    finally:
        vocab.unpersist()


def test_linkgraph_robots_plan_hygiene(spark):
    """Round-5 crawl surfaces: extraction is exchange-free; the robots
    rule table broadcasts into the page side; no cartesian anywhere."""
    from prase_spark.datapipe.robots import parse_robots, robots_allowed
    from prase_spark.linkgraph import extract_links

    pages = spark.range(200).select(
        F.concat(F.lit("https://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".org/d/p"), F.col("id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit('<a href="/x.html">L</a>'),
                          F.col("id").cast("string")), "utf-8").alias("html"),
    )
    links_plan = _plan(extract_links(pages))
    assert "Exchange" not in links_plan  # one scan, zero shuffles
    rules = parse_robots(
        spark.createDataFrame(
            [("h0.org", "User-agent: *\nDisallow: /d\n")],
            "host string, body string",
        )
    )
    verdict_plan = _plan(robots_allowed(pages, rules))
    assert "CartesianProduct" not in verdict_plan
    assert "BroadcastHashJoin" in verdict_plan  # rules side broadcast


def test_redirect_doubling_join_count(spark):
    """Pointer doubling is a constant number of equi-joins (5 for
    max_hops=32), independent of chain length — the plan must show no
    cartesian and no more than rounds+1 shuffle-producing joins."""
    from prase_spark.datapipe.urlnorm import resolve_redirects

    edges = spark.createDataFrame(
        [("u%d" % i, "u%d" % (i - 1)) for i in range(1, 20)],
        "src string, dst string",
    )
    plan = _plan(resolve_redirects(edges))
    assert "CartesianProduct" not in plan


def test_round5_crawl_surface_plan_hygiene(spark):
    """The round-5 head-declaration / feed scans must stay exchange-free
    map stages (they ride the corpus scan at 10^12 pages), and
    fact_history must reuse ONE hash exchange across both windows and
    the island collapse (all keyed on subj, pred)."""
    from prase_spark.datapipe.feeds import discover_feeds, parse_feeds
    from prase_spark.extract import extract_og_properties
    from prase_spark.linkgraph import extract_hreflang
    from prase_spark.temporal import fact_history

    pages = spark.createDataFrame(
        [("https://h.org/p", b"<html><head></head><body>x</body></html>")] * 8,
        "url string, html binary",
    )
    for df in (
        extract_hreflang(pages),
        extract_og_properties(pages),
        discover_feeds(pages),
    ):
        assert "Exchange" not in _plan(df)

    feeds = spark.createDataFrame(
        [("h.org", "<rss><channel></channel></rss>")] * 8,
        "host string, body string",
    )
    # the rss/atom branches are a union of two map stages — still no
    # exchange anywhere in the plan
    assert "Exchange" not in _plan(parse_feeds(feeds))

    facts = spark.createDataFrame(
        [("S%d" % (i % 5), "p", "v%d" % (i // 10), i) for i in range(40)],
        "subj string, pred string, obj string, ts long",
    )
    fh = fact_history(facts)
    fh.collect()
    # AQE plan strings carry a "== Initial Plan ==" echo — count the
    # FINAL plan only; both windows plus the start filter must share a
    # single hash exchange (and a single sort) on (subj, pred)
    final = _plan(fh).split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1
    assert final.count("Sort ") == 1


def test_graph_scoring_plan_hygiene(spark):
    """HITS / PPR / walks (round 5): the one-row normalizer rides a
    broadcast nested-loop (never a real cartesian over data-scale
    frames), the per-iteration joins stay hash joins on node keys, and
    the walk step is a single equi-join + projection."""
    from prase_spark.graphstats import hits, personalized_pagerank
    from prase_spark.walks import random_walks

    edges = spark.range(300).selectExpr(
        "concat('n', id % 40) AS src", "concat('n', (id * 7) % 40) AS dst"
    )
    h = hits(edges, iterations=1)
    plan = _plan(h)
    # the k-normalizer is a one-row broadcast: BroadcastNestedLoopJoin is
    # expected and bounded; an unbounded CartesianProduct is not
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    seeds = spark.createDataFrame([("n1",)], "node STRING")
    p = personalized_pagerank(edges, seeds, iterations=1)
    assert "CartesianProduct" not in _plan(p)

    w = random_walks(edges, walk_length=2)
    wplan = _plan(w)
    assert "CartesianProduct" not in wplan
    # the chooser is pure projection: no window, no sort over the corpus
    assert "Window" not in wplan


def test_projection_and_pq_plan_hygiene(spark):
    """Random projection must be shuffle-free (one codegen projection);
    PQ encode's codebook joins must broadcast."""
    from prase_spark.datapipe.pq import pq_codebook_df, pq_encode
    from prase_spark.datapipe.simsearch import projection_signs, random_projection

    import numpy as np

    emb = spark.range(200).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 15), j -> CAST(pmod(xxhash64(id, j), 97) "
        "AS DOUBLE)) AS embedding",
    )
    rp = random_projection(emb, projection_signs(16, 4))
    rplan = _plan(rp)
    assert "Exchange" not in rplan  # zero shuffles
    books = np.zeros((2, 4, 8))
    enc = pq_encode(emb, pq_codebook_df(spark, books), m=2, dsub=8)
    eplan = _plan(enc)
    assert "CartesianProduct" not in eplan
    assert "BroadcastExchange" in eplan or "BroadcastHashJoin" in eplan


def test_metablock_plan_hygiene(spark):
    """Meta-blocking: no cartesian product anywhere; the purged-token
    table (small by construction) broadcasts into block filtering; WNP
    endpoint means are hash aggregates, never windows."""
    from prase_spark.metablock import meta_block_candidates

    l = spark.range(200).selectExpr(
        "id AS key", "concat('alpha beta w', id % 17, ' gamma') AS name"
    )
    r = spark.range(200).selectExpr(
        "id + 1000 AS key", "concat('alpha beta w', id % 17, ' delta') AS name"
    )
    plan = _plan(meta_block_candidates(l, r, scheme="wnp"))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan

    # the WNP pruning STAGE itself is window-free (hash aggs joined
    # back); the only windows in the composed pipeline are the
    # per-entity block-filter ranks, whose group size is tokens/name
    from prase_spark.metablock import prune_wnp

    edges = spark.range(500).selectExpr(
        "id % 50 AS key_l", "id % 37 + 1000 AS key_r", "id % 5 + 1 AS w"
    )
    assert "Window" not in _plan(prune_wnp(edges))


def test_prefix_join_plan_hygiene(spark):
    """Prefix-filter join: no cartesian product; the per-key prefix
    selection windows partition by record key (bounded groups), and the
    verify joins are hash/broadcast equi-joins."""
    from prase_spark.datapipe.setjoin import prefix_jaccard_join

    docs = spark.range(300).selectExpr(
        "id AS doc_id",
        "concat('tok', id % 29, ' tok', id % 31, ' tok', id % 7, ' filler common') AS text",
    )
    plan = _plan(prefix_jaccard_join(docs, threshold_pct=80))
    assert "CartesianProduct" not in plan


def test_cms_lookup_broadcasts_sketch(spark):
    """The sketch side (<= depth*width rows) must broadcast into the
    probe join."""
    from prase_spark.datapipe.sketches import cms_lookup, count_min

    df = spark.range(500).selectExpr("concat('v', id % 40) AS v")
    cms = count_min(df, "v", depth=4, width=64)
    keys = df.select("v").distinct()
    plan = _plan(cms_lookup(cms, keys, "v", depth=4, width=64))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

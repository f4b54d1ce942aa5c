"""Graph analytics over the constructed KG: entity degrees and a
PageRank-style centrality for ranking canonical entities.

The reference stops at alignment (objects/KGs.py:373-438 emits links and
triples; it never ranks them). At 100-TB construction scale the graph
itself becomes the product, and the first questions a consumer asks are
structural: which canonical entities are hubs, which are orphans, how
skewed is the degree distribution (that skew is also exactly what the
PARIS product-skew guard and AQE skew handling must absorb — ``degrees``
is the tool for measuring it).

Scale shape:
- :func:`degrees` is one union + one groupBy over the edge list — a
  single shuffle with map-side partial aggregation, no joins.
- :func:`pagerank` keeps ranks as scaled BIGINTs (``rank_e12``) and
  splits a node's rank across its out-edges with integer floor division,
  so every aggregation is an associative integer sum: results are
  bit-identical regardless of partition count, executor count, or engine
  (the correctness gate hashes Spark against a DuckDB twin — impossible
  with float ranks, whose sum order is partition-dependent). Each
  iteration is one join on ``src`` (rank is node-keyed, edges are
  pre-joined with out-degrees once and pinned) plus one shuffle on
  ``dst``; lineage is truncated with ``localCheckpoint`` every
  ``checkpoint_every`` iterations so a 50-iteration run plans as 50
  shallow jobs, not one exponentially nested plan (same doctrine as the
  PARIS fixpoint, paris.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: default fixed-point scale: ranks are stored as rank * 10^12. The
#: damping step computes (damping_e2 * s) // 100 via the overflow-free
#: decomposition (s // 100) * d + ((s % 100) * d) // 100, which is exact
#: (s = 100q + r gives both forms == d*q + (d*r)//100), so the largest
#: intermediate is ~0.85 * (total in-rank of the biggest hub). With the
#: default scale a hub may absorb up to n * 10^12 rank; keep
#: n * scale < 2^63 (n beyond ~4.6e6 nodes: pass scale=10**9, which
#: still carries 9 exact decimal digits of rank mass per node).
PAGERANK_SCALE = 10**12

#: round cap of coreness_hindex's run-to-fixpoint mode (iterations=None);
#: the h-operator converges in graph-diameter-ish rounds in practice.
CORENESS_MAX_ITERATIONS = 100


def degrees(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node (node, out_deg, in_deg) over a directed edge list.

    Multi-edges count once each (parallel edges are real signal in a
    triple store — one per asserting triple). Single shuffle: the edge
    list is exploded into (node, is_out) rows and summed.
    """
    ends = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("node"), F.lit(1).alias("o")),
                F.struct(F.col(dst).alias("node"), F.lit(0).alias("o")),
            )
        ).alias("e")
    ).select("e.*")
    return ends.groupBy("node").agg(
        F.sum("o").cast("long").alias("out_deg"),
        F.sum(1 - F.col("o")).cast("long").alias("in_deg"),
    )


def _damp_sql(s: str, damping_e2: int) -> str:
    """SQL for exact (damping_e2 * s) // 100 without overflowing the
    product: (s DIV 100) * d + ((s % 100) * d) DIV 100 == (s * d) DIV 100
    (write s = 100q + r; both forms equal d*q + (d*r) DIV 100). Spark's
    ``DIV`` and DuckDB's ``//`` truncate identically on non-negative
    longs, so the same formula is the oracle twin."""
    d = int(damping_e2)
    return f"(({s}) DIV 100) * {d} + ((({s}) % 100) * {d}) DIV 100"


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_e2: int = 85,
    src: str = "src",
    dst: str = "dst",
    scale: int = PAGERANK_SCALE,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank returning (node, rank_e12) with ranks as
    scaled integers (``rank * scale``), deterministic to the bit.

    Semantics (the documented deterministic variant):
    - every node starts at ``scale`` (i.e. rank 1.0);
    - each iteration a node keeps ``(100 - damping_e2)%`` of the unit
      base and receives ``damping_e2%`` of the floor-divided shares of
      its in-neighbors' current ranks;
    - dangling-node mass (nodes with no out-edges) is dropped, not
      redistributed — redistribution needs a global scalar per iteration
      (an extra job) and changes no ordering at the head of the ranking,
      which is what KG triage consumes. Floor division leaks < 1 unit of
      scaled mass per (node, out-edge): with scale 10^12 the relative
      error is ~1e-12 per hop, far below any ranking decision, and —
      unlike float summation — identical on every run and engine.

    ``damping_e2`` is the damping factor in percent (85 = the classic
    0.85). Iterations are fixed rather than convergence-tested so the
    job graph is static and the result is gate-hashable; at crawl scale
    run ~20-30 iterations (rank mass stabilizes geometrically in
    ``damping``).
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    base = ((100 - damping_e2) * scale) // 100

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .persist()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    # pre-join the share denominator once; every iteration reuses this
    # pinned, already-partitioned frame (the join inside the loop is then
    # rank ⋈ edges on src only)
    ed = e.join(out_deg, "src").persist()
    ed.count()

    rank = nodes.select("node", F.lit(scale).cast("long").alias("rank_e12"))
    for i in range(iterations):
        contrib = (
            ed.join(rank, ed["src"] == rank["node"])
            # DIV: Spark's exact integer division — `/` on longs computes
            # in double and rounds past 2^53, which would break the
            # bit-determinism contract
            .selectExpr("dst AS node", "rank_e12 DIV out_deg AS share")
            .groupBy("node")
            .agg(F.sum("share").alias("in_mass"))
        )
        rank = (
            nodes.join(contrib, "node", "left")
            .selectExpr(
                "node",
                "coalesce(in_mass, CAST(0 AS LONG)) AS in_mass",
            )
            .selectExpr(
                "node",
                f"CAST({base} AS LONG) + "
                f"{_damp_sql('in_mass', damping_e2)} AS rank_e12",
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            rank = rank.localCheckpoint()

    return rank


def _simple_undirected(edges: DataFrame, src: str, dst: str):
    """(und, deg): the canonical undirected simple edge list (a < b,
    self-loops and parallel/reverse duplicates collapsed) and per-node
    simple degree."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        e.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return und, deg


def _triangles(edges: DataFrame, src: str, dst: str):
    """(tri, und): one row per distinct triangle (u = lowest corner in
    degree order, v < w by node) over the undirected simplification, and
    the canonical simple edge list it was derived from.

    The compact-forward / degree-orientation algorithm: orient each
    undirected edge from its lower-(degree, node) endpoint to the higher
    one, enumerate out-wedges (u→v, u→w), and close them against the
    canonical edge set. Orientation bounds every node's out-degree by
    O(sqrt(m)) on any graph, so the wedge join — the only superlinear
    step — generates O(m^1.5) candidates worst-case instead of the
    O(m·max_deg) a naive neighbor join pays on a hub (a crawl host with
    10^7 links would otherwise explode). Every step is an equi-join on
    node or canonical-pair keys: AQE skew handling applies, nothing
    depends on partitioning, and each triangle is emitted exactly once
    (unique lowest corner; v < w canonicalizes the rest)."""
    und, deg = _simple_undirected(edges, src, dst)
    # und already has a < b, so <= breaks degree ties by node order
    ori = (
        und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(F.col("da") <= F.col("db"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(F.col("da") <= F.col("db"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("v"),
        )
    )
    e1 = ori.select("u", F.col("v").alias("x"))
    e2 = ori.select("u", F.col("v").alias("y"))
    wedges = e1.join(e2, "u").filter(F.col("x") < F.col("y"))
    tri = wedges.join(
        und, (wedges["x"] == und["a"]) & (wedges["y"] == und["b"])
    ).select("u", F.col("x").alias("v"), F.col("y").alias("w"))
    return tri, und


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """One row (n_triangles BIGINT): distinct triangles in the undirected
    simplification (self-loops and parallel/reverse duplicates ignored)."""
    tri, _ = _triangles(edges, src, dst)
    return tri.agg(F.count("*").cast("long").alias("n_triangles"))


def node_triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, triangles) for every node on at least one triangle — the
    local-clustering numerator (pair with :func:`degrees` for the
    coefficient). Each triangle credits all three corners once; the
    per-node sum over the graph is 3x :func:`triangle_count`."""
    tri, _ = _triangles(edges, src, dst)
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select("v"))
        .unionAll(tri.select("w"))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("triangles")
    )


def link_candidates(
    edges: DataFrame,
    min_common: int = 2,
    max_middle_deg: int = 10_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Link prediction by neighborhood overlap: (a, b, common,
    jaccard_e6) for every NON-edge pair sharing >= ``min_common``
    neighbors, with the Jaccard overlap |N(a) ∩ N(b)| / |N(a) ∪ N(b)| in
    exact integer micro-units (common * 10^6 div (d_a + d_b - common) —
    no double at the sink). In KG terms: entity pairs the graph topology
    says are probably the same or related, a structural complement to
    the literal/embedding blockers feeding PARIS seeds.

    Scale shape: candidate pairs are generated only through shared
    middles (one self-join of the adjacency list on the middle node), so
    the cost is sum over middles of d^2 — which is exactly why
    ``max_middle_deg`` exists: a crawl-scale hub (a "United States"
    entity with 10^7 neighbors) would alone contribute 10^14 wedge pairs,
    and dropping middles above the cap is the same hot-key doctrine as
    ``max_shingle_df`` in the n-gram deduper (stop-middles carry little
    signal per pair precisely because they are common). The per-pair
    count aggregation and the anti-join against existing edges are plain
    shuffles on pair keys; nothing depends on partitioning."""
    und, deg = _simple_undirected(edges, src, dst)
    adj = und.select(F.col("a").alias("m"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("m"), F.col("a").alias("n"))
    )
    ok_mid = deg.filter(F.col("d") <= max_middle_deg).select(
        F.col("node").alias("m")
    )
    adj = adj.join(ok_mid, "m")
    e1 = adj.select("m", F.col("n").alias("x"))
    e2 = adj.select("m", F.col("n").alias("y"))
    pairs = (
        e1.join(e2, "m")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    non_edges = pairs.join(
        und, (pairs["x"] == und["a"]) & (pairs["y"] == und["b"]), "left_anti"
    )
    return (
        non_edges.join(deg.select(F.col("node").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("node").alias("y"), F.col("d").alias("dy")), "y")
        .select(
            F.col("x").alias("a"),
            F.col("y").alias("b"),
            F.col("common").cast("long").alias("common"),
            F.expr(
                "CAST(common * CAST(1000000 AS BIGINT)"
                " DIV (dx + dy - common) AS BIGINT)"
            ).alias("jaccard_e6"),
        )
    )


def link_candidates_ra(
    edges: DataFrame,
    min_common: int = 2,
    max_middle_deg: int = 10_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Link prediction by the resource-allocation index (Zhou et al.
    2009): (a, b, common, ra_e6) over non-edge pairs, where ra_e6 sums
    ``10^6 DIV deg(middle)`` across shared neighbors — rare shared
    neighbors count more, the exact-integer cousin of Adamic-Adar
    (whose 1/ln(deg) is transcendental and would break the value-hash
    doctrine; RA outperforms AA on dense graphs in the original study
    anyway). Same wedge generation, hub cap, and anti-join shape as
    :func:`link_candidates`; the only change is the per-middle weight
    carried through the pair aggregation."""
    und, deg = _simple_undirected(edges, src, dst)
    adj = und.select(F.col("a").alias("m"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("m"), F.col("a").alias("n"))
    )
    mid = deg.filter(F.col("d") <= max_middle_deg).select(
        F.col("node").alias("m"),
        F.expr("CAST(1000000 AS BIGINT) DIV d").alias("w"),
    )
    adj = adj.join(mid, "m")
    e1 = adj.select("m", F.col("n").alias("x"), "w")
    e2 = adj.select("m", F.col("n").alias("y"))
    pairs = (
        e1.join(e2, "m")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum("w").cast("long").alias("ra_e6"),
        )
        .filter(F.col("common") >= min_common)
    )
    return pairs.join(
        und, (pairs["x"] == und["a"]) & (pairs["y"] == und["b"]), "left_anti"
    ).select(F.col("x").alias("a"), F.col("y").alias("b"), "common", "ra_e6")


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    seeds: DataFrame | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Deterministic synchronous label propagation returning
    (node, label) — community detection over the canonical-entity /
    host link graph (Raghavan et al. 2007, made gate-hashable).

    The reference never clusters its graph; at crawl scale communities
    are how mirror farms, topic silos and same-site entity clouds are
    found before alignment (a PARIS candidate pair across two tight
    communities is prior-suspect).

    Semantics (the documented deterministic variant):
    - edges are treated as undirected; every endpoint starts labeled
      with itself, unless ``seeds`` (node, label) pins starting labels
      (semi-supervised typing: labeled seeds + ``iterations`` hops);
    - each iteration EVERY node simultaneously takes the most frequent
      label among its neighbors' current labels, ties -> MIN label
      (total order, so the update is a pure function of the previous
      state — no update-order dependence, unlike asynchronous LPA);
    - isolated nodes (and seeds-only nodes with no edges) keep their
      label.

    Iterations are fixed, not convergence-tested: synchronous LPA can
    2-cycle on bipartite regions, so a fixed horizon is both the
    termination guarantee and what makes the result value-hashable.

    Scale shape: one groupBy(dst, label) count (map-side combinable —
    the fan-in of a hub collapses per partition before the shuffle) +
    one min_by argmax per iteration, both on the same ``dst`` key so
    the exchange is reused; lineage truncated every
    ``checkpoint_every`` iterations (pagerank doctrine). No windows,
    no per-node state larger than one label.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        e.union(e.select(F.col("b"), F.col("a")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    nodes = und.select(F.col("a").alias("node")).distinct()
    if seeds is not None:
        s = seeds.select("node", "label")
        nodes = nodes.unionByName(s.select("node")).distinct()
        lab = (
            nodes.join(s, "node", "left")
            .select("node", F.coalesce("label", F.col("node")).alias("label"))
        )
    else:
        lab = nodes.select("node", F.col("node").alias("label"))
    lab = lab.persist()
    lab.count()

    for i in range(iterations):
        votes = (
            und.join(lab, und["a"] == lab["node"])
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        winner = votes.groupBy("node").agg(
            # most frequent label, ties -> min label: min_by over the
            # (-cnt, label) struct (cnt is a long, negation exact)
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("o"), F.col("label"))
            ).alias("new_label")
        )
        lab = (
            lab.join(winner, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", F.col("label")).alias("label"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            lab = lab.localCheckpoint()
    return lab


def k_hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_hops: int = 3,
    directed: bool = True,
    checkpoint_every: int = 1,
    stats_out: dict | None = None,
) -> DataFrame:
    """Multi-source BFS: DataFrame[node, depth] with depth the MINIMUM
    hop count (0 = seed) from any seed node, truncated at ``max_hops``
    — the "k-hop neighborhood of these entities" query every KG
    consumer runs (subgraph extraction around aligned entities,
    crawl-frontier scoping, GNN sampling fan-out).

    Frontier BFS over the node set: level d's frontier is exactly the
    nodes first reached at depth d (earlier-reached nodes are
    anti-joined out), so first discovery IS the min depth — the same
    invariant as `closure.transitive_closure`, but over NODES from a
    seed set rather than all reachability pairs, which is what makes it
    safe on an INSTANCE-scale graph: the working set is one frontier
    (change-volume-sized), never O(V * ancestors). Each level is one
    equi-join frontier->edges plus one distinct and one anti-join; AQE
    broadcasts the frontier while it is small. ``directed=False``
    unions the reversed edge set (plan-level, no second scan of the
    source). Levels localCheckpoint to keep lineage flat.

    ``stats_out``: ``levels`` (deepest populated depth) and
    ``frontier_sizes`` (list, index = depth).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col("s").isNotNull() & F.col("d").isNotNull()
    )
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
        )
    visited = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("int").alias("depth"))
        .localCheckpoint()
    )
    frontier = visited
    sizes = [visited.count()]
    depth = 0
    while depth < max_hops:
        nxt = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select(
                "node", F.lit(depth + 1).cast("int").alias("depth")
            )
        )
        if (depth + 1) % checkpoint_every == 0:
            nxt = nxt.localCheckpoint()
        n = nxt.count()
        if n == 0:
            break
        sizes.append(n)
        depth += 1
        visited = visited.unionByName(nxt)
        frontier = nxt
    if stats_out is not None:
        stats_out["levels"] = depth
        stats_out["frontier_sizes"] = sizes
    return visited


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    scale: int = PAGERANK_SCALE,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) returning
    (node, auth_e12, hub_e12) as scaled BIGINTs, deterministic to the
    bit — the hubs-and-authorities complement to :func:`pagerank` for
    the host link graph (linkgraph.host_link_graph): directories and
    sitemaps score as hubs, canonical content hosts as authorities,
    which is exactly the split a crawl scheduler and a KG
    source-trust prior consume.

    Semantics (the documented deterministic variant):
    - every node starts with hub = ``scale`` (1.0);
    - each iteration: auth_raw(v) = sum of hub over in-neighbors, then
      hub_raw(u) = sum of the NEW auth over out-neighbors (the classic
      half-step ordering);
    - normalization replaces the L2 norm (irrational, float-only) with
      an exact integer rescale: k = max(raw) DIV scale + 1 and
      value = raw DIV k, which pins every score into [0, scale] with
      pure integer arithmetic. The normalizer is a one-row aggregate
      broadcast-crossJoined back (no driver collect, no global sort) —
      the same accepted one-row-broadcast pattern as colloc.py.
    - nodes with no in-edges get auth 0; no out-edges, hub 0. Parallel
      edges count once each (same edge semantics as pagerank).

    Scale shape: per half-step one equi-join (scores are node-keyed)
    + one map-side-combinable groupBy + a one-row aggregate; the edge
    list is pinned once and reused. Overflow bound: a hub's raw auth
    mass is <= in_deg * scale; keep max_degree * scale < 2^63 (degrees
    beyond ~4.6e6: pass scale=10**9, same caveat as PAGERANK_SCALE).
    Lineage localCheckpoints every ``checkpoint_every`` iterations.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .persist()
    )
    nodes.count()

    def _rescale(raw: DataFrame, out_col: str) -> DataFrame:
        # exact integer normalizer: k = max(raw) DIV scale + 1
        k = raw.selectExpr(
            f"coalesce(max(raw), CAST(0 AS LONG)) DIV {int(scale)} + 1 AS k"
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(k))
            .selectExpr(
                "node",
                f"coalesce(raw, CAST(0 AS LONG)) DIV k AS {out_col}",
            )
        )

    hub = nodes.select("node", F.lit(int(scale)).cast("long").alias("hub_e12"))
    auth = nodes.select("node", F.lit(0).cast("long").alias("auth_e12"))
    for i in range(iterations):
        a_raw = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy(e["dst"].alias("node"))
            .agg(F.sum("hub_e12").alias("raw"))
        )
        auth = _rescale(a_raw, "auth_e12")
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy(e["src"].alias("node"))
            .agg(F.sum("auth_e12").alias("raw"))
        )
        hub = _rescale(h_raw, "hub_e12")
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            auth = auth.localCheckpoint()
            hub = hub.localCheckpoint()
    return auth.join(hub, "node")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_e2: int = 85,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    scale: int = PAGERANK_SCALE,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Personalized PageRank (node, rank_e12): :func:`pagerank` with the
    teleport mass restricted to ``seeds`` — the KG-proximity scorer
    ("which entities are close to THESE?") behind related-entity
    panels, candidate expansion around aligned seed pairs, and
    crawl-frontier prioritization from trusted hosts.

    Same exact-integer doctrine as :func:`pagerank` (scaled-BIGINT
    ranks, truncating shares, overflow-free damping), same per-iteration
    shape (one join on ``src`` + one shuffle on ``dst``); the only
    change is the base term: seeds start at ``scale`` and receive the
    ``(100 - damping_e2)%`` restart mass every iteration, non-seeds
    start at 0 and receive none — so all rank mass is reachability from
    the seed set and far-away nodes stay exactly 0 (they never enter
    the rank frame at all until mass reaches them; the output left-join
    restores them as explicit zeros)."""
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    base = ((100 - damping_e2) * scale) // 100

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .persist()
    )
    seed_nodes = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .join(nodes, "node")  # seeds outside the graph carry no edges
        .persist()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ed = e.join(out_deg, "src").persist()
    ed.count()

    rank = seed_nodes.select(
        "node", F.lit(int(scale)).cast("long").alias("rank_e12")
    )
    for i in range(iterations):
        contrib = (
            ed.join(rank, ed["src"] == rank["node"])
            .selectExpr("dst AS node", "rank_e12 DIV out_deg AS share")
            .groupBy("node")
            .agg(F.sum("share").alias("in_mass"))
        )
        rank = (
            contrib.join(seed_nodes.withColumn("__s", F.lit(1)), "node", "full")
            .selectExpr(
                "node",
                "coalesce(in_mass, CAST(0 AS LONG)) AS in_mass",
                "coalesce(__s, 0) AS __s",
            )
            .selectExpr(
                "node",
                f"CAST({base} AS LONG) * __s + "
                f"{_damp_sql('in_mass', damping_e2)} AS rank_e12",
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            rank = rank.localCheckpoint()
    return (
        nodes.join(rank, "node", "left")
        .selectExpr("node", "coalesce(rank_e12, CAST(0 AS LONG)) AS rank_e12")
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 64,
    stats_out: dict | None = None,
) -> DataFrame:
    """Exact SCC labels (node, scc) with scc = the MINIMUM node id of the
    mutual-reachability class — redirect loops, mirror rings and
    citation cycles in the crawl/link graph, the directed analog of
    connected_components (which canonicalizes the UNDIRECTED
    equivalence graph and cannot see direction).

    Formulation: mutual reachability over the audited
    closure.transitive_closure — ``scc(v) = min({v} ∪ {u : v→*u ∧
    u→*v})``. One closure, one self-join that intersects the closure
    with its transpose (pairs reachable BOTH ways), one min-aggregate.
    Exact for any graph the closure can hold, and every stage is
    replicable in ANSI SQL (the gate twin is a recursive CTE), so the
    result is value-hashable.

    Scale posture: inherits the closure's O(V * avg-reach-set) memory —
    this is the INSTANCE-BOUNDED variant, meant for derived graphs that
    are small by construction (per-host redirect graphs, site template
    rings, the canonical-entity graph AFTER alignment collapses
    mentions), not the raw 10^12-edge web graph. For corpus-scale SCC
    use :func:`scc_fwbw_min`, which never materializes reach sets.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    from prase_spark.closure import transitive_closure

    c = transitive_closure(e, "s", "d", max_hops=max_hops, stats_out=stats_out)
    fwd = c.select(F.col("src").alias("v"), F.col("anc").alias("u"))
    mutual = fwd.join(
        fwd.select(F.col("u").alias("v"), F.col("v").alias("u")), ["v", "u"]
    )
    nodes = e.select(F.col("s").alias("node")).unionByName(
        e.select(F.col("d").alias("node"))
    ).distinct()
    return (
        nodes.join(mutual.withColumnRenamed("v", "node"), "node", "left")
        .groupBy("node")
        .agg(F.least(F.col("node"), F.coalesce(F.min("u"), F.col("node"))).alias("scc"))
    )


def _min_propagate(labels: DataFrame, e: DataFrame, max_hops: int) -> DataFrame:
    """Fixpoint of label(v) = min(label(v), min over in-edges u→v of
    label(u)): after convergence label(v) = min id that reaches v within
    the subgraph. Loops until an iteration changes nothing (bounded by
    ``max_hops``); each iteration is one equi-join + one min-groupBy,
    localCheckpointed to keep lineage flat."""
    cur = labels.localCheckpoint()
    for _ in range(max_hops):
        pushed = (
            cur.join(e, cur["node"] == e["s"])
            .select(F.col("d").alias("node"), F.col("label"))
        )
        nxt = (
            cur.unionByName(pushed)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            nxt.join(cur.withColumnRenamed("label", "__old"), "node")
            .filter(F.col("label") < F.col("__old"))
            .count()
        )
        cur = nxt
        if changed == 0:
            return cur
    # truncated min-labels are NOT a safe basis for the F==B test: two
    # members of one SCC can see different partial minima and the SCC
    # would silently split. Refuse instead.
    raise RuntimeError(
        f"_min_propagate: no fixpoint within max_hops={max_hops} "
        "(raise max_hops above the subgraph's min-label propagation radius)"
    )


def scc_fwbw_min(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    max_hops: int = 200,
    stats_out: dict | None = None,
) -> DataFrame:
    """SCC for graphs too big to close: iterated forward-backward
    min-label coloring (the FW-BW-MIN family, Slota et al. 2014 /
    Orzan's coloring). Per outer round, over the still-unassigned
    subgraph: propagate the min reaching id FORWARD to fixpoint (F) and
    BACKWARD to fixpoint (B); every node with ``F(v) == B(v)`` is
    mutually reachable with that common witness, so its SCC label is
    F(v); assigned nodes (and their edges) leave the graph. Each round
    settles every SCC whose min in-reach equals its min out-reach — at
    minimum the SCC of the globally smallest remaining id, so the loop
    always terminates on ``max_rounds >= number of stubborn SCC layers``
    (raises if the budget is exhausted with nodes still unassigned,
    never returns a partial wrong answer).

    Memory is O(V) labels per pass — no reach sets — and every step is
    the same join+min-groupBy shape as connected_components, so the
    100-TB posture matches: hash-partitioned label tables, frontier
    joins AQE-broadcast as the remaining graph shrinks.
    Results are IDENTICAL to strongly_connected_components (pytest
    cross-checks both on the same graphs)."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    assigned = None
    rounds = 0
    remaining = nodes
    while rounds < max_rounds:
        n_rem = remaining.count()
        if n_rem == 0:
            break
        init = remaining.select("node", F.col("node").alias("label"))
        fwd = _min_propagate(init, e, max_hops)
        bwd = _min_propagate(
            init, e.select(F.col("d").alias("s"), F.col("s").alias("d")), max_hops
        )
        done = (
            fwd.join(bwd.withColumnRenamed("label", "__b"), "node")
            .filter(F.col("label") == F.col("__b"))
            .select("node", F.col("label").alias("scc"))
            .localCheckpoint()
        )
        assigned = done if assigned is None else assigned.unionByName(done)
        remaining = remaining.join(done, "node", "left_anti").localCheckpoint()
        e = (
            e.join(remaining.withColumnRenamed("node", "s"), "s", "left_semi")
            .join(remaining.withColumnRenamed("node", "d"), "d", "left_semi")
            .localCheckpoint()
        )
        rounds += 1
    leftover = remaining.count()
    if leftover:
        raise RuntimeError(
            f"scc_fwbw_min: {leftover} nodes unassigned after {max_rounds} rounds"
        )
    if stats_out is not None:
        stats_out["scc_rounds"] = rounds
    return assigned if assigned is not None else nodes.select(
        "node", F.col("node").alias("scc")
    )


def coreness_hindex(
    edges: DataFrame,
    iterations: int | None = None,
    src: str = "src",
    dst: str = "dst",
    stats_out: dict | None = None,
) -> DataFrame:
    """(node, core): k-core decomposition via the h-operator iteration
    (Lü et al. 2016, "The H-index of a network node"): start every node
    at its simple degree, then repeatedly replace each node's value with
    the H-INDEX of its neighbors' values — the sequence is monotone
    non-increasing and converges exactly to the node's coreness, the
    largest k such that the node survives in the k-core. Coreness is the
    standard density rank for crawl graphs: the deep cores are link
    farms and template rings, the 1-core fringe is the long tail a
    curation pass keeps.

    Why this formulation and not direct peeling: peeling ("repeatedly
    delete all nodes of degree < k") mutates the graph sequentially per
    k and needs O(k_max) full passes with a shrinking-but-global
    frontier; the h-operator is a PURE per-node function of the
    neighbors' previous values — each iteration is one equi-join
    (adjacency x values) plus one per-node aggregate, the same
    Jacobi-style shape as pagerank/hits, and partitioning never affects
    the result (exact integers, order-free max/least aggregates).

    ``iterations`` fixed (value-hashable, the gate mode: the DuckDB twin
    unrolls the same count) or None = run to the exact coreness
    fixpoint, detected by a changed-count that costs one lightweight job
    per iteration (bounded by ``CORENESS_MAX_ITERATIONS``; converges in at
    most graph-diameter-ish steps in practice — O(sqrt(V)) proven bound).

    The per-node h-index is computed WITHOUT a window: sort_array over a
    collect_list of neighbor values + one codegen transform/array_max.
    Memory per node is its degree (the same bound any neighbor
    aggregation pays); a 10^7-degree crawl hub should be degree-capped
    upstream (hoststats block rules) before any per-node neighborhood
    op, this one included.
    """
    und, deg = _simple_undirected(edges, src, dst)
    adj = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint()
    )
    val = deg.select("node", F.col("d").cast("long").alias("core")).localCheckpoint()

    def _step(cur: DataFrame) -> DataFrame:
        nb = adj.join(
            cur.select(F.col("node").alias("nbr"), F.col("core").alias("v")), "nbr"
        ).select("node", "v")
        return (
            nb.groupBy("node")
            .agg(F.sort_array(F.collect_list("v"), asc=False).alias("vs"))
            .select(
                "node",
                F.array_max(
                    F.zip_with(
                        F.col("vs"),
                        F.sequence(F.lit(1), F.size("vs")).cast("array<long>"),
                        lambda v, i: F.least(v, i),
                    )
                ).alias("core"),
            )
        )

    if iterations is not None:
        for _ in range(iterations):
            val = _step(val).localCheckpoint()
        return val
    done = 0
    for it in range(CORENESS_MAX_ITERATIONS):
        nxt = _step(val).localCheckpoint()
        changed = (
            nxt.join(val.withColumnRenamed("core", "__old"), "node")
            .filter(F.col("core") != F.col("__old"))
            .count()
        )
        val = nxt
        done = it + 1
        if changed == 0:
            break
    if stats_out is not None:
        stats_out["coreness_iterations"] = done
    return val


def wl_colors(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    init_col: str | None = None,
) -> DataFrame:
    """(node, color): Weisfeiler-Lehman color refinement — each round a
    node's color becomes a hash of (own color, SORTED multiset of
    neighbor colors). After t rounds two nodes share a color iff their
    t-hop unfolded neighborhoods are indistinguishable: the classic
    structural-equivalence signature (1-WL). For cross-KG entity
    matching this is the STRUCTURE-ONLY blocking key — two entities
    whose local graph shapes differ at radius t can never be 1-WL-equal,
    so WL colors prune candidate pairs with zero recall loss on
    structure-preserving mappings (the complement of the name/token
    blockers, which see only surface forms).

    Colors are ``poly_hash61`` of a canonical string
    ``"<own>|<n1>,<n2>,..."`` (neighbors ascending), so the refinement
    is deterministic, engine-replicable and value-hashable — no Python,
    no RNG. Init = simple degree, or ``init_col`` (an integer column on
    the node table implied by the edges) for attributed refinement.

    Scale shape per round: one join (adjacency x colors) + one groupBy
    with a sort_array/concat codegen fold. Per-node cost is its degree
    (cap crawl hubs upstream, the standard neighborhood-op caveat);
    rounds are fixed and small (1-WL stabilizes within diameter; 2-3
    rounds are the published default for blocking features).
    """
    from prase_spark.datapipe.hashing import poly_hash61

    und, deg = _simple_undirected(edges, src, dst)
    adj = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint()
    )
    if init_col is None:
        colors = deg.select("node", F.col("d").cast("long").alias("color"))
    else:
        colors = deg.select("node").join(
            edges.select(F.col(src).alias("node"), F.col(init_col)).unionByName(
                edges.select(F.col(dst).alias("node"), F.col(init_col))
            ).groupBy("node").agg(F.min(init_col).cast("long").alias("color")),
            "node",
        )
    colors = colors.localCheckpoint()
    for _ in range(iterations):
        nb = adj.join(
            colors.select(F.col("node").alias("nbr"), F.col("color").alias("c")),
            "nbr",
        ).select("node", "c")
        sig = (
            nb.groupBy("node")
            .agg(F.sort_array(F.collect_list("c")).alias("cs"))
            .join(colors, "node")
            .select(
                "node",
                F.concat(
                    F.col("color").cast("string"),
                    F.lit("|"),
                    F.concat_ws(
                        ",", F.transform(F.col("cs"), lambda x: x.cast("string"))
                    ),
                ).alias("sig"),
            )
        )
        colors = sig.select("node", poly_hash61("sig").alias("color")).localCheckpoint()
    return colors


def shortest_path_counts(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_hops: int = 4,
    directed: bool = True,
) -> DataFrame:
    """(node, depth, paths): BFS shortest-path DAG from a seed set with
    EXACT path multiplicities — depth = min hops from any seed, paths =
    number of distinct shortest paths reaching the node (sigma in
    Brandes' betweenness notation; the integer-exact half of that
    algorithm, and on its own the standard "evidence multiplicity"
    feature: an alignment candidate reachable from the seed region by
    many independent shortest routes is better-supported than one hanging
    off a single bridge).

    Level-synchronous frontier BFS, the k_hop_distances shape plus one
    accumulator: level d+1's paths(v) = sum over edges (u -> v), u at
    depth d, of paths(u) — a map-side-combinable integer sum; first
    discovery fixes the depth, so no per-node min re-aggregation. All
    exact BIGINTs; path counts grow at most by a max-degree factor per
    level, so depth-bounded counts fit 2^63 for any graph whose
    max_hops * log2(max_degree) < 63 (raise to DECIMAL upstream if you
    need deeper horizons).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col("s").isNotNull() & F.col("d").isNotNull()
    ).distinct()
    if not directed:
        e = e.unionByName(
            e.select(F.col("d").alias("s"), F.col("s").alias("d"))
        ).distinct()
    e = e.localCheckpoint()
    visited = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(0).cast("int").alias("depth"),
            F.lit(1).cast("long").alias("paths"),
        )
        .localCheckpoint()
    )
    frontier = visited
    for depth in range(max_hops):
        nxt = (
            frontier.join(e, frontier["node"] == e["s"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("paths").alias("paths"))
            .join(visited.select("node"), "node", "left_anti")
            .select(
                "node",
                F.lit(depth + 1).cast("int").alias("depth"),
                "paths",
            )
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def butterfly_counts(
    edges: DataFrame,
    left: str = "l",
    right: str = "r",
    max_right_degree: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """(node, butterflies): per-LEFT-node butterfly counts over a
    bipartite edge list — a butterfly is a 2x2 biclique (l1, l2 x r1,
    r2), the bipartite analog of the triangle and the standard cohesion
    signal for two-mode crawl graphs (host x token, doc x entity,
    user x URL): butterfly-dense regions are template farms and
    coordinated link networks, exactly what the curation layer wants
    ranked (Sanei-Mehri et al., KDD 2018).

    Wedge formulation, exact integers: two left nodes sharing c common
    right neighbors form C(c, 2) butterflies; a left node's count is the
    sum over its partners. The wedge join fans out by the RIGHT degree
    (sum over r of deg(r)^2) — the documented hot spot; ``max_right_
    degree`` drops right-side hubs above the cap with ``stats_out``
    telemetry (a right node in >cap left sets is block-evidence noise,
    the minhash max_shingle_df doctrine). Left-side hubs only widen the
    per-pair groupBy, which hash-partitions fine.
    """
    e = (
        edges.select(F.col(left).alias("l"), F.col(right).alias("r"))
        .where(F.col("l").isNotNull() & F.col("r").isNotNull())
        .distinct()
    )
    if max_right_degree is not None:
        rdeg = e.groupBy("r").agg(F.count(F.lit(1)).alias("__rd"))
        hot = rdeg.filter(F.col("__rd") > max_right_degree)
        if stats_out is not None:
            stats_out["butterfly_right_nodes_dropped"] = hot.count()
        e = e.join(hot.select("r"), "r", "left_anti")
    e = e.localCheckpoint()
    wedges = (
        e.select(F.col("l").alias("l1"), "r")
        .join(e.select(F.col("l").alias("l2"), "r"), "r")
        .filter(F.col("l1") < F.col("l2"))
        .groupBy("l1", "l2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .withColumn("bf", F.expr("c * (c - 1) div 2").cast("long"))
    )
    per_node = (
        wedges.select(F.col("l1").alias("node"), "bf")
        .unionByName(wedges.select(F.col("l2").alias("node"), "bf"))
        .groupBy("node")
        .agg(F.sum("bf").alias("butterflies"))
    )
    # left nodes with no butterfly partner report 0
    return (
        e.select(F.col("l").alias("node")).distinct()
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("butterflies"), F.lit(0).cast("long")).alias("butterflies"),
        )
    )


def graph_mixing_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row exact-integer graph-mixing report over the directed edge
    list — the shape diagnostics a crawl-graph consumer reads before
    choosing partitioning and spam heuristics:

    - ``n_nodes`` / ``n_edges`` (distinct, self-loops dropped);
    - ``recip_num`` / ``recip_den`` — reciprocity: mutual edge count
      over all edges (link exchanges and mirror rings are high-
      reciprocity; organic citation is low);
    - ``asst_*`` — the five exact sums (n, sum_x, sum_y, sum_xy,
      sum_x2, sum_y2 over per-edge endpoint SIMPLE degrees x = deg(a),
      y = deg(b), both orientations so the measure is symmetric) from
      which degree assortativity r = (n*sxy - sx*sy) /
      sqrt((n*sx2 - sx^2)(n*sy2 - sy^2)) follows — the sums are the
      value-hashable sufficient statistics; the float r is one
      driver-side expression away (the fs_pattern_weights doctrine:
      corpus-sized arithmetic in-engine and exact, the final
      transcendental at the consumer).

    All hash aggregates; the degree join is node-keyed.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
        .localCheckpoint()
    )
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    mutual = e.join(rev, ["a", "b"], "left_semi")
    und, deg = _simple_undirected(e, "a", "b")
    both = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    dd = (
        both.join(deg.select(F.col("node").alias("a"), F.col("d").alias("x")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("y")), "b")
    )
    asst = dd.agg(
        F.count(F.lit(1)).alias("asst_n"),
        F.sum("x").alias("asst_sx"),
        F.sum("y").alias("asst_sy"),
        F.sum(F.col("x") * F.col("y")).alias("asst_sxy"),
        F.sum(F.col("x") * F.col("x")).alias("asst_sx2"),
        F.sum(F.col("y") * F.col("y")).alias("asst_sy2"),
    )
    counts = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_nodes"))
        )
    ).crossJoin(F.broadcast(mutual.agg(F.count(F.lit(1)).alias("recip_num"))))
    return counts.crossJoin(F.broadcast(asst)).selectExpr(
        "n_nodes", "n_edges",
        "recip_num", "n_edges AS recip_den",
        "asst_n", "asst_sx", "asst_sy", "asst_sxy", "asst_sx2", "asst_sy2",
    )


def rich_club_counts(
    edges: DataFrame, ks: list[int], src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(k, n_k, e_k): for each degree threshold ``k``, the number of
    nodes with simple degree > k and the number of simple undirected
    edges BOTH of whose endpoints clear it — the exact-integer
    sufficient statistics of the rich-club coefficient
    ``phi(k) = 2 e_k / (n_k (n_k - 1))`` (Zhou & Mondragón 2004).
    A rising phi(k) on a crawl host graph is the hub-collusion
    signature (link farms interlinking); per-k work is two broadcast
    semi-joins over the degree table."""
    und, deg = _simple_undirected(edges, src, dst)
    und = und.localCheckpoint()
    deg = deg.localCheckpoint()
    spark = edges.sparkSession
    rows = []
    for k in ks:
        rich = deg.filter(F.col("d") > k).select("node")
        n_k = rich.count()
        e_k = (
            und.join(rich.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(rich.withColumnRenamed("node", "b"), "b", "left_semi")
            .count()
        )
        rows.append((k, n_k, e_k))
    return spark.createDataFrame(rows, "k LONG, n_k LONG, e_k LONG")


def clustering_coefficient_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, tri, wedges): the exact integer numerator and denominator
    of the local clustering coefficient ``C(v) = tri / wedges`` with
    ``wedges = d(d-1)/2`` over the simple undirected graph — every node
    with degree >= 1 reports (isolated-from-triangles nodes report tri
    0), so the consumer computes the float coefficient (or the exact
    rational comparison) without re-deriving anything. High-C low-d
    regions are cliques (template rings); high-d low-C nodes are
    genuine hubs — the triage split degrees alone cannot make.
    Composition of the audited triangle kernel + one degree join."""
    und, deg = _simple_undirected(edges, src, dst)
    tri = node_triangles(edges, src, dst)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias("tri"),
            F.expr("d * (d - 1) div 2").cast("long").alias("wedges"),
        )
    )


def borda_aggregate(
    signals: dict[str, DataFrame],
    node: str = "node",
    descending: bool = True,
) -> DataFrame:
    """(node, borda, n_signals): Borda-count rank aggregation across
    centrality signals — each signal contributes points = its rank
    from the bottom under the TOTAL order (score desc, node asc), and the Borda
    score is the sum. The standard way to fuse pagerank / HITS /
    degree / coreness into ONE importance order without comparing
    their incompatible scales (de Borda 1781; Dwork et al. WWW'01 for
    the web-ranking use). Exact integers with a total order per
    signal, so the aggregate is value-hashable.

    ``signals`` maps signal name -> (node, score) DataFrame (column 2
    is the score whatever its name). Nodes absent from a signal get 0
    points from it (ranked below everyone). Per-signal ranking uses
    the distributed global rank (no single-partition sort); the final
    sum is one hash agg.
    """
    from prase_spark.metablock import global_rank

    parts = []
    for name, df in signals.items():
        cols = df.columns
        s = df.select(F.col(cols[0]).alias("node"), F.col(cols[1]).alias("score"))
        n = s.count()
        ranked = global_rank(
            s.select(
                "node",
                (F.col("score") * (-1 if descending else 1)).alias("k"),
            ),
            ["k", "node"],
            out_col="r",
        )
        # rank 0 = best -> points n-1-r (bottom rank gets 0)
        parts.append(
            ranked.select(
                "node", (F.lit(n - 1) - F.col("r")).cast("long").alias("pts")
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return allp.groupBy("node").agg(
        F.sum("pts").alias("borda"),
        F.count(F.lit(1)).cast("long").alias("n_signals"),
    )


def cocitation_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    coupling: bool = False,
    min_count: int = 1,
    max_hub_degree: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """(a, b, n) with a < b: directed common-neighbor evidence —
    CO-CITATION (Small 1973: n = how many nodes link to BOTH a and b;
    two pages repeatedly cited together are about the same thing) or,
    with ``coupling=True``, BIBLIOGRAPHIC COUPLING (Kessler 1963: n =
    how many targets a and b BOTH link to; two pages with the same
    outgoing references share a topic). The directed siblings of
    link_candidates' undirected common-neighbor score, and the
    crawl-side same-entity evidence PARIS never sees (it reasons over
    typed relations, not citation co-occurrence).

    One wedge join through the shared middle + one count. The middle's
    fan-out is its (in- or out-) degree squared — ``max_hub_degree``
    drops hub middles with telemetry (a page linked BY everyone
    co-cites everything: zero evidence, quadratic cost — the
    butterfly/minhash df-cap doctrine).
    """
    # (m, x): m is the shared MIDDLE — the citer for co-citation
    # (m -> a, m -> b), the cited target for coupling (a -> m, b -> m)
    e = (
        edges.select(F.col(src).alias("m"), F.col(dst).alias("x"))
        if not coupling
        else edges.select(F.col(dst).alias("m"), F.col(src).alias("x"))
    )
    e = e.where(F.col("m").isNotNull() & F.col("x").isNotNull()).distinct()
    if max_hub_degree is not None:
        md = e.groupBy("m").agg(F.count(F.lit(1)).alias("__d"))
        hot = md.filter(F.col("__d") > max_hub_degree)
        if stats_out is not None:
            stats_out["cocitation_middles_dropped"] = hot.count()
        e = e.join(hot.select("m"), "m", "left_anti")
    return (
        e.select("m", F.col("x").alias("a"))
        .join(e.select("m", F.col("x").alias("b")), "m")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )

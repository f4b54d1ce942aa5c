"""Band-bucket guard + telemetry (buckets.py) and LSH band-width scaling:
the n²-in-disguise guards for every banded candidate generator."""

import pytest
from pyspark.sql import functions as F

from prase_spark.datapipe.buckets import bucket_stats, cap_band_buckets
from prase_spark.embed import auto_band_bits


def test_auto_band_bits_sizing():
    # log2(n) + 2 margin, clamped to [8, 24]
    assert auto_band_bits(100) == 9
    assert auto_band_bits(10) == 8  # min clamp
    assert auto_band_bits(1_000_000) == 22
    assert auto_band_bits(10**9) == 24  # max clamp
    assert auto_band_bits(0) == 8  # degenerate corpus


def test_cap_band_buckets_drops_giant_bucket(spark):
    rows = [(i, 0, 7) for i in range(100)] + [(1000 + i, 0, 9) for i in range(5)]
    banded = spark.createDataFrame(rows, "key LONG, band INT, band_key LONG")
    stats = {}
    capped = cap_band_buckets(banded, max_bucket_size=50, stats_out=stats)
    left = capped.collect()
    assert len(left) == 5 and all(r["band_key"] == 9 for r in left)
    assert stats["capped_buckets"] == 1 and stats["capped_rows"] == 100
    assert stats["largest_buckets"][0] == {"band": 0, "band_key": 7, "rows": 100}
    # None disables the cap but still reports stats
    stats2 = {}
    uncapped = cap_band_buckets(banded, max_bucket_size=None, stats_out=stats2)
    assert uncapped.count() == 105
    assert stats2["capped_buckets"] == 0 and stats2["capped_rows"] == 0
    assert stats2["largest_buckets"][0]["rows"] == 100


def test_bucket_stats_topk(spark):
    rows = [(i, 0, i % 3) for i in range(30)]
    banded = spark.createDataFrame(rows, "key LONG, band INT, band_key LONG")
    top = bucket_stats(banded, top_k=2)
    assert len(top) == 2 and all(s["rows"] == 10 for s in top)


def test_minhash_giant_bucket_guard(spark):
    """200 identical docs = one 200-row band bucket per band; the guard must
    bound the candidate join and surface telemetry."""
    from prase_spark.datapipe.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the very same empty boilerplate body") for i in range(200)],
        "doc_id LONG, text STRING",
    )
    unguarded = minhash_lsh_pairs(docs, max_bucket_size=None)
    assert unguarded.count() == 200 * 199 // 2  # quadratic without the guard
    stats = {}
    guarded = minhash_lsh_pairs(docs, max_bucket_size=50, stats_out=stats)
    assert guarded.count() == 0  # every bucket was degenerate -> skipped
    assert stats["capped_buckets"] == 16  # one per band
    assert stats["capped_rows"] == 16 * 200
    assert stats["largest_buckets"][0]["rows"] == 200


def test_minhash_guard_keeps_healthy_buckets(spark):
    """The guard must not disturb candidates below the cap."""
    from prase_spark.datapipe.dedup import minhash_lsh_pairs

    rows = [(i, f"shared near duplicate text body for pair {i // 2}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    base = {(r["key_a"], r["key_b"]) for r in minhash_lsh_pairs(docs, max_bucket_size=None).collect()}
    capped = {(r["key_a"], r["key_b"]) for r in minhash_lsh_pairs(docs, max_bucket_size=50).collect()}
    assert capped == base and (0, 1) in base


def test_simhash_giant_bucket_guard(spark):
    from prase_spark.datapipe.dedup import simhash_pairs

    docs = spark.createDataFrame(
        [(i, "identical page content everywhere") for i in range(120)],
        "doc_id LONG, text STRING",
    )
    assert simhash_pairs(docs, max_bucket_size=None).count() == 120 * 119 // 2
    stats = {}
    assert simhash_pairs(docs, max_bucket_size=40, stats_out=stats).count() == 0
    assert stats["capped_buckets"] == 4 and stats["capped_rows"] == 4 * 120


def test_simhash_empty_docs_pair_at_hamming_zero(spark):
    """Empty/whitespace/NULL docs all get the ''-shingle fallback signature
    in BOTH simhash paths and pair with each other at hamming 0 (pinned:
    the signature-table path is value-identical to simhash64 here)."""
    from prase_spark.datapipe.dedup import simhash64, simhash_pairs, simhash_signature_table

    df = spark.createDataFrame(
        [(1, "hello world foo"), (2, ""), (3, "   "), (4, None)],
        "doc_id LONG, text STRING",
    )
    sigs = {r["key"]: r["sig"] for r in simhash_signature_table(df).collect()}
    legacy = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash64("text").alias("s")).collect()}
    assert sigs == legacy and len(sigs) == 4
    pairs = {(r["key_a"], r["key_b"]) for r in simhash_pairs(df).collect()}
    assert pairs == {(2, 3), (2, 4), (3, 4)}


def test_pipeline_stats_out_telemetry(spark):
    """minhash_dedup / embedding_neardup surface band-bucket telemetry via
    stats_out — the side channel a 100-TB operator watches."""
    from prase_spark.datapipe.dedup import minhash_dedup
    from prase_spark.datapipe.simsearch import embedding_neardup

    texts = [
        "alpha beta gamma delta epsilon zeta words",
        "one two three four five six seven eight",
        "red orange yellow green blue indigo violet",
    ]
    docs = spark.createDataFrame(
        [(i, texts[i % 3]) for i in range(9)], "doc_id LONG, text STRING"
    )
    stats = {}
    minhash_dedup(docs, stats_out=stats).count()
    assert stats["capped_buckets"] == 0 and stats["largest_buckets"][0]["rows"] == 3

    # two orthogonal triples -> two disjoint signature groups of 3
    vecs = [(i, [1.0, 0.0, 0.0, 0.0] if i < 3 else [0.0, 1.0, 0.0, 0.0]) for i in range(6)]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    estats = {}
    embedding_neardup(emb, dim=4, threshold=0.999, stats_out=estats).count()
    assert estats["capped_buckets"] == 0 and estats["largest_buckets"][0]["rows"] == 3


def test_neardup_auto_band_bits(spark):
    """n_bits=None sizes band keys to the corpus: exact planted copies
    still cluster at auto width (identical vectors collide at ANY width)."""
    from prase_spark.datapipe.simsearch import embedding_neardup, lsh_topk

    import numpy as np

    rng = np.random.default_rng(11)
    mat = rng.normal(size=(60, 8))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(60)]
    rows += [(1000 + i, rows[i][1]) for i in range(10)]  # exact copies
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = embedding_neardup(emb, dim=8, threshold=0.999, n_bits=None).collect()
    clusters = {}
    for r in out:
        clusters.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    for i in range(10):
        assert any({i, 1000 + i} <= m for m in clusters.values()), i
    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    got = {r["query_id"]: r["vec_id"] for r in
           lsh_topk(emb, q, dim=8, k=1, n_bits=None).collect()}
    assert got == {0: 0, 1: 1, 2: 2}  # self always collides


def test_name_candidates_cross_kg(spark):
    """Name blocking: each left surface form pairs with its perturbed
    right variant, unrelated names are excluded, the plan is
    cartesian-free, and the pair set matches a pure-python oracle."""
    from prase_spark.nameblock import name_candidates

    lefts = ["alpha beta gamma", "delta epsilon zeta", "omega psi chi", "kappa lambda mu"]
    rights = [x + " v2" for x in lefts] + ["totally different words entirely"]
    l_df = spark.createDataFrame([(x,) for x in lefts], "name STRING")
    r_df = spark.createDataFrame([(x,) for x in rights], "name STRING")
    out = name_candidates(l_df, r_df, threshold=0.6)
    assert "CartesianProduct" not in out._jdf.queryExecution().executedPlan().toString()
    got = {(r["name_l"], r["name_r"]) for r in out.collect()}

    def grams(s):
        return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}

    expect = set()
    for a in lefts:
        for b in rights:
            ga, gb = grams(a), grams(b)
            if len(ga & gb) / len(ga | gb) >= 0.6:
                expect.add((a, b))
    # banding recall on >=0.8-jaccard variants is ~1 at 32 hashes/8 bands
    assert got == expect and len(got) >= len(lefts)
    for x in lefts:
        assert (x, x + " v2") in got


def test_name_seed_bootstraps_zero_literal_overlap(spark):
    """name_seed_matches: two KGs with DISJOINT literal vocabularies (the
    literal seed is empty) still bootstrap alignment from near-duplicate
    entity surface forms, and the seeded state drives a full PARIS
    iteration."""
    from prase_spark.kgbuild import build_kg
    from prase_spark.paris import init_state, run_iteration
    from prase_spark.schemas import RAW_TRIPLES
    from prase_spark.seed import literal_seed_matches, name_seed_matches
    from prase_spark.config import ParisConfig

    n = 10
    rows_l, rows_r = [], []
    for i in range(n):
        el = f"<http://a.org/resource/Widget_{i}>"
        er = f"http://b.org/entity/Widget_{i}_v2"
        rows_l.append((el, "<http://a.org/ontology/next>",
                       f"<http://a.org/resource/Widget_{(i + 1) % n}>", False))
        rows_r.append((er, "http://b.org/prop/direct/NEXT",
                       f"http://b.org/entity/Widget_{(i + 1) % n}_v2", False))
        rows_l.append((el, "<http://a.org/ontology/color>", f"farbe_links_{i}", True))
        rows_r.append((er, "http://b.org/prop/direct/COLOR", f"couleur_droite_{i}", True))
    kg_l = build_kg(spark.createDataFrame(rows_l, RAW_TRIPLES))
    kg_r = build_kg(spark.createDataFrame(rows_r, RAW_TRIPLES))

    lit_sub, _ = literal_seed_matches(kg_l, kg_r)
    assert lit_sub.count() == 0  # vocabularies are disjoint

    sub, sup = name_seed_matches(kg_l, kg_r, threshold=0.5)
    names_l = {r["ent_id"]: r["name"] for r in kg_l.nodes.collect()}
    names_r = {r["ent_id"]: r["name"] for r in kg_r.nodes.collect()}
    got = {names_l[r["ent_id"]]: names_r[r["counterpart_id"]] for r in sub.collect()}
    assert len(got) == n
    for i in range(n):
        assert got[f"<http://a.org/resource/Widget_{i}>"] == (
            f"http://b.org/entity/Widget_{i}_v2"
        ), i
    assert sub.filter("is_lit OR prob <= 0 OR prob > 1").count() == 0

    state = init_state(spark, sub, sup)
    state = run_iteration(kg_l, kg_r, state, ParisConfig())
    assert state.matches_sub.count() >= n  # the seed survives an iteration


def test_simhash_manku_equals_banded(spark):
    """Manku block-combination tables must emit EXACTLY the banded
    variant's pair set (both blockers are exact for hamming<=k), with the
    wider ~32-bit keys. Fixture: near-dup pairs + distinct docs."""
    from prase_spark.datapipe.dedup import simhash_pairs, simhash_pairs_manku

    rows = []
    for i in range(30):
        base = f"document number {i} talks about topic {i % 5} in detail with many words"
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + (" extra" if i % 2 else "")))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    banded = {(r["key_a"], r["key_b"], r["hamming"]) for r in simhash_pairs(docs).collect()}
    manku = {(r["key_a"], r["key_b"], r["hamming"]) for r in simhash_pairs_manku(docs).collect()}
    assert manku == banded and len(banded) > 0
    # guard works on this path too
    stats = {}
    ident = spark.createDataFrame(
        [(i, "same text for all") for i in range(80)], "doc_id LONG, text STRING"
    )
    assert simhash_pairs_manku(ident, max_bucket_size=40, stats_out=stats).count() == 0
    assert stats["capped_buckets"] == 20  # one degenerate bucket per table


def test_minhash_bands_validation(spark):
    from prase_spark.datapipe.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, num_hashes=8, bands=16)


def test_hyperplane_band_width_bounds_candidates(spark):
    """VERDICT r2 #1 'done' criterion: at the 16-bit default band keys the
    blocked candidate volume on a random corpus is ~linear in n (expected
    n²·bands/2^bits), nowhere near the n²/2 the old 4-bit keys produced."""
    import numpy as np

    from prase_spark.embed import lsh_candidate_pairs

    n, dim = 4000, 8
    rng = np.random.default_rng(5)
    mat = rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "ent_id LONG, embedding ARRAY<DOUBLE>")
    wide = lsh_candidate_pairs(emb, emb, dim=dim).count()
    narrow = lsh_candidate_pairs(emb, emb, dim=dim, n_bits=32, n_bands=8).count()
    # measured on this fixture: 16-bit keys ~106k candidates (0.66% of n²,
    # dim-8 bits are correlated so the tail is fatter than 64-dim corpora);
    # 4-bit keys admit multi-millions — the n²-in-disguise VERDICT flagged
    assert wide <= (n * n) // 100, wide
    assert wide * 20 <= narrow, (wide, narrow)
    assert wide >= n  # every vector at least collides with itself


def test_hyperplane_requires_divisible_bands():
    import numpy as np  # noqa: F401  (parity with module import guard)

    from prase_spark.embed import hyperplane_signatures

    with pytest.raises(ValueError, match="multiple"):
        hyperplane_signatures(None, dim=4, n_bits=30, n_bands=8)


def test_hyperplane_signatures_match_per_row_reference(spark):
    """The vectorized band keys equal a plain per-row numpy loop, row for
    row in band-major order (band 0 for every entity, then band 1, ...),
    a zero vector included (every dot is 0 >= 0, so all bits set)."""
    import numpy as np

    from prase_spark.embed import hyperplane_signatures

    n, dim, n_bits, n_bands, seed = 50, 16, 128, 8, 42
    mat = np.random.default_rng(7).normal(size=(n, dim)).astype(np.float32)
    mat[13] = 0.0
    rows = [(100 + i, [float(x) for x in mat[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "ent_id LONG, embedding ARRAY<FLOAT>").coalesce(1)
    got = [tuple(r) for r in hyperplane_signatures(emb, dim, n_bits, n_bands, seed).collect()]

    planes = np.round(np.random.default_rng(seed).normal(size=(n_bits, dim)), 6)
    bpb = n_bits // n_bands
    want = []
    for b in range(n_bands):
        for ent_id, vec in rows:
            v = np.asarray(vec, dtype=np.float64)
            key = sum(1 << j for j in range(bpb) if float(v @ planes[b * bpb + j]) >= 0.0)
            want.append((ent_id, b, key))
    assert got == want
    assert {k for e, _, k in got if e == 113} == {(1 << bpb) - 1}

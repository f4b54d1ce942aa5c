"""PRASE feedback loop (entry point 3, test.py:83-104): seed-link
force-merge, prob rescale, fusion-active iterations, param export."""

import pytest
from pyspark.sql import functions as F

from prase_spark.checkpoint import export_params
from prase_spark.config import ParisConfig
from prase_spark.embed import resolve_embeddings
from prase_spark.evaluate import embed_align_split
from prase_spark.fixtures import two_kg_fixture
from prase_spark.kgbuild import build_kg
from prase_spark.pipeline import align, prase_feedback_align
from prase_spark.seed import force_merge, rescale_probs


@pytest.fixture(scope="module")
def fx(spark):
    f = two_kg_fixture(spark, n_ent=100, seed=42)
    kg_l, kg_r = build_kg(f["raw_l"]), build_kg(f["raw_r"])
    l_ids = {r["name"]: r["ent_id"] for r in kg_l.nodes.filter("NOT is_literal").collect()}
    r_ids = {r["name"]: r["ent_id"] for r in kg_r.nodes.filter("NOT is_literal").collect()}
    gold = spark.createDataFrame(
        [(l_ids[a], r_ids[b]) for a, b in f["gold_names"] if a in l_ids and b in r_ids],
        "ent_l LONG, ent_r LONG",
    )
    emb_l = resolve_embeddings(
        spark.createDataFrame(f["emb_l_names"], "name STRING, embedding ARRAY<FLOAT>"),
        kg_l.nodes,
    )
    emb_r = resolve_embeddings(
        spark.createDataFrame(f["emb_r_names"], "name STRING, embedding ARRAY<FLOAT>"),
        kg_r.nodes,
    )
    return {"f": f, "kg_l": kg_l, "kg_r": kg_r, "gold": gold, "emb_l": emb_l, "emb_r": emb_r}


def test_rescale_probs(spark):
    m = spark.createDataFrame(
        [(1, 10, 0.8, False), (2, 20, 1.0, True)],
        "ent_id LONG, counterpart_id LONG, prob DOUBLE, is_lit BOOLEAN",
    )
    got = {r["ent_id"]: r["prob"] for r in rescale_probs(m, 0.5).collect()}
    assert got == {1: 0.4, 2: 1.0}  # literal rows untouched


def test_force_merge_overwrites(spark):
    schema = "ent_id LONG, counterpart_id LONG, prob DOUBLE, is_lit BOOLEAN"
    prev = spark.createDataFrame([(1, 10, 0.9, False), (2, 20, 0.9, False)], schema)
    upd = spark.createDataFrame([(1, 11, 0.2, False)], schema)
    got = {r["ent_id"]: (r["counterpart_id"], r["prob"]) for r in force_merge(prev, upd).collect()}
    assert got == {1: (11, 0.2), 2: (20, 0.9)}  # force: lower prob still wins


def test_prase_feedback_with_embeddings(spark, fx):
    """Fusion-active run: seed links from the 'embedding module' (gold subset
    with prob 0.9) + cosine fusion; quality at θ=0.1 stays ≥ 0.95."""
    seed_links = spark.createDataFrame(
        [(a, b, 0.9) for a, b in fx["f"]["gold_names"][:30]],
        "name_l STRING, name_r STRING, prob DOUBLE",
    )
    cfg = ParisConfig(iterations=3)
    run = prase_feedback_align(
        spark, fx["kg_l"], fx["kg_r"], cfg,
        seed_links=seed_links,
        embeddings_l=fx["emb_l"], embeddings_r=fx["emb_r"],
        gold=fx["gold"], load_weight=1.0,
    )
    final = run.evals[-1]
    at_theta = next(e for e in final if abs(e["threshold"] - 0.1) < 1e-9)
    assert at_theta["precision"] >= 0.95, final
    assert at_theta["recall"] >= 0.95, final


def test_export_params_and_split(spark, fx):
    cfg = ParisConfig(iterations=2)
    run = align(spark, fx["kg_l"], fx["kg_r"], cfg, checkpoint=False)
    params = export_params(
        run.state, fx["kg_l"].nodes, fx["kg_r"].nodes,
        fx["kg_l"].predicates, fx["kg_r"].predicates,
    )
    sides = {r["side"] for r in params.select("side").distinct().collect()}
    assert sides == {"L", "R"}
    assert params.filter("name_l IS NULL OR name_r IS NULL").count() == 0

    train, test = embed_align_split(run.state.matches_sub, fx["gold"], threshold=0.1)
    # every gold pair is either predicted (train side) or in the test split
    assert test.count() + train.join(fx["gold"], ["ent_l", "ent_r"]).count() >= fx["gold"].count() * 0.95


def test_feedback_runs_additional_iterations(spark, fx):
    """A feedback pass after a completed align() must run cfg.iterations
    ADDITIONAL rounds (reference kgs.run() restarts _iter_num at 0,
    objects/KGs.py:94-99) — and must not mutate the caller's state."""
    cfg = ParisConfig(iterations=2)
    first = align(spark, fx["kg_l"], fx["kg_r"], cfg, checkpoint=False)
    assert first.state.iter_num == 2
    before = {
        (r["ent_id"], r["counterpart_id"], r["prob"])
        for r in first.state.matches_sub.collect()
    }
    prior_sub = first.state.matches_sub
    run = prase_feedback_align(
        spark, fx["kg_l"], fx["kg_r"], cfg,
        prior_state=first.state, gold=fx["gold"], reset_weight=0.5,
        embeddings_l=fx["emb_l"], embeddings_r=fx["emb_r"],
    )
    # the feedback fixpoint actually iterated (was a silent no-op before)
    assert run.state.iter_num == 2
    assert len(run.evals) == 2
    # caller's state object untouched: same frame reference, same values
    assert first.state.iter_num == 2
    assert first.state.matches_sub is prior_sub
    after = {
        (r["ent_id"], r["counterpart_id"], r["prob"])
        for r in first.state.matches_sub.collect()
    }
    assert before == after


def test_feedback_without_priors_equals_align(spark, fx):
    """With no prior state, reset or seed links, the feedback loop is the
    plain fixpoint: the same final state as align(checkpoint=False)."""
    cfg = ParisConfig(iterations=2)

    def final(run):
        s = run.state
        matches = lambda df: {  # noqa: E731
            (r["ent_id"], r["counterpart_id"], round(r["prob"], 9), r["is_lit"])
            for r in df.collect()
        }
        rels = lambda df: {  # noqa: E731
            (r["pred_id"], r["counterpart_pred_id"], round(r["prob"], 9))
            for r in df.collect()
        }
        return (
            s.iter_num, matches(s.matches_sub), matches(s.matches_sup),
            rels(s.rel_align_l), rels(s.rel_align_r),
        )

    plain = final(align(spark, fx["kg_l"], fx["kg_r"], cfg, checkpoint=False))
    feedback = final(prase_feedback_align(spark, fx["kg_l"], fx["kg_r"], cfg))
    assert feedback == plain and plain[0] == 2 and all(plain[1:])


def test_evaluate_alignment_bucketed_exact(spark):
    """The threshold-grid bucketing keeps the sweep exact for off-grid probs
    while collecting <= len(grid)+1 rows."""
    from prase_spark.evaluate import evaluate_alignment

    rows = [
        (1, 1, 0.3500001, False),
        (2, 2, 0.1, False),
        (3, 4, 0.95, False),    # wrong match
        (4, 4, 0.0999999, False),
        (5, 5, 0.7, False),
        (9, 9, 1.0, True),      # literal row excluded
    ]
    m = spark.createDataFrame(rows, "ent_id LONG, counterpart_id LONG, prob DOUBLE, is_lit BOOLEAN")
    gold = spark.createDataFrame([(i, i) for i in range(1, 6)], "ent_l LONG, ent_r LONG")
    out = evaluate_alignment(m, gold)
    by_t = {round(e["threshold"], 1): e for e in out}
    # at 0.1: preds with prob>=0.1 -> ids 1,2,3,5 (4 preds, 3 correct)
    assert by_t[0.1]["predicted"] == 4 and by_t[0.1]["correct"] == 3
    # at 0.0: everything (5 preds, 4 correct)
    assert by_t[0.0]["predicted"] == 5 and by_t[0.0]["correct"] == 4
    # at 0.9: only the wrong 0.95 match
    assert by_t[0.9]["predicted"] == 1 and by_t[0.9]["correct"] == 0
    # 0.1*7 = 0.7000000000000001 > 0.7 — the float grid excludes the 0.7
    # pred exactly as the reference's [0.1*i] sweep does (bucketing must
    # preserve that edge, not "fix" it)
    assert by_t[0.7]["predicted"] == 1 and by_t[0.7]["precision"] == 0.0

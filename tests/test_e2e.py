"""End-to-end alignment quality + checkpoint/resume (FIXTURES.md §4)."""

import shutil
import tempfile

import pytest

from prase_spark.config import ParisConfig
from prase_spark.fixtures import two_kg_fixture
from prase_spark.kgbuild import build_kg
from prase_spark.pipeline import align, alignment_results, materialize, partition_metrics
from prase_spark.matching import canonical_entity_ids
from prase_spark.checkpoint import load_state, save_state
from prase_spark.evaluate import evaluate_alignment


@pytest.fixture(scope="module")
def fx(spark):
    f = two_kg_fixture(spark, n_ent=150, seed=42)
    kg_l, kg_r = build_kg(f["raw_l"]), build_kg(f["raw_r"])
    l_ids = {r["name"]: r["ent_id"] for r in kg_l.nodes.filter("NOT is_literal").collect()}
    r_ids = {r["name"]: r["ent_id"] for r in kg_r.nodes.filter("NOT is_literal").collect()}
    gold = spark.createDataFrame(
        [(l_ids[a], r_ids[b]) for a, b in f["gold_names"] if a in l_ids and b in r_ids],
        "ent_l LONG, ent_r LONG",
    )
    return {"f": f, "kg_l": kg_l, "kg_r": kg_r, "gold": gold}


def test_alignment_quality_and_resume(spark, fx, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    cfg = ParisConfig(iterations=4, checkpoint_dir=ckpt)
    run = align(spark, fx["kg_l"], fx["kg_r"], cfg, gold=fx["gold"], checkpoint=True)
    final = run.evals[-1]
    at_theta = next(e for e in final if abs(e["threshold"] - 0.1) < 1e-9)
    assert at_theta["precision"] >= 0.95, final
    assert at_theta["recall"] >= 0.95, final

    # --- resume: restart from iteration-2 checkpoint, re-run to the end;
    # Jacobi determinism -> identical final state (FIXTURES.md §4).
    resumed_state = load_state(spark, ckpt, iter_num=2)
    resumed_state.has_load = False  # same init-flag schedule as original run
    from prase_spark.paris import run_iteration

    st = resumed_state
    while st.iter_num < cfg.iterations:
        st = run_iteration(fx["kg_l"], fx["kg_r"], st, cfg)
    orig = {
        (r["ent_id"]): (r["counterpart_id"], round(r["prob"], 9))
        for r in run.state.matches_sub.collect()
    }
    res = {
        (r["ent_id"]): (r["counterpart_id"], round(r["prob"], 9))
        for r in st.matches_sub.collect()
    }
    assert orig == res


def test_results_and_materialize(spark, fx):
    cfg = ParisConfig(iterations=2)
    run = align(spark, fx["kg_l"], fx["kg_r"], cfg, checkpoint=False)
    res = alignment_results(run.state, fx["kg_l"], fx["kg_r"], cfg.theta)
    kinds = {r["kind"] for r in res.select("kind").distinct().collect()}
    assert "entity" in kinds and "literal" in kinds and "relation" in kinds

    canon = canonical_entity_ids(run.state.matches_sub, cfg.theta)
    out = materialize(fx["f"]["raw_l"], fx["kg_l"], canon, side="L")
    assert out.count() == fx["f"]["raw_l"].count()
    assert out.filter("canonical_subj IS NULL").count() == 0
    metrics = partition_metrics(out)
    assert metrics.count() >= 1

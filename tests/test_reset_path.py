"""J7 embedding-argmax reset wired into the PRASE loop."""

import pytest
from pyspark.sql import functions as F

from prase_spark.config import ParisConfig
from prase_spark.embed import resolve_embeddings
from prase_spark.fixtures import two_kg_fixture
from prase_spark.kgbuild import build_kg
from prase_spark.paris import init_state
from prase_spark.pipeline import prase_feedback_align
from prase_spark.seed import literal_seed_matches


def _kgs_with_embeddings(spark, n_ent):
    fx = two_kg_fixture(spark, n_ent=n_ent, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    emb_l = resolve_embeddings(
        spark.createDataFrame(fx["emb_l_names"], "name STRING, embedding ARRAY<FLOAT>"),
        kg_l.nodes,
    )
    emb_r = resolve_embeddings(
        spark.createDataFrame(fx["emb_r_names"], "name STRING, embedding ARRAY<FLOAT>"),
        kg_r.nodes,
    )
    return kg_l, kg_r, emb_l, emb_r


def test_reset_from_embeddings(spark):
    kg_l, kg_r, emb_l, emb_r = _kgs_with_embeddings(spark, 60)
    sub, sup = literal_seed_matches(kg_l, kg_r)
    prior = init_state(spark, sub, sup)
    n_lit = sub.count()
    run = prase_feedback_align(
        spark, kg_l, kg_r, ParisConfig(iterations=0),
        embeddings_l=emb_l, embeddings_r=emb_r,
        prior_state=prior, reset_from_embeddings=True,
    )
    m = run.state.matches_sub
    ents = m.filter("NOT is_lit")
    # every embedded entity got an argmax counterpart at prob 0.2 (J7)
    assert ents.count() == emb_l.count()
    assert ents.filter("prob <> 0.2").count() == 0
    # literal seeds preserved
    assert m.filter("is_lit").count() == n_lit


def test_reset_requires_embeddings(spark):
    fx = two_kg_fixture(spark, n_ent=20, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    with pytest.raises(ValueError):
        prase_feedback_align(
            spark, kg_l, kg_r, ParisConfig(iterations=0),
            prior_state=init_state(spark, *literal_seed_matches(kg_l, kg_r)),
            reset_from_embeddings=True,
        )


def test_reset_lsh_path_no_cartesian(spark):
    """Forcing the LSH reset (the 10^12-row strategy) must produce a
    cartesian-free plan with the same (prob, literal-preserving) semantics
    as the exact path."""
    kg_l, kg_r, emb_l, emb_r = _kgs_with_embeddings(spark, 60)
    sub, sup = literal_seed_matches(kg_l, kg_r)
    prior = init_state(spark, sub, sup)
    n_lit = sub.count()
    run = prase_feedback_align(
        spark, kg_l, kg_r, ParisConfig(iterations=0),
        embeddings_l=emb_l, embeddings_r=emb_r,
        prior_state=prior, reset_from_embeddings=True, reset_use_lsh=True,
    )
    m = run.state.matches_sub
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    ents = m.filter("NOT is_lit")
    # LSH blocks candidates; nearly every entity finds >=1 band collision
    assert ents.count() >= int(0.9 * emb_l.count())
    assert ents.filter("prob <> 0.2").count() == 0
    assert m.filter("is_lit").count() == n_lit


def _spy(monkeypatch, module, name, calls):
    """Record each call of ``module.name`` with the frames it returns."""
    real = getattr(module, name)

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        calls.append((name, out))
        return out

    monkeypatch.setattr(module, name, spy)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_reset_dispatcher_size_gate(spark, monkeypatch):
    """embedding_reset_matches: brute force under the pair budget, LSH above.

    The dispatcher pins its output, so the executed plan of the returned
    frames is a checkpoint scan either way; the path taken is read from
    spies on the two path functions and from the plans of what they built."""
    from prase_spark import embed
    from prase_spark.embed import embedding_reset_matches

    _, _, emb_l, emb_r = _kgs_with_embeddings(spark, 40)
    calls = []
    _spy(monkeypatch, embed, "brute_force_argmax", calls)
    _spy(monkeypatch, embed, "lsh_argmax", calls)

    sub_small, _ = embedding_reset_matches(emb_l, emb_r)  # 40x40 -> brute
    assert [name for name, _ in calls] == ["brute_force_argmax"]
    assert "CartesianProduct" in _plan(calls[0][1][0])

    calls.clear()
    sub_big, sup_big = embedding_reset_matches(emb_l, emb_r, pair_budget=100)
    assert [name for name, _ in calls] == ["lsh_argmax"]
    assert "CartesianProduct" not in _plan(calls[0][1])
    # LSH recall vs brute-force argmax on the same inputs
    exact = {r["ent_id"]: r["counterpart_id"] for r in sub_small.collect()}
    approx = {r["ent_id"]: r["counterpart_id"] for r in sub_big.collect()}
    hits = sum(1 for k, v in exact.items() if approx.get(k) == v)
    assert hits >= int(0.9 * len(exact))


def _count_actions(monkeypatch, cls):
    """Record every outermost driver action on DataFrames of ``cls``
    (first() runs head/take/collect inside it: one action, not four)."""
    actions, depth = [], [0]
    for name in ("count", "first", "head", "take", "collect", "localCheckpoint"):
        real = getattr(cls, name)

        def wrapped(self, *args, _real=real, _name=name, **kwargs):
            if depth[0] == 0:
                actions.append(_name)
            depth[0] += 1
            try:
                return _real(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(cls, name, wrapped)
    return actions


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("lsh", [False, True], ids=["brute", "lsh"])
def test_reset_dispatcher_pins_once(spark, monkeypatch, lsh):
    """Both reset frames come back pinned: checkpoint scans holding the
    same rows as the unpinned path functions, after one probe action per
    side and one pin per frame (sup is derived from the pinned sub)."""
    from prase_spark.datapipe.buckets import DEFAULT_MAX_BUCKET
    from prase_spark.embed import (
        auto_band_bits,
        brute_force_argmax,
        embedding_reset_matches,
        lsh_argmax_pair,
    )

    emb_l, emb_r = (e.localCheckpoint() for e in _kgs_with_embeddings(spark, 40)[2:])
    if lsh:
        n, dim = max(emb_l.count(), emb_r.count()), len(emb_l.first()["embedding"])
        bits = auto_band_bits(n)
        want_sub, want_sup = lsh_argmax_pair(
            emb_l, emb_r, dim, 0.2, n_bits=bits * 48, n_bands=48,
            max_bucket_size=DEFAULT_MAX_BUCKET,
        )
    else:
        want_sub, want_sup = brute_force_argmax(emb_l, emb_r, 0.2)
    want = _rows(want_sub), _rows(want_sup)

    actions = _count_actions(monkeypatch, type(emb_l))
    sub, sup = embedding_reset_matches(
        emb_l, emb_r, prob=0.2, pair_budget=100 if lsh else 10**9
    )
    assert sorted(actions) == ["count", "first", "localCheckpoint", "localCheckpoint"]
    monkeypatch.undo()

    for df in (sub, sup):
        plan = _plan(df)
        assert "Scan ExistingRDD" in plan and "Exchange" not in plan, plan
    assert (_rows(sub), _rows(sup)) == want

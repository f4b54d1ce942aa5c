"""Value-level validation of the Spark PARIS DAG against the independent
pure-Python Jacobi oracle (tests/oracle_paris.py) on the synthetic two-KG
fixture — FIXTURES.md §4 item 2."""

import pytest

from prase_spark.config import ParisConfig
from prase_spark.fixtures import two_kg_fixture
from prase_spark.kgbuild import build_kg
from prase_spark.paris import entity_pass, init_state, relation_pass, run_iteration
from prase_spark.seed import literal_seed_matches
from tests.oracle_paris import (
    bipartite_oracle,
    max_merge_oracle,
    one_way_oracle,
    relation_pass_oracle,
)

CFG = ParisConfig()


@pytest.fixture(scope="module")
def setup(spark):
    fx = two_kg_fixture(spark, n_ent=80, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    sub, sup = literal_seed_matches(kg_l, kg_r)
    sub, sup = sub.persist(), sup.persist()
    facts_l = [tuple(r) for r in kg_l.triples.collect()]
    facts_r = [tuple(r) for r in kg_r.triples.collect()]
    func_l = {r["pred_id"]: r["functionality"] for r in kg_l.functionality.collect()}
    func_r = {r["pred_id"]: r["functionality"] for r in kg_r.functionality.collect()}
    return {
        "kg_l": kg_l, "kg_r": kg_r, "sub": sub, "sup": sup,
        "facts_l": facts_l, "facts_r": facts_r, "func_l": func_l, "func_r": func_r,
    }


@pytest.fixture(scope="module")
def iter1(spark, setup):
    """The state after one run_iteration from the literal seeds."""
    return run_iteration(
        setup["kg_l"], setup["kg_r"], init_state(spark, setup["sub"], setup["sup"]), CFG
    )


def df_matches_to_dict(df):
    return {r["ent_id"]: (r["counterpart_id"], r["prob"]) for r in df.collect()}


def df_rel_to_dict(df):
    return {
        (r["pred_id"], r["counterpart_pred_id"]): r["prob"] for r in df.collect()
    }


def assert_close_dicts(got, want, tol=1e-9, cp_agreement=1.0):
    """Key sets equal; probs within tol. Counterpart ids must agree on at
    least ``cp_agreement`` of keys — FP product-order noise can flip the
    argmax between two candidates whose scores tie to the last ulp, which
    is not a semantic difference."""
    assert set(got) == set(want), (
        f"key mismatch: extra={set(got)-set(want)} missing={set(want)-set(got)}"
    )
    disagree = 0
    for k, v in want.items():
        g = got[k]
        if isinstance(v, tuple):
            assert abs(g[1] - v[1]) < tol, f"{k}: prob {g[1]} != {v[1]}"
            if g[0] != v[0]:
                disagree += 1
        else:
            assert abs(g - v) < tol, f"{k}: {g} != {v}"
    tuples = sum(1 for v in want.values() if isinstance(v, tuple))
    if tuples:
        assert disagree <= (1.0 - cp_agreement) * tuples, (
            f"counterpart disagreement on {disagree}/{tuples} keys"
        )


def test_entity_pass_matches_oracle(spark, setup):
    st = setup
    rel_new, cands = entity_pass(
        st["kg_l"], st["kg_r"], st["sub"],
        spark.createDataFrame([], "pred_id LONG, counterpart_pred_id LONG, prob DOUBLE"),
        spark.createDataFrame([], "pred_id LONG, counterpart_pred_id LONG, prob DOUBLE"),
        CFG, init=True,
    )
    o_rel, o_best = one_way_oracle(
        st["facts_l"], st["facts_r"], st["func_l"], st["func_r"],
        df_matches_to_dict(st["sub"]), {}, {},
        CFG.theta, CFG.epsilon, CFG.delta, CFG.const, init=True,
    )
    assert_close_dicts(df_rel_to_dict(rel_new), o_rel)
    got_best = {
        r["ent_id"]: (r["counterpart_id"], r["prob"]) for r in cands.collect()
    }
    assert_close_dicts(got_best, o_best, cp_agreement=0.97)


def test_relation_pass_matches_oracle(setup, iter1):
    """The rel-align-only pass, run L→R on iteration 1's sub state (the
    seed state has no entity matches, so its rel-align is empty)."""
    st = setup
    rel_new = relation_pass(st["kg_l"], st["kg_r"], iter1.matches_sub, CFG)
    o_rel = relation_pass_oracle(
        st["facts_l"], st["facts_r"], st["func_l"], st["func_r"],
        df_matches_to_dict(iter1.matches_sub), CFG.theta, CFG.epsilon, CFG.delta, CFG.const,
    )
    assert o_rel
    assert_close_dicts(df_rel_to_dict(rel_new), o_rel)


def test_full_iteration_matches_oracle(setup, iter1):
    st = setup
    new_state = iter1

    # oracle replay of run_iteration
    sub0 = df_matches_to_dict(st["sub"])
    sup0 = df_matches_to_dict(st["sup"])
    o_rel_l, o_best = one_way_oracle(
        st["facts_l"], st["facts_r"], st["func_l"], st["func_r"], sub0, {}, {},
        CFG.theta, CFG.epsilon, CFG.delta, CFG.const, init=True,
    )
    merged = max_merge_oracle(sub0, o_best)
    lit_l = set(sub0)  # all seed rows are literals
    lit_r = set(sup0)
    o_sub, o_sup = bipartite_oracle(merged, sup0, lit_l, lit_r)
    o_rel_r = relation_pass_oracle(
        st["facts_r"], st["facts_l"], st["func_r"], st["func_l"], o_sup,
        CFG.theta, CFG.epsilon, CFG.delta, CFG.const,
    )
    assert_close_dicts(df_rel_to_dict(new_state.rel_align_l), o_rel_l)
    assert_close_dicts(df_rel_to_dict(new_state.rel_align_r), o_rel_r)
    assert_close_dicts(df_matches_to_dict(new_state.matches_sub), o_sub, cp_agreement=0.97)
    assert_close_dicts(df_matches_to_dict(new_state.matches_sup), o_sup, cp_agreement=0.97)


def test_second_iteration_matches_oracle(setup, iter1):
    """Non-init path: θ-filter against real rel-align probs."""
    st = setup
    # iteration 2 still has init=True in the reference (iter_num <= 1,
    # objects/KGs.py:136); iterate once more to reach the non-init branch.
    s2 = run_iteration(st["kg_l"], st["kg_r"], iter1, CFG)
    s3_rel, s3_cands = entity_pass(
        st["kg_l"], st["kg_r"], s2.matches_sub, s2.rel_align_l, s2.rel_align_r,
        CFG, init=False,
    )
    o_rel, o_best = one_way_oracle(
        st["facts_l"], st["facts_r"], st["func_l"], st["func_r"],
        df_matches_to_dict(s2.matches_sub),
        df_rel_to_dict(s2.rel_align_l), df_rel_to_dict(s2.rel_align_r),
        CFG.theta, CFG.epsilon, CFG.delta, CFG.const, init=False,
    )
    assert_close_dicts(df_rel_to_dict(s3_rel), o_rel, tol=1e-8)
    got = {r["ent_id"]: (r["counterpart_id"], r["prob"]) for r in s3_cands.collect()}
    assert_close_dicts(got, o_best, tol=1e-8, cp_agreement=0.97)


def test_iteration_state_independent_of_shuffle_layout(spark):
    """Two iterations with AQE on and off (different shuffle layouts and
    partition counts) pick the same counterparts; probs and rel-align
    agree to 1e-12, because float sums and products aggregate in
    partition order (paris.rel_align_update)."""
    fx = two_kg_fixture(spark, n_ent=40, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    sub, sup = literal_seed_matches(kg_l, kg_r)
    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    runs = []
    try:
        for aqe in ("true", "false"):
            spark.conf.set(key, aqe)
            state = init_state(spark, sub, sup)
            for _ in range(2):
                state = run_iteration(kg_l, kg_r, state, CFG)
            runs.append(state)
    finally:
        spark.conf.set(key, prior)
    on, off = runs
    for frame in ("matches_sub", "matches_sup"):
        a, b = getattr(on, frame), getattr(off, frame)
        pick = ["ent_id", "counterpart_id", "is_lit"]
        assert sorted(a.select(pick).collect()) == sorted(b.select(pick).collect())
        assert_close_dicts(df_matches_to_dict(b), df_matches_to_dict(a), tol=1e-12)
    for frame in ("rel_align_l", "rel_align_r"):
        got, want = df_rel_to_dict(getattr(off, frame)), df_rel_to_dict(getattr(on, frame))
        assert want
        assert_close_dicts(got, want, tol=1e-12)

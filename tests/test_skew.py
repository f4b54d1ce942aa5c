"""The product-skew guard (skew.guarded_join), forced to engage by lowering
its thresholds: a pure physical rewrite of the plain join, through one
join, the PARIS expansion and a full fixpoint."""

import re
from collections import Counter

import pytest

import prase_spark.skew as skew
from prase_spark.config import ParisConfig
from prase_spark.fixtures import two_kg_fixture
from prase_spark.kgbuild import build_kg
from prase_spark.paris import evidence_expansion
from prase_spark.seed import literal_seed_matches


@pytest.fixture
def engaged(monkeypatch):
    """Thresholds low enough for the fixtures: no size gate, and every key
    whose per-key product reaches 20 rows is salted. Returns the list that
    collects the hot-key rows of each guard decision."""
    monkeypatch.setattr(skew, "GUARD_MIN_FACTS", 0)
    monkeypatch.setattr(skew, "HOT_PRODUCT_ROWS", 20)
    decisions = []
    detect = skew.product_hot_keys

    def recording(*args, **kwargs):
        rows = detect(*args, **kwargs)
        decisions.append(rows)
        return rows

    monkeypatch.setattr(skew, "product_hot_keys", recording)
    return decisions


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_hot_keys(spark):
    """product_hot_keys ranks keys by probe rows x build rows, keeps those at
    or above the threshold, and never reports NULL or one-sided keys."""
    probe = spark.createDataFrame(
        [(1,)] * 10 + [(2,)] * 3 + [(4,)] * 2 + [(None,)] * 50, "k LONG"
    )
    build = spark.createDataFrame(
        [(1,)] * 5 + [(2,)] * 4 + [(3,)] * 100 + [(4,)] + [(None,)] * 50, "k LONG"
    )
    hot = skew.product_hot_keys(probe, build, "k", 12)
    assert [(r["k"], r["__pc"], r["__bc"]) for r in hot] == [(1, 10, 5), (2, 3, 4)]


def test_salted_join_equivalent(spark, engaged):
    probe = spark.createDataFrame(
        [(k, i) for k in [1, 1, 1, 1, 2, 3] for i in range(50)], "k LONG, pv INT"
    )
    build = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (4, "d")], "k LONG, bv STRING"
    )
    joined = skew.guarded_join(probe, build, "k", build_facts=4)
    assert [r["k"] for r in engaged[-1]] == [1, 2]
    assert "__salt" in _plan(joined)
    assert _rows(joined) == _rows(probe.join(build, "k"))


def test_salted_join_null_keys(spark, engaged, monkeypatch):
    """A NULL-heavy key column (classic skew source) is never salted; NULL
    rows fall out of both legs exactly as the plain inner join drops them."""
    monkeypatch.setattr(skew, "HOT_PRODUCT_ROWS", 2)
    probe = spark.createDataFrame(
        [(None, i) for i in range(40)] + [(1, 100), (1, 101), (2, 102)],
        "k LONG, pv INT",
    )
    build = spark.createDataFrame(
        [(None, "n")] * 30 + [(1, "a"), (2, "b")], "k LONG, bv STRING"
    )
    joined = skew.guarded_join(probe, build, "k", build_facts=32)
    assert [r["k"] for r in engaged[-1]] == [1]
    plain = _rows(probe.join(build, "k"))
    assert _rows(joined) == plain and sum(plain.values()) == 3


def test_paris_salting_equivalent(spark, engaged, monkeypatch):
    """The engaged guard turns the PARIS expansion's hot leg into a
    shuffled hash join on (h_cp, __salt) and yields the plain expansion's
    exact row multiset."""
    fx = two_kg_fixture(spark, n_ent=60, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    sub, _ = literal_seed_matches(kg_l, kg_r)
    theta = ParisConfig().theta
    salted = evidence_expansion(kg_l, kg_r, sub, theta)
    assert engaged[-1], "the lowered thresholds found no hot key"
    assert re.search(r"ShuffledHashJoin \[h_cp#\d+L?, __salt#\d+\]", _plan(salted))
    monkeypatch.setattr(skew, "GUARD_MIN_FACTS", 10**18)
    plain = evidence_expansion(kg_l, kg_r, sub, theta)
    assert "__salt" not in _plan(plain)
    assert _rows(salted) == _rows(plain)


def test_salted_full_alignment_value_identical(spark, engaged, monkeypatch):
    """A 2-iteration fixpoint with the guard engaged is value-identical to
    the plain run — salting must be a pure physical rewrite through
    max-merge/bipartite/rel passes, not just within one join."""
    from prase_spark.pipeline import align

    fx = two_kg_fixture(spark, n_ent=80, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])

    def run():
        s = align(spark, kg_l, kg_r, ParisConfig(iterations=2), checkpoint=False).state
        return (
            {(r["ent_id"], r["counterpart_id"], round(r["prob"], 9), r["is_lit"])
             for r in s.matches_sub.collect()},
            {(r["pred_id"], r["counterpart_pred_id"], round(r["prob"], 9))
             for r in s.rel_align_l.collect()},
        )

    salted = run()
    assert any(engaged), "the lowered thresholds found no hot key"
    monkeypatch.setattr(skew, "GUARD_MIN_FACTS", 10**18)
    plain = run()
    assert salted == plain and all(plain)

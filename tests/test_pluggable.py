"""Pluggable surfaces: per-KG normalizers (objects/KG.py:9-15) and custom
fusion functions (objects/KGs.py:82-83)."""

import numpy as np
from pyspark.sql import functions as F

from prase_spark.config import ParisConfig
from prase_spark.embed import pandas_fusion
from prase_spark.kgbuild import build_kg
from prase_spark.schemas import RAW_TRIPLES


def test_custom_normalizers(spark):
    raw = spark.createDataFrame(
        [("<X/a>", "p", "<Y/b>", False), ("<X/a>", "n", '"V"^^t', True)], RAW_TRIPLES
    )
    kg = build_kg(
        raw,
        ent_norm=lambda c: F.upper(c),
        pred_norm=lambda c: F.lower(c),
        lite_norm=lambda c: F.reverse(c),
    )
    vals = {r["name"]: r["value"] for r in kg.nodes.collect()}
    assert vals["<X/a>"] == "<X/A>"
    assert vals['"V"^^t'] == 't^^"V"'  # reversed literal string
    pvals = {r["name"]: r["value"] for r in kg.predicates.collect()}
    assert pvals["p"] == "p" and pvals["n-(INV)"] == "n-(inv)"


def test_pandas_fusion_hook(spark):
    from prase_spark.paris import entity_candidates, evidence_expansion
    from prase_spark.seed import literal_seed_matches
    from prase_spark.fixtures import two_kg_fixture
    from prase_spark.embed import resolve_embeddings

    fx = two_kg_fixture(spark, n_ent=40, seed=42)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    sub, _ = literal_seed_matches(kg_l, kg_r)
    emb_l = resolve_embeddings(
        spark.createDataFrame(fx["emb_l_names"], "name STRING, embedding ARRAY<FLOAT>"),
        kg_l.nodes,
    )
    emb_r = resolve_embeddings(
        spark.createDataFrame(fx["emb_r_names"], "name STRING, embedding ARRAY<FLOAT>"),
        kg_r.nodes,
    )
    cfg = ParisConfig()
    # two init iterations to populate rel-align state (fusion is inactive
    # while init=True, model/PARIS.py:45); then compare the fusion branch.
    from prase_spark.paris import init_state, run_iteration
    from prase_spark.seed import literal_seed_matches as lsm

    sub0, sup0 = lsm(kg_l, kg_r)
    st = init_state(spark, sub0, sup0)
    st = run_iteration(kg_l, kg_r, st, cfg)
    st = run_iteration(kg_l, kg_r, st, cfg)
    expanded = evidence_expansion(kg_l, kg_r, st.matches_sub, cfg.theta)

    # custom fusion mirrors the reference default (0.8p + 0.2cos) in Python
    def ref_fusion(prob, x, y):
        return 0.8 * prob + 0.2 * float(np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y)))

    custom = entity_candidates(
        expanded, st.rel_align_l, st.rel_align_r, cfg, init=False,
        embeddings_l=emb_l, embeddings_r=emb_r, fusion=pandas_fusion(ref_fusion),
    )
    native = entity_candidates(
        expanded, st.rel_align_l, st.rel_align_r, cfg, init=False,
        embeddings_l=emb_l, embeddings_r=emb_r,
    )
    got_c = {r["ent_id"]: (r["counterpart_id"], round(r["prob"], 6)) for r in custom.collect()}
    got_n = {r["ent_id"]: (r["counterpart_id"], round(r["prob"], 6)) for r in native.collect()}
    assert got_c == got_n  # same math through the pandas-UDF escape hatch

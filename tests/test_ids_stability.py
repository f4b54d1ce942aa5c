"""Dense-id assignment must survive cache clearing and re-evaluation
unchanged (regression for the range-resample race; ids are pinned via
eager localCheckpoint in ids.assign_dense_ids)."""

import pytest

from prase_spark.ids import assign_dense_ids
from prase_spark.kgbuild import build_kg
from prase_spark.schemas import RAW_TRIPLES


def _names(spark):
    return spark.createDataFrame([(f"k{i:05d}",) for i in range(5000)], "name STRING")


def _unpinned_distinct(spark):
    # the shape build_kg feeds in: an unpinned distinct() over a union that
    # repeats every name, so the range exchange samples a shuffle output
    names = _names(spark)
    return names.unionByName(names).distinct()


@pytest.mark.parametrize(
    "make_input", [_names, _unpinned_distinct], ids=["names", "unpinned_distinct"]
)
def test_ids_dense_and_stable_across_clear_cache(spark, make_input):
    out = assign_dense_ids(make_input(spark), ["name"], id_col="id", num_partitions=8)
    first = {r["name"]: r["id"] for r in out.collect()}
    assert sorted(first.values()) == list(range(5000))
    assert first["k00000"] == 0 and first["k04999"] == 4999

    spark.catalog.clearCache()  # the bench does this between queries
    second = {r["name"]: r["id"] for r in out.collect()}
    assert first == second


def test_kg_ids_consistent_after_clear_cache(spark):
    raw = spark.createDataFrame(
        [(f"E{i}", f"p{i % 3}", f"E{(i + 1) % 40}", False) for i in range(120)]
        + [(f"E{i}", "name", f"lit-{i}", True) for i in range(40)],
        RAW_TRIPLES,
    )
    kg = build_kg(raw)
    nodes1 = {r["name"]: r["ent_id"] for r in kg.nodes.collect()}
    trip1 = sorted(tuple(r) for r in kg.triples.collect())
    spark.catalog.clearCache()
    nodes2 = {r["name"]: r["ent_id"] for r in kg.nodes.collect()}
    trip2 = sorted(tuple(r) for r in kg.triples.collect())
    assert nodes1 == nodes2
    assert trip1 == trip2

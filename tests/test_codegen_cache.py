"""Generated code survives across PARIS iterations (config.get_spark sizes
Spark's codegen cache above one iteration's working set)."""

from prase_spark.config import CODEGEN_CACHE_ENTRIES, ParisConfig
from prase_spark.fixtures import two_kg_fixture
from prase_spark.kgbuild import build_kg
from prase_spark.paris import init_state, run_iteration
from prase_spark.seed import literal_seed_matches


def _clear_codegen_cache(spark):
    """Empty the JVM-wide generated-class cache. It is private to
    CodeGenerator, so it is reached by reflection; clearing it makes the
    first run below cold whatever earlier tests in the session compiled."""
    field = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def test_paris_iteration_reuses_compiled_code(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compilations = metrics.METRIC_COMPILATION_TIME()
    fx = two_kg_fixture(spark, n_ent=30, seed=7)
    kg_l, kg_r = build_kg(fx["raw_l"]), build_kg(fx["raw_r"])
    state = init_state(spark, *(m.localCheckpoint() for m in literal_seed_matches(kg_l, kg_r)))
    # AQE numbers whole-stage classes in the order its query stages
    # finish, so a few classes of an identical run differ by that number
    # alone (2-13 of ~115 measured); with AQE off the second run needs
    # only classes the first one compiled.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _clear_codegen_cache(spark)
        compiled = []
        for _ in range(2):
            before = compilations.getCount()
            run_iteration(kg_l, kg_r, state, ParisConfig(iterations=1))
            compiled.append(compilations.getCount() - before)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # one iteration compiles ~165 classes cold and none warm; at Spark's
    # default of 100 entries the second run compiled ~80% of them again
    first, second = compiled
    assert first >= 100, compiled
    assert second <= 0.1 * first, compiled

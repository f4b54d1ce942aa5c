"""Pin the PARIS SQL-oracle GENERATOR (__spark_entry__._paris_align_sql)
against the engine at 1 and 3 iterations on sf0.001 — the driver gate only
exercises iterations=2, so the init=False branch (i>2) and the single-
iteration base case are protected here. DuckDB runs in-process AFTER the
Spark collect (FD pressure note in memory)."""

from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("iterations", [1, 3])
def test_generated_sql_matches_engine(spark, iterations):
    import __spark_entry__ as e
    from prase_spark.config import ParisConfig
    from prase_spark.pipeline import align, alignment_results
    from prase_spark.tpch_kg import TABLES

    kg1, kg2 = e._kg_pair(spark, SF)
    cfg = ParisConfig(iterations=iterations)
    run = align(spark, kg1, kg2, cfg, checkpoint=False)
    res = alignment_results(run.state, kg1, kg2, cfg.theta).select(
        "kind", "name_l", "name_r", F.round("prob", 6).alias("prob")
    )
    srows = Counter(tuple(r) for r in res.collect())

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    drows = Counter(tuple(r) for r in con.sql(e._paris_align_sql(iterations)).fetchall())
    con.close()
    assert sum(srows.values()) > 0
    assert srows == drows

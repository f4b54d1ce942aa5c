"""Phase-isolation benchmark (guide §1.1/§1.4): times the headline bench
queries' internal phases with noop sinks and job labels so optimization
targets the measured cost, not the guessed one. Does NOT replace bench.py
(frozen driver contract) — numbers here are cited in OPTIMIZATION_r06.md.

Usage: python bench_extra.py [phase ...]   (default: all)
Phases: kg_build paris seed minhash ann extract
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

T: dict[str, float] = {}


def timed(name):
    class _C:
        def __enter__(self):
            self.t0 = time.time()
            return self

        def __exit__(self, *a):
            T[name] = round(time.time() - self.t0, 3)
            print(f"    {name}: {T[name]}s", file=sys.stderr)

    return _C()


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from prase_spark.config import ParisConfig, get_spark

    spark = get_spark(
        "prase_bench_extra", master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 16)
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as e

    phases = sys.argv[1:] or ["kg_build", "paris", "seed", "minhash", "ann", "extract"]

    if "kg_build" in phases:
        from prase_spark.kgbuild import build_kg
        from prase_spark.tpch_kg import tpch_raw_triples

        sc.setJobDescription("kg_build: raw triples scan (noop)")
        with timed("kg_raw_triples_noop"):
            noop(tpch_raw_triples(spark, SF_DIR, 1))
        sc.setJobDescription("kg_build: single KG build (kg1)")
        with timed("kg_build_kg1_only"):
            kg1 = build_kg(tpch_raw_triples(spark, SF_DIR, 1))
            kg1.functionality.count()
        kg1.unpersist()
        spark.catalog.clearCache()
        sc.setJobDescription("kg_build: full q1 (pair build + functionality)")
        with timed("q1_kg_build_functionality_total"):
            e._q_kg1_functionality(spark, SF_DIR).collect()
        spark.catalog.clearCache()

    if "seed" in phases:
        sc.setJobDescription("q2 literal_seed (post-clearCache)")
        with timed("q2_literal_seed"):
            e._q_literal_seed(spark, SF_DIR).count()
        spark.catalog.clearCache()

    if "paris" in phases:
        from prase_spark.paris import init_state, run_iteration
        from prase_spark.pipeline import alignment_results
        from prase_spark.seed import literal_seed_matches

        kg1, kg2 = e._kg_pair(spark, SF_DIR)
        cfg = ParisConfig(iterations=2)
        sc.setJobDescription("paris: literal seed matches")
        with timed("paris_seed"):
            sub, sup = literal_seed_matches(kg1, kg2)
            state = init_state(spark, sub.localCheckpoint(), sup.localCheckpoint())
        sc.setJobDescription("paris: iteration 1")
        with timed("paris_iter1"):
            state = run_iteration(kg1, kg2, state, cfg)
        sc.setJobDescription("paris: iteration 2")
        with timed("paris_iter2"):
            state = run_iteration(kg1, kg2, state, cfg)
        sc.setJobDescription("paris: alignment_results")
        with timed("paris_results"):
            alignment_results(state, kg1, kg2, cfg.theta).localCheckpoint().count()
        spark.catalog.clearCache()
        # the bench-shaped run: everything cold after clearCache, fresh
        # session-level caches dropped
        e._ALIGN_RES_CACHE.clear()
        sc.setJobDescription("q3 paris_align full (post-clearCache, cold result cache)")
        with timed("q3_paris_align_total"):
            e._q_paris_align_tpch(spark, SF_DIR).count()
        spark.catalog.clearCache()

    if "minhash" in phases:
        from prase_spark.datapipe.dedup import minhash_dedup

        sc.setJobDescription("q4 minhash synthesis")
        with timed("q4_corpus_build"):
            corpus = e._dup_docs(spark, SF_DIR, 10_000_000, 50)
            noop(corpus)
        sc.setJobDescription("q4 minhash_dedup")
        with timed("q4_minhash_dedup"):
            minhash_dedup(corpus, threshold=0.8).count()
        spark.catalog.clearCache()

    if "ann" in phases:
        sc.setJobDescription("q5 ann_topk")
        with timed("q5_ann_topk"):
            e._q_ann_topk(spark, SF_DIR).count()
        spark.catalog.clearCache()

    if "extract" in phases:
        from prase_spark.extract import extract_triples
        from prase_spark.fixtures import synthetic_pages_distributed

        n_pages = int(os.environ.get("PRASE_BENCH_PAGES", "50000"))
        sc.setJobDescription("q6 page synthesis")
        with timed("q6_synthesis"):
            pages = synthetic_pages_distributed(spark, n_pages, partitions=CPUS * 2)
            pages = pages.select("url", "text").persist()
            pages.count()
        sc.setJobDescription("q6 extract warmup")
        with timed("q6_extract_warm"):
            extract_triples(pages).count()
        sc.setJobDescription("q6 extract steady")
        with timed("q6_extract_steady"):
            extract_triples(pages).count()
        T["extract_docs_per_sec"] = round(n_pages / T["q6_extract_steady"], 1)
        pages.unpersist()

    print(json.dumps({"phases": T, "sf_dir": SF_DIR, "cpus": CPUS}))
    spark.stop()


if __name__ == "__main__":
    main()

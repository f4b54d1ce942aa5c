"""spark-submit entry point: the full KG-construction pipeline end-to-end.

    spark-submit --py-files prase_spark.zip scripts/run_pipeline.py \
        --pages-l pages_l.parquet --pages-r pages_r.parquet \
        --out /path/out --checkpoint-dir /path/ckpt --iterations 5 [--resume]

Stages (north_rule): extract triples from page corpora -> build + dict-encode
two KGs -> literal-seed -> PARIS fixpoint (checkpoint every iteration,
resumable) -> mutual-best + connected-components canonicalization ->
materialize graph with canonical ids + per-partition lineage/metrics.

On a cluster, swap the parquet paths for Iceberg table identifiers
(spark.read.format("iceberg")) — the dataflow is unchanged. With no
--pages-* arguments a deterministic synthetic corpus is used (demo mode).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-l", default=None, help="parquet/iceberg path, PAGES schema")
    ap.add_argument("--pages-r", default=None)
    ap.add_argument(
        "--warc-l",
        default=None,
        help="raw WARC glob (e.g. crawl/*.warc.gz) — Common-Crawl native "
        "ingest; text is derived from the byte-identical html payloads",
    )
    ap.add_argument("--warc-r", default=None)
    ap.add_argument("--out", default="/tmp/prase_out")
    ap.add_argument("--checkpoint-dir", default="/tmp/prase_ckpt")
    ap.add_argument("--iterations", type=int, default=3)
    ap.add_argument("--theta", type=float, default=0.1)
    ap.add_argument("--resume", action="store_true", help="resume from latest checkpoint")
    ap.add_argument("--demo-pages", type=int, default=500)
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="ingest pages via Structured Streaming (availableNow drains "
        "pending files incrementally — re-running picks up only NEW page "
        "files) before the alignment runs over the accumulated triples",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from prase_spark.config import ParisConfig
    from prase_spark.extract import pages_to_raw_triples
    from prase_spark.kgbuild import kg_info
    from prase_spark.matching import canonical_entity_ids
    from prase_spark.pipeline import align, build_kgs_from_raw, materialize, partition_metrics

    spark = SparkSession.builder.appName("prase_pipeline").getOrCreate()
    t0 = time.time()

    if args.streaming:
        # Structured Streaming ingest (north_rule streams mode): each page
        # directory is drained incrementally (availableNow) into a triple
        # sink next to the checkpoint; re-submissions extract only files
        # the stream checkpoint has not seen. Alignment then runs over the
        # ACCUMULATED triples — ingest is incremental, reasoning is batch.
        from prase_spark.streaming import run_extraction_stream

        if not args.pages_l:
            from prase_spark.fixtures import pages_fixture

            demo_dir = os.path.join(args.out, "_demo_pages")
            pages_fixture(spark, n_pages=args.demo_pages, seed=42)[0].write.mode(
                "append"
            ).parquet(demo_dir)
            args.pages_l = args.pages_l or demo_dir
        sides = {"L": args.pages_l, "R": args.pages_r or args.pages_l}
        raws = {}
        for side, path in sides.items():
            sink = os.path.join(args.out, f"_stream_triples_{side}")
            ckpt = os.path.join(args.checkpoint_dir, f"_stream_{side}")
            run_extraction_stream(spark, path, sink, ckpt, available_now=True).awaitTermination()
            raws[side] = spark.read.parquet(sink).select(
                "subj", "pred", "obj", "is_attr"
            )
        raw_l, raw_r = raws["L"], raws["R"]
    elif args.warc_l:
        # raw-crawl mode: WARC containers -> PAGES -> triples. Text does
        # not exist yet in the container, so extraction derives it from
        # the byte-identical html payloads (use_text_column=False).
        from prase_spark.extract import extract_triples
        from prase_spark.warc import read_warc, warc_to_pages

        pages_l = warc_to_pages(read_warc(spark, args.warc_l))
        pages_r = (
            warc_to_pages(read_warc(spark, args.warc_r))
            if args.warc_r
            else pages_l
        )
        raw_l = extract_triples(pages_l, use_text_column=False).select(
            "subj", "pred", "obj", "is_attr"
        )
        raw_r = extract_triples(pages_r, use_text_column=False).select(
            "subj", "pred", "obj", "is_attr"
        )
    else:
        if args.pages_l:
            pages_l = spark.read.parquet(args.pages_l)
            pages_r = spark.read.parquet(args.pages_r) if args.pages_r else pages_l
        else:
            from prase_spark.fixtures import pages_fixture

            pages_l, _ = pages_fixture(spark, n_pages=args.demo_pages, seed=42)
            pages_r, _ = pages_fixture(spark, n_pages=args.demo_pages, seed=42)

        raw_l = pages_to_raw_triples(pages_l)
        raw_r = pages_to_raw_triples(pages_r)
    kg_l, kg_r = build_kgs_from_raw(spark, raw_l, raw_r)
    print("KG_L:", json.dumps(kg_info(kg_l)))
    print("KG_R:", json.dumps(kg_info(kg_r)))

    cfg = ParisConfig(
        theta=args.theta, iterations=args.iterations, checkpoint_dir=args.checkpoint_dir
    )
    run = align(
        spark, kg_l, kg_r, cfg,
        resume_from=args.checkpoint_dir if args.resume else None,
        checkpoint=True,
    )
    canon = canonical_entity_ids(run.state.matches_sub, cfg.theta)
    out = materialize(raw_l, kg_l, canon, side="L", out_path=os.path.join(args.out, "graph"))
    metrics = partition_metrics(out)
    metrics.write.mode("overwrite").parquet(os.path.join(args.out, "metrics"))
    print(
        json.dumps(
            {
                "triples_out": out.count(),
                "match_pairs": run.state.matches_sub.count(),
                "iterations": run.state.iter_num,
                "elapsed_sec": round(time.time() - t0, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

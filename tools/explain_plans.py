"""Dump formatted physical plans for the hot operators — the SURVEY.md
'iterate until it's the plan you'd want' loop. Checks for: broadcast joins
on rel-align/functionality, no unexpected exchanges, pushed filters, and
whole-stage codegen coverage."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from prase_spark.config import ParisConfig, get_spark  # noqa: E402


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("explain", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from prase_spark.kgbuild import build_kg
    from prase_spark.paris import init_state
    from prase_spark.seed import literal_seed_matches
    from prase_spark.tpch_kg import tpch_raw_triples

    kg1 = build_kg(tpch_raw_triples(spark, sf, 1))
    kg2 = build_kg(tpch_raw_triples(spark, sf, 2))
    sub, sup = literal_seed_matches(kg1, kg2)
    state = init_state(spark, sub, sup)

    print("=" * 70, "\nFUNCTIONALITY AGG PLAN\n", "=" * 70)
    kg1.functionality.explain("formatted")

    print("=" * 70, "\nLITERAL SEED JOIN PLAN\n", "=" * 70)
    sub.explain("formatted")

    # candidate scoring plan (the PARIS kernel): the production expansion
    # and scorer, without the iteration's eager localCheckpoint so the
    # full DAG is visible
    from prase_spark.paris import candidate_scores, evidence_expansion

    cfg = ParisConfig()
    expanded = evidence_expansion(kg1, kg2, state.matches_sub, cfg.theta)
    cands = candidate_scores(expanded, state.rel_align_l, state.rel_align_r, cfg, init=True)
    print("=" * 70, "\nPARIS CANDIDATE PLAN\n", "=" * 70)
    cands.explain("formatted")

    # dedup suite plans: candidate generation must be banded (no shingle-
    # keyed exchange), verification per-pair (array_intersect, no self-join)
    from prase_spark.datapipe.dedup import exact_jaccard, minhash_lsh_pairs, shingle_table

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    print("=" * 70, "\nMINHASH LSH CANDIDATE PLAN\n", "=" * 70)
    minhash_lsh_pairs(docs).explain("formatted")
    pairs = spark.createDataFrame([(0, 1)], "key_a LONG, key_b LONG")
    print("=" * 70, "\nEXACT-JACCARD VERIFY PLAN (array path)\n", "=" * 70)
    exact_jaccard(shingle_table(docs), pairs).explain("formatted")

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").selectExpr(
        "vec_id", "cast(embedding as array<double>) AS embedding"
    )
    print("=" * 70, "\nEMBEDDING NEAR-DUP CANDIDATE+VERIFY PLAN\n", "=" * 70)
    # rebuilt without the eager localCheckpoints so the banded candidate
    # join AND the cosine verify are visible as one DAG (the CC tail is
    # iterative driver control flow, not a single plan)
    from prase_spark.embed import cosine_expr, hyperplane_signatures

    sig = hyperplane_signatures(
        emb.select(F.col("vec_id").alias("ent_id"), "embedding"), dim=64
    )
    a = sig.select(F.col("ent_id").alias("key_a"), "band", "band_key")
    b = sig.select(F.col("ent_id").alias("key_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"]).filter("key_a < key_b")
        .select("key_a", "key_b").distinct()
    )
    va = emb.select(F.col("vec_id").alias("key_a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("key_b"), F.col("embedding").alias("vb"))
    verified = (
        cand.join(va, "key_a").join(vb, "key_b")
        .withColumn("cos", cosine_expr("va", "vb")).filter("cos >= 0.99")
    )
    verified.explain("formatted")

    # round-4 operators: pagerank (integer kernel — expect one shuffle on
    # src-join + one on dst-agg per iteration, no doubles in the agg),
    # incremental dedup (expect BroadcastHashJoin on the batch band table
    # — the store side must NOT shuffle), inverted index (df-band
    # semi-join BEFORE collect_list), bucket metrics (single hash agg)
    from prase_spark.graphstats import pagerank
    from prase_spark.io import bucket_metrics

    edges = spark.range(1000).selectExpr("id % 97 AS src", "(id * 7) % 97 AS dst")
    print("=" * 70, "\nPAGERANK 1-ITERATION PLAN\n", "=" * 70)
    pagerank(edges, iterations=1).explain("formatted")

    from prase_spark.datapipe.incremental import incremental_minhash, minhash_store

    corpus = docs.filter("doc_id < 80")
    batch = docs.filter("doc_id >= 80 AND doc_id < 100")
    print("=" * 70, "\nINCREMENTAL MINHASH PROBE PLAN\n", "=" * 70)
    incremental_minhash(batch, minhash_store(corpus)).explain("formatted")

    from prase_spark.datapipe.textindex import inverted_index

    print("=" * 70, "\nINVERTED INDEX PLAN\n", "=" * 70)
    inverted_index(docs, min_df=3, max_df=200).explain("formatted")

    print("=" * 70, "\nBUCKET METRICS PLAN\n", "=" * 70)
    bucket_metrics(
        docs.selectExpr("cast(doc_id as string) AS subj", "'p' AS pred", "text AS obj"),
        16,
    ).explain("formatted")

    # round-4 curation wave: pii / gopher / langmix must be ZERO-exchange
    # map stages; host_stats one distinct-agg (2 exchanges, no Expand);
    # rare_term_ratio 2 exchanges (gram-df, key-agg) with the rare
    # keep-set joinable broadcast/SMJ by AQE; the host/domain filters
    # must be BroadcastHashJoin LeftAnti (corpus side never shuffles)
    from prase_spark.datapipe.hoststats import filter_by_hosts, host_stats
    from prase_spark.datapipe.pii import redact_corpus
    from prase_spark.datapipe.textindex import rare_term_ratio
    from prase_spark.datapipe.textstats import intra_doc_repetition, language_mix

    print("=" * 70, "\nPII REDACT PLAN (expect zero exchanges)\n", "=" * 70)
    redact_corpus(docs).explain("formatted")

    hosts = docs.selectExpr("concat('h', doc_id % 20) AS host", "text")
    print("=" * 70, "\nHOST STATS PLAN (one distinct-agg)\n", "=" * 70)
    host_stats(hosts).explain("formatted")

    print("=" * 70, "\nHOST FILTER PLAN (broadcast LeftAnti)\n", "=" * 70)
    filter_by_hosts(
        hosts, spark.createDataFrame([("h0",)], ["host"])
    ).explain("formatted")

    print("=" * 70, "\nRARE NGRAM PLAN (2 exchanges)\n", "=" * 70)
    rare_term_ratio(docs).explain("formatted")

    print("=" * 70, "\nGOPHER REPETITION PLAN (zero exchanges)\n", "=" * 70)
    intra_doc_repetition(docs).explain("formatted")

    print("=" * 70, "\nLANGUAGE MIX PLAN (zero exchanges)\n", "=" * 70)
    language_mix(docs).explain("formatted")

    # round-4 fifth-session ops: lm vocab must be TakeOrderedAndProject
    # (distributed top-V, no Window/global sort); lm scoring a
    # BroadcastHashJoin on the vocab with the per-doc HashAggregate's
    # partial below the only exchange; temperature weights one
    # corpus-side exchange (the stratum agg) + broadcast totals
    from prase_spark.datapipe.lmscore import lm_score, unigram_vocab
    from prase_spark.datapipe.sampling import temperature_weights

    print("=" * 70, "\nLM VOCAB PLAN (TakeOrderedAndProject)\n", "=" * 70)
    vocab = unigram_vocab(docs, top_v=50)
    vocab.explain("formatted")

    print("=" * 70, "\nLM SCORE PLAN (broadcast vocab)\n", "=" * 70)
    lm_score(docs, vocab).explain("formatted")

    print("=" * 70, "\nTEMPERATURE WEIGHTS PLAN (one corpus exchange)\n", "=" * 70)
    temperature_weights(
        docs.selectExpr("doc_id", "concat('s', doc_id % 5) AS source", "text"),
        "source",
    ).explain("formatted")

    # round-4 sixth-session ops: hashed-LM model build must partition on
    # the LONG gram key (no string gram below the exchange); hashed
    # scoring 3 BroadcastHashJoins on longs; dsir weights 2 broadcast
    # joins + one-row-per-doc exchange; classifier score 1 broadcast
    # join + one-row-per-doc exchange (the weight table <= n_buckets)
    from prase_spark.datapipe.classify import classifier_score, nb_log_odds_weights
    from prase_spark.datapipe.dsir import bucket_model, dsir_weights
    from prase_spark.datapipe.lmscore import (
        bigram_vocab_hashed,
        lm_score_bigram_hashed,
        unigram_vocab_hashed,
    )

    print("=" * 70, "\nHASHED BIGRAM VOCAB PLAN (long-key exchange)\n", "=" * 70)
    bigs_h = bigram_vocab_hashed(docs, top_b=100)
    bigs_h.explain("formatted")

    print("=" * 70, "\nHASHED LM SCORE PLAN (3 long-key broadcasts)\n", "=" * 70)
    lm_score_bigram_hashed(
        docs, unigram_vocab_hashed(docs, top_v=50), bigs_h
    ).explain("formatted")

    tm = bucket_model(docs.filter("doc_id % 2 = 0"), n_buckets=97)
    rm = bucket_model(docs, n_buckets=97)
    print("=" * 70, "\nDSIR WEIGHTS PLAN (2 broadcasts, 1 doc exchange)\n", "=" * 70)
    dsir_weights(docs, tm, rm, n_buckets=97).explain("formatted")

    print("=" * 70, "\nCLASSIFIER SCORE PLAN (1 broadcast, 1 doc exchange)\n", "=" * 70)
    classifier_score(docs, nb_log_odds_weights(tm, rm), n_buckets=97).explain(
        "formatted"
    )


if __name__ == "__main__":
    main()

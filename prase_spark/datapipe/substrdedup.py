"""Exact duplicated-substring detection — the Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better") signal:
find every token span that occurs more than once ACROSS the corpus (or
within a doc), exactly, and report per-document duplicated-substring
mass so the curation layer can drop or down-weight substring-level
near-copies that paragraph/minhash dedup misses (licence boilerplate,
quoted reuse, templated spans shorter than a paragraph).

Method (suffix arrays re-expressed for a shuffle engine): a span of
``>= k`` tokens is duplicated iff one of its k-token windows is
duplicated, so k-gram window fingerprints give EXACT >=k-token-span
detection — no banding, no probability:

1. per doc, hash each token once, then fingerprint every k-token window
   with a polynomial fold over the token hashes (both arrays built in a
   MAP projection, below any explode — the interpreted-Generate trap
   ``textstats.tokens`` documents);
2. one positioned explode, then HEAT-ROUTED ownership: a ~1%-of-docs
   hash sample sketches the cross-doc-hot fingerprints; hot occurrences
   reduce via a map-side-combinable ``groupBy(fp).agg(count,
   min(struct))`` + broadcast join-back (no sort, no corpus shuffle —
   a boilerplate fingerprint repeated across 10^7 docs collapses to one
   partial row per map task), while the cold majority keeps the fast
   single-window ownership whose per-fp partitions the sketch just
   bounded (~2x ``hot_fp_threshold`` whp). Both paths compute the same
   exact min-(key, pos) first-occurrence rule (the paradedup min-key
   ownership), so routing never changes the output;
3. every non-canonical occurrence of a fingerprint with count >= 2 is a
   duplicated window; its k covered token positions are exploded and
   de-duplicated per doc (union of overlapping windows WITHOUT interval
   arithmetic: count distinct covered positions, count span starts as
   covered positions whose predecessor is not covered);
4. per-doc report: ``n_tokens`` / ``dup_kgram_cnt`` / ``dup_token_cnt``
   / ``dup_span_cnt`` / ``dup_pct_e4`` (exact-integer half-up), zeros
   for docs shorter than k.

Scale shape at 10^12 docs: the only corpus-sized shuffle carries
(fingerprint, key, pos) longs — never text — and its window partitions
are heat-bounded by the sketch; hot fingerprints never shuffle raw
(map-side combine collapses them before the tiny hot exchange);
covered-position dedup shuffles on the doc key (bounded per doc by
token count). Per-token CPU is O(k) fold work in whole-stage codegen
(k=16 default: ~16 multiply-adds per token), evaluated once on a cold
corpus and twice when hot fingerprints exist (the hot filter's probe
side), plus ~1% for the sketch pass; the hot occurrence set and the
duplicated-occurrence set are persisted (both skew/output-proportional,
never the cold majority) so no leg runs per-consumer. The returned
DataFrame references those caches lazily — a build-once session
processing many corpora reclaims them with ``spark.catalog.clearCache()``
between corpora. A fingerprint hot WITHIN one doc but not across docs
can evade a doc-level sketch; its window partition is still bounded by
the max doc token count.

The report DELIBERATELY stops at flags/stats rather than cutting the
spans from ``text``: the repo's extraction invariant is byte-identical
text per url, and a token-level rebuild cannot restore original
whitespace/punctuation. Callers drop or down-weight by ``dup_pct_e4``
(Lee et al. cut; RefinedWeb-style pipelines typically filter — same
corpus effect, invariant preserved).

Collision note: fingerprints are 61-bit polynomial values (the repo's
SQL-replicable :mod:`~prase_spark.datapipe.hashing` family) or xxhash64
chains; a collision can only ADD a false duplicated window
(~n^2/2^62 for n distinct windows) — acceptable for a down-weighting
signal, and the same budget every hash-dedup path here documents.

No reference analog (extends SURVEY.md §2.8's dedup family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prase_spark.datapipe.textstats import tokens

__all__ = ["kgram_fingerprints", "substring_dup_stats"]


def _window_keys(hs: Column, k: int) -> Column:
    """array<long> of k-token window fingerprints from a token-hash
    array: ``fp(i) = xxhash64(...xxhash64(h[i], h[i+1])..., h[i+k-1])``.

    Built as ``k-1`` whole-array ``zip_with`` passes over shifted slices
    — NOT a per-window ``aggregate()`` over a slice: HOFs evaluate on
    the interpreted expression path, where a per-window fold pays
    aggregate-machinery setup per OUTPUT window (and the first version's
    decimal(38,0) modular arithmetic paid BigDecimal per step — measured
    a >8 min stall at 50k docs; the flat xxhash64-chain rewrite is
    ~O(k) native long ops per window and finishes the same corpus in
    seconds). The chain is hash-structure-agnostic: the gate's DuckDB
    twin verifies duplication semantics over RAW k-gram strings, so no
    engine ever needs to replay this combine."""
    m = F.greatest(F.size(hs) - (k - 1), F.lit(0))
    acc = F.slice(hs, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(hs, 1 + j, m), lambda a, b: F.xxhash64(a, b)
        )
    return acc


def kgram_fingerprints(
    docs: DataFrame,
    k: int = 16,
    text_col: str = "text",
    key_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """(key, pos, fp): one row per k-token window, ``pos`` the 0-based
    token index of the window start, ``fp`` the polynomial fold of the
    window's per-token hashes. Docs shorter than ``k`` produce no rows.
    Token hashes and the fingerprint array are both materialized in map
    projections; only the final positioned explode generates rows."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hash_fn = hash_fn or F.xxhash64
    hashed = docs.select(
        F.col(key_col).alias("key"), tokens(text_col).alias("__t")
    ).select(
        "key", F.transform(F.col("__t"), lambda w: hash_fn(w)).alias("__h")
    )
    fps = hashed.select("key", _window_keys(F.col("__h"), k).alias("__fp"))
    return fps.select("key", F.posexplode("__fp").alias("pos", "fp"))


def substring_dup_stats(
    docs: DataFrame,
    k: int = 16,
    text_col: str = "text",
    key_col: str = "doc_id",
    hash_fn=None,
    hot_fp_threshold: int = 10_000,
    sketch_frac_e4: int = 100,
    max_hot_fps: int = 100_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Per-document duplicated-substring report (see module doc):

    - ``n_tokens`` — token count;
    - ``dup_kgram_cnt`` — non-canonical occurrences of corpus-duplicated
      k-token windows in this doc;
    - ``dup_token_cnt`` — tokens covered by at least one such window
      (union of overlapping windows, exact);
    - ``dup_span_cnt`` — maximal contiguous duplicated spans;
    - ``dup_pct_e4`` — ``dup_token_cnt / n_tokens`` exact-integer
      half-up x 1e4 (the drop/down-weight signal).

    Every row of ``docs`` is preserved (zeros for short/empty/NULL-text
    docs). The globally FIRST occurrence of each duplicated window
    (min key, then min pos) stays canonical and is not counted — a
    corpus with every doc unique reports all-zero.

    Skew routing (VERDICT r4 #1): ``sketch_frac_e4``/10^4 of the docs
    (hash-deterministic) are fingerprinted to sketch cross-doc-hot
    fingerprints (estimated count >= ``hot_fp_threshold``, halved for
    sampling slack); at most ``max_hot_fps`` of them (largest first)
    bypass the window path — see the module doc. ``stats_out`` (a dict)
    receives ``hot_fps`` and ``hot_est_threshold`` telemetry. Routing
    never changes the result."""
    fps = kgram_fingerprints(docs, k, text_col, key_col, hash_fn)
    # ownership without an UNBOUNDED window over the fingerprint
    # (VERDICT r4 #1): the r4 Window.partitionBy("fp") fully sorted +
    # buffered each fingerprint's partition, and massive template
    # duplication (a licence header across 10^7 docs) is this operator's
    # EXPECTED input — one hot fp serialized a partition AQE cannot
    # split (windows are unsplittable), straggler-to-OOM at 100 TB. But
    # the pure groupBy+join-back alternative measured 0.63 efficiency
    # and ~2x wall at 4->16 (BENCH.md r5): on the COMMON unique-heavy
    # fingerprint distribution, map-side combine collapses nothing and
    # the corpus pays two chain evaluations plus two corpus-sized
    # exchanges. So route by heat (sketch the hot keys, split hot from
    # cold):
    #   1. SKETCH cross-doc-hot fingerprints from a ~1%-of-DOCS
    #      deterministic hash sample (chain cost ~1%; a fingerprint with
    #      >= hot_fp_threshold cross-doc occurrences is caught whp, and
    #      a miss only costs window-partition size, bounded whp by
    #      ~2x threshold);
    #   2. HOT occurrences (broadcast semi-join on the tiny hot set) go
    #      through groupBy(fp).agg(count, min(struct)) — NOW map-side
    #      combinable to |hot| rows per task — and a broadcast join-back;
    #      no sort, no buffering, no corpus shuffle;
    #   3. COLD occurrences keep the r4 single-window ownership, whose
    #      per-fp partitions the sketch just bounded.
    # Both paths compute the identical exact min-(key, pos) ownership,
    # so the OUTPUT is classification-independent (the DuckDB twin stays
    # byte-identical); routing only decides the physical plan.
    # test_hot_fingerprint_routed_off_window pins the routing.
    spark = docs.sparkSession
    # sketch membership always hashes with xxhash64: routing never
    # affects the output, so it needs no SQL-replicable twin. The sample
    # is persisted before the fingerprint chain: an unmaterialized
    # filter under the interpreted HOF chain was measured to cost like a
    # FULL-corpus chain (the Generate/CollapseProject interplay the
    # DEPLOY explode note documents), while the persisted ~1% sample
    # pays ~1%.
    sketch = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(10_000))
    sampled = docs.filter(sketch < F.lit(int(sketch_frac_e4))).persist()
    est_thresh = max(1, (hot_fp_threshold * sketch_frac_e4) // 10_000 // 2)
    try:
        hot_rows = [
            r["fp"]
            for r in kgram_fingerprints(sampled, k, text_col, key_col, hash_fn)
            .groupBy("fp")
            .agg(F.count("*").alias("__scnt"))
            .filter(F.col("__scnt") >= est_thresh)
            .orderBy(F.desc("__scnt"), F.asc("fp"))
            .limit(int(max_hot_fps))
            .collect()  # driver-bounded by max_hot_fps longs (<= ~1 MB)
        ]
    finally:
        sampled.unpersist()
    if stats_out is not None:
        stats_out["hot_fps"] = len(hot_rows)
        stats_out["hot_est_threshold"] = est_thresh
        # a capped sketch means fingerprints beyond the cap fell back to
        # the window path — slow, never wrong; surface it
        stats_out["hot_capped"] = len(hot_rows) >= int(max_hot_fps)
    if hot_rows:
        hot = spark.createDataFrame([(int(f),) for f in hot_rows], "fp LONG")
        fps_cold = fps.join(F.broadcast(hot), "fp", "left_anti")
        # persist the HOT occurrences (skew-proportional, never the cold
        # corpus majority): both the ownership aggregate and the
        # join-back probe read them, and without the cache each leg
        # would re-run the full-corpus fingerprint chain just to filter
        # it down to the hot rows
        fps_hot = fps.join(F.broadcast(hot), "fp").persist()
        agg = fps_hot.groupBy("fp").agg(
            F.count("*").alias("__cnt"),
            F.min(F.struct("key", "pos")).alias("__own"),
        )
        dup_hot = (
            fps_hot.join(F.broadcast(agg), "fp")
            .filter(
                (F.col("__cnt") >= 2)
                & (
                    (F.col("key") != F.col("__own.key"))
                    | (F.col("pos") != F.col("__own.pos"))
                )
            )
            .select("key", "pos")
        )
    else:
        fps_cold, dup_hot = fps, None
    wfp = Window.partitionBy("fp").orderBy("key", "pos")
    dup_cold = (
        fps_cold.select(
            "key",
            "pos",
            F.count("*")
            .over(wfp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .alias("__cnt"),
            F.row_number().over(wfp).alias("__rn"),
        )
        .filter((F.col("__cnt") >= 2) & (F.col("__rn") > 1))
        .select("key", "pos")
    )
    # dup_occ feeds two consumers (the k-gram counts and the covered-
    # position explode); persist the duplicated occurrences — output-
    # proportional, usually a small corpus fraction — so the ownership
    # legs run once, not once per consumer
    dup_occ = (
        dup_cold if dup_hot is None else dup_cold.unionByName(dup_hot)
    ).persist()
    per_doc_kgrams = dup_occ.groupBy("key").agg(
        F.count("*").alias("dup_kgram_cnt")
    )
    covered = (
        dup_occ.select(
            "key", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p")
        )
        .distinct()
    )
    w = Window.partitionBy("key").orderBy("p")
    spans = covered.withColumn(
        "__start", (F.coalesce(F.lag("p").over(w), F.lit(-2)) < F.col("p") - 1).cast("long")
    ).groupBy("key").agg(
        F.count("*").alias("dup_token_cnt"),
        F.sum("__start").alias("dup_span_cnt"),
    )
    # NULL text -> NULL token array -> size() is NULL (not -1) on this
    # codebase's configs; coalesce keeps the all-zero row contract
    n_tok = docs.select(
        F.col(key_col).alias("key"),
        F.coalesce(F.size(tokens(text_col)), F.lit(0)).alias("n_tokens"),
    )
    return (
        n_tok.join(per_doc_kgrams, "key", "left")
        .join(spans, "key", "left")
        .select(
            "key",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_kgram_cnt", F.lit(0)).cast("long").alias("dup_kgram_cnt"),
            F.coalesce("dup_token_cnt", F.lit(0)).cast("long").alias("dup_token_cnt"),
            F.coalesce("dup_span_cnt", F.lit(0)).cast("long").alias("dup_span_cnt"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr(
                    "(2 * coalesce(dup_token_cnt, 0) * 10000 + n_tokens) "
                    "div (2 * n_tokens)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_pct_e4"),
        )
    )

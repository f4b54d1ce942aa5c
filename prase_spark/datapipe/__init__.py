"""Large-scale training-data pipeline operations (beyond the reference).

This package root imports nothing: import each name from the module that
defines it (``from prase_spark.datapipe.dedup import minhash_dedup``).

Module map:

- deduplication: dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard,
  ``minhash_dedup``), paradedup, substrdedup, winnow, setjoin,
  incremental, urlnorm
- similarity search: simsearch (``cosine_topk``, ``lsh_topk``, IVF,
  ``embedding_neardup``), pq, buckets (LSH band-bucket caps), hashing
- text analysis: textstats, textindex, textrank, colloc, langid_ct,
  lmscore, classify, profile, bpetrain
- curation: boilerplate, pii, hoststats, robots, sitemaps, feeds,
  decontam (``decontaminate``)
- chunking and packing: chunking (``chunk_documents``, ``pack_chunks``,
  ``cdc_chunks``)
- sampling and selection: sampling (``hash_sample``), dsir, skyline
- sketches: sketches (count-min, KMV)
- event logs: sessionize
- multimodal plumbing: multimodal
"""

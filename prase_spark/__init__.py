"""prase_spark — a PySpark-native knowledge-graph construction + entity-alignment engine.

Brand-new implementation (NOT a port) with the capabilities of the reference
qizhyuan/PRASE-Python: PARIS probabilistic reasoning and embedding-similarity
fusion, re-expressed as Spark DataFrame dataflow.

Modules are the API. This package root imports nothing: import each name
from the module that defines it (``from prase_spark.pipeline import align``).
A process — the driver, a Python worker unpickling an ``extract`` or
``embed`` function, a ``spark-submit --py-files`` executor — then loads only
that module and its own imports, and a broken or slow import in an unrelated
module cannot take down the pipeline.

Module map. The paper pipeline (crawl pages -> triples -> KG pair ->
PARIS/PRASE -> canonical ids -> materialized graph):

- config: ``get_spark`` session factory, ``ParisConfig`` hyperparameters
- extract: page html -> text -> (subj, pred, obj) triples
- normalize, ids: native name normalizers and dense-id assignment (used
  by kgbuild)
- kgbuild: dict-encode + inverse-edge union + functionality
  (reference: objects/KG.py)
- seed: literal seed join (reference: objects/KGs.py:53-58)
- paris: the PARIS Jacobi iteration (reference: model/PARIS.py)
- skew: the product-skew guard on the PARIS expansion join
- embed: cosine scoring, LSH blocking, embedding reset
  (reference: test.py:74-76, objects/KGs.py:265-279)
- matching: mutual-best bipartite matching (reference: objects/KGs.py:222-241)
  and connected-components canonical ids
- pipeline: the fixpoint loop (``align``, ``prase_feedback_align``),
  ``build_kgs_from_raw``, ``materialize``
- concurrency: driver-thread overlap of independent jobs
- checkpoint: ``save_state`` / ``load_state`` for the fixpoint
- evaluate: P/R/F1 sweep (``evaluate_alignment``)

Beyond the pipeline:

- ingest: warc, cdx, sources, streaming, structured, htmltables, linkgraph,
  rdfio, tpch_kg, fixtures
- KG analytics: graphstats, temporalgraph, walks, sgns, transe, closure,
  shapes, bgp, rulemine, distsup
- linkage and fusion: nameblock, fuzzy, linkage, metablock, survivorship,
  truth, temporal, asof
- table schemas and sinks: schemas, io
- web-scale training-data operations (dedup, similarity search, text
  analysis, chunking, decontamination, sampling): the ``datapipe`` package
"""

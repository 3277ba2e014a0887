"""docinsight_spark — a PySpark-native fulltext indexing & retrieval engine.

A from-scratch re-expression of the capabilities of the reference
DocInsight pipeline (document originality analysis: ingest → chunk →
embed → FAISS index → top-k retrieval → rerank → score fusion → span
clustering → report) as an idiomatic Spark stack:

* code-aware tokenization (vectorized pandas/Arrow UDFs)
* inverted-index build: (term, docID, tf) postings sharded by docID
  hash, two-stage salted document-frequency aggregation against
  hot-term skew, segments of plain parquet docID/tf arrays with
  block-max metadata, hierarchical merge waves with per-partition
  lineage manifests (resumable)
* Okapi BM25 (k1=1.2, b=0.75) top-k querying — a pure-DataFrame
  oracle path and a block-max WAND fast path in ``mapInPandas``
* DocInsight's report semantics re-expressed as DataFrame ops:
  min-max normalization, score fusion, risk gating, repeated-match
  decay, span sessionization, originality aggregation, stylometry
* training-data pipeline ops: exact/MinHash-LSH/SimHash/Jaccard/
  embedding-cosine dedup, ANN similarity search, language ID,
  quality scoring, fingerprinting, multimodal column plumbing

Everything here is built on public Apache Spark APIs only.
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
DEFAULT_TOP_K = 10  # reference: config.py:203 DEFAULT_TOP_K

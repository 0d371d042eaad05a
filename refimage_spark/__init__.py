"""refimage_spark — a PySpark-native inverted-index + BM25 search engine.

A from-scratch rebuild of the capabilities of ``mako10k/refimage``
(an image store + FAISS/CLIP dense top-k search API) as an idiomatic
Spark engine over web-page text:

- ingest / dedup / metadata table ops   (reference: src/refimage/storage.py)
- lexical inverted index (segments: delta+varbyte postings, block-max)
  replacing the FAISS flat index        (reference: src/refimage/search/__init__.py)
- BM25 top-k query engine with block-max pruning, thresholds,
  per-clause weights                    (reference: src/refimage/search/__init__.py:202-266)
- boolean query DSL AND/OR/NOT/#tag/^w  (reference: src/refimage/dsl.py)
- training-data pipeline operators: dedup (exact/minhash/simhash/
  ngram-jaccard/embedding-cosine), ANN similarity search, text
  quality/langid/fingerprint, multimodal binary plumbing.

Everything data-parallel is DataFrame-first; Python only ever runs as
Arrow-batched pandas UDFs / mapInArrow kernels (never per-row UDFs).
"""

__version__ = "0.1.0"

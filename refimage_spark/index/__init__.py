"""The from-scratch inverted-index engine (segments, codec, BM25 query).

Replaces the reference's FAISS flat index + pickle sidecar
(/root/reference/src/refimage/search/__init__.py) with:

- document-partitioned segment files: each segment is a self-contained
  inverted index (term dictionary + delta+varbyte postings + block-max
  metadata + doc norms) over a disjoint doc_id subset. Zipf head terms
  are automatically split across ALL segments (each holds only its doc
  range), so no single posting list concentrates the corpus — the skew
  story is structural, not a patch.
- a manifest of committed segments = checkpoint + lineage unit; builds
  resume by skipping committed partitions.
- query: per-segment exact BM25 top-k (one vectorized term-at-a-time
  scorer; text queries decode only the blocks a block-max MaxScore
  step keeps), then a global top-k merge. Docs live in exactly one
  segment, so merging per-segment top-ks is exact.
"""

"""LLM-training-data pipeline operators (the north-star extension
layer, BASELINE.json): deduplication, similarity search, text
analysis, and multimodal-column plumbing over the driver's
``documents`` / ``embeddings`` tables.

Almost everything is ``pyspark.sql.functions`` column algebra and is
DuckDB-oracle-checkable. The exceptions are the multimodal decode
stubs and the vector kernels: ``kernels`` holds numpy folds over Arrow
batches that ``similarity`` runs through ``mapInArrow`` for the
k-means, IVF and q20-quantize passes, because the equivalent
``zip_with``/``aggregate`` lambdas are interpreted per element. The
kernels fold in the same element order as the column algebra, so their
results are bit-identical to it. Hashing is md5-based so both engines
compute bit-identical signatures.

Modules:
- ``text``: normalization, tokenization, shingling, text statistics,
  quality scoring, language-ID heuristic, winnowing fingerprints.
- ``dedup``: exact (normalized-hash), MinHash-LSH (banded candidate
  generation — never all-pairs), SimHash (byte-banded), and blocked
  exact n-gram-Jaccard as the small-scale baseline.
- ``similarity``: cosine top-k (brute-force baseline; IVF with fixed
  or spherical-k-means centroids; single- and multiprobe sign-LSH),
  embedding near-duplicate pairs.
- ``kernels``: the numpy/pyarrow vector kernels behind ``similarity``'s
  k-means and IVF passes (no Spark import).
- ``multimodal``: binary-column plumbing with Arrow-batched feature
  extraction (decode stubbed — codec libs are not in this container).
"""

"""Training-data-pipeline operators over the engine.

Beyond reference parity (SURVEY.md §2), these are the operators a
large-scale (100 TB) training-data pipeline needs: deduplication
(exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search over
embeddings, text analysis (language-ID, quality, tokens, fingerprints),
and graph loops (connected components, PageRank).

Hot paths are Column expressions (JVM, codegen) or Arrow-batched NumPy
kernels that evaluate the same arithmetic op for op; hashing is
md5-based so results are engine-portable (the DuckDB oracle reproduces
them bit-for-bit).
"""

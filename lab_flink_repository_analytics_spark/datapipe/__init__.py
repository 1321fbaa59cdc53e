"""Training-data-pipeline operators over the engine.

Beyond reference parity (SURVEY.md §2), these are the operators the
registry's training-data queries are built from: deduplication
(exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search over
embeddings, text analysis (language-ID, quality, tokens, fingerprints),
BPE training, sketches, temporal joins and graph loops (connected
components, PageRank).  Each public operator has a caller outside the
tests (``tests/test_dead_code_audit.py``), and the DuckDB oracle of the
query that uses it is its contract.

Hot paths are Column expressions (JVM, codegen) or Arrow-batched NumPy
kernels that evaluate the same arithmetic op for op; hashing is
md5-based so results are engine-portable (the DuckDB oracle reproduces
them bit-for-bit).
"""

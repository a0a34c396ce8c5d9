"""Training-data pipeline operations over document/embedding tables:
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine), similarity search (exact broadcast-BLAS baselines +
LSH/IVF/PQ-bucketed ANN),
text analysis (language-ID, quality scoring, token counts,
fingerprinting), and multimodal column plumbing.

All deterministic (md5-based hashing, no seeded RNG in the data path)
so every op has an exact DuckDB oracle twin where SQL can express it.
"""

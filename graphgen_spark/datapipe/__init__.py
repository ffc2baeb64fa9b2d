"""Training-data pipeline operators beyond the reference's surface:
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding cosine), approximate similarity search, text analysis
(token counting, MTLD), sampling, curation, and multimodal column
plumbing — the operations a 100 TB pretraining-data pipeline needs
around KG construction."""

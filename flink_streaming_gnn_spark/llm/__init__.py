"""LLM-training-data pipeline operators (BASELINE.json north_star):
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute-force + LSH scale path), text analysis
(stats, TF-IDF, language-ID, quality scoring, token counting,
fingerprinting), and multimodal column handling.

Modules: ``dedup`` (exact/hash collapse, shingle-minhash LSH bands,
SimHash, Jaccard verify, embedding cosine, cluster canonicalization into
a survivor corpus), ``neardup`` (the near-dup kit every dedup key runs on:
exact-clone collapse, banded candidate join, group-output contract,
shingles, each with its DuckDB twin), ``vecsearch`` (the vector-search
kit every similarity-search key runs on: probe set, exact partial top-k
scorer, per-probe rank cut, each with its DuckDB twin), ``simsearch``
(brute-force / IVF / LSH / PQ + label centroids), ``textstats`` (stats, TF-IDF, lang-id, quality, tokens,
fingerprint, bigram-LM score, keywords), ``bm25`` (lexical relevance),
``curation`` (PII redaction, repetition stats), ``pipeline`` (stratified
sampling, decontamination, packing, mixing weights, fused funnel),
``chunking`` (deterministic sampling + overlapping chunks),
``corruption`` (T5-style span selection), ``embprep`` (L2 normalize, int8
quantize), ``multimodal`` (binary columns, decode stub, frame sampling,
audio chunking, image tiling).

Scale doctrine: every quadratic candidate-pair step is gated behind a
blocking/bucketing key (LSH band, length block, centroid bucket) so the
verify step runs on candidate pairs, never on the full cross product —
the only formulation that survives 100 TB.
"""

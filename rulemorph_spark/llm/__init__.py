"""Large-scale training-data pipeline operators.

Beyond the reference's surface (per ``BASELINE.json``'s north star):
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
exact-substring spans), semantic dedup (``semdedup``), nearest-neighbor
candidates over embeddings, text analysis, published quality-filter
presets (``filters``: Gopher / C4 / hash-split), per-source corpus
reporting (``report``), sampling and mixing, unigram-LM quality scoring
with CCNet perplexity bucketing (``lm``), BM25 full-text retrieval
(``retrieval``), trainer-ready sharded export with verifiable manifests
(``export``), k-means clustering, multimodal feature probes with
pure-stdlib header parsers, HTML extraction and domain gating
(``extract``), and a declarative pipeline runner — all DataFrame-native
and designed for 100 TB inputs.
"""

"""Engine operators.

cleaning         bronze→staging clean/cast (P1-P6)
incremental      high-watermark incremental materialization (P8/ST5)
dedup            MinHash-LSH / SimHash / n-gram-Jaccard dedup + clustering
semdedup         semantic (embedding-cell) dedup
similarity       embedding similarity search (brute-force + RP-LSH ANN)
embedder         text → embedding generation (hash encoder default, model-injectable)
clustering       topic discovery: k-means clusters + c-TF-IDF cluster keywords
evaluation       retrieval metrics: recall/precision@k, MRR, nDCG (TREC defs)
ivf              persisted IVF ANN index (fingerprinted, build-once/query-many)
lsh_index        persisted multi-table LSH index (bucket-pruned serve kernel)
pq               IVF-PQ: product-quantized ANN (M-byte codes, ADC scan, exact refine)
text             text analysis (tokenizers, quality, language-ID, fingerprints, chunking)
bm25             BM25 retrieval + persisted term-bucket index + RRF hybrid fusion
retrieval        serving root: BM25+IVF build + RRF hybrid search + injectable rerank
behavior         funnel conversion + cohort retention over event streams
scd              SCD Type 2 dimension merge
anomaly          rolling z-score anomaly flags
metacache        serve-path index-metadata memo (listing-keyed, self-invalidating)
profile          per-column table profiling (nulls, distinct, range, quantiles, top values)
subqueries       correlated scalar-agg subquery filter with exact ANSI empty-group semantics
asof             as-of join (trade × quote style)
revenue          fee/tax revenue fact (§3.4 flagship)
scale            hot-key detection + salted skew join
zorder           Morton keys for snapshot compaction (any orderable type, sampled quantile cuts)
snapshots        snapshot-versioned tables (atomic commits, time travel, rollback, vacuum, exactly-once streaming appends)
mview            incrementally maintained materialized aggregate views (change-feed fold, exactly-once cursor-in-manifest)
"""

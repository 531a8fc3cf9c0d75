"""Engine operators.

cleaning         bronze→staging clean/cast (P1-P6)
incremental      high-watermark incremental materialization (P8/ST5)
rollup           continuous aggregate (bucket-granular refresh, late-data repair)
dedup            exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup + clustering
incremental_dedup  per-batch dedup vs persisted append-only state
semdedup         semantic (embedding-cell) dedup, batch + incremental + streaming
substring        exact-substring span dedup (distributed ExactSubstr)
similarity       embedding similarity search (brute-force + RP-LSH ANN)
embedder         text → embedding generation (hash encoder default, model-injectable)
clustering       topic discovery: k-means clusters + c-TF-IDF cluster keywords
evaluation       retrieval metrics: recall/precision@k, MRR, nDCG (TREC defs)
ivf              persisted IVF ANN index (fingerprinted, build-once/query-many)
lsh_index        persisted multi-table LSH index (bucket-pruned serve kernel)
pq               IVF-PQ: product-quantized ANN (M-byte codes, ADC scan, exact refine)
text             text analysis (tokens, quality, language-ID, fingerprints, PII, chunking)
urls             URL canonicalization, registered-domain, URL dedup, crawl domain stats
psl              Public Suffix List snapshot + longest-match registrable-domain rules
lm_score         CCNet-style n-gram LM fluency scoring (broadcast-join cross-entropy)
quality_rules    Gopher/C4 structural rule bundles + per-domain gate
quality_classifier  trainable hashed-n-gram logistic quality filter (FineWeb-Edu recipe)
dsir             DSIR importance resampling (target-distribution matching, Gumbel top-k)
vocab            token/n-gram frequencies, top-k vocab, IDF
bpe              trainable byte-pair encoding (distributed counts, Arrow apply)
unigram          trainable unigram-LM tokenizer (SentencePiece recipe: EM + prune, Viterbi apply)
bm25             BM25 retrieval + persisted term-bucket index + RRF hybrid fusion
mining           hard-negative mining (BM25 candidates × embedding ceiling)
retrieval        serving root: BM25+IVF build + RRF hybrid search + injectable rerank
graph            PageRank centrality + hierarchy levels / transitive closure (frontier BFS, the WITH RECURSIVE workload with scale controls)
behavior         funnel conversion + cohort retention over event streams
scd              SCD Type 2 dimension merge + point-in-time lookup join
anomaly          rolling z-score / robust IQR / seasonal-residual flags
langid           trainable language ID (multinomial logistic, char n-grams)
tfidf            map-only TF-IDF / hashing-trick featurization
features         fit/transform feature engineering (scaling, binning, one-hot, target encoding)
sampling         deterministic sampling / token budgets / domain caps / mixing / shuffle / packing / split
sketches         HLL distinct + count-min frequency rollups (mergeable)
quantiles        MRL/KLL quantile sketch rollups (mergeable, streaming exactly-once)
heavyhitters     Misra-Gries top-k rollups (mergeable, streaming exactly-once)
state_swap       shared exactly-once merge-state machinery (atomic dir swap)
metacache        serve-path index-metadata memo (listing-keyed, self-invalidating)
profile          per-column table profiling (nulls, distinct, range, quantiles, top values)
gapfill          gap-fill / LOCF / linear interpolation
interval_join    bucketed interval/range join
subqueries       IN/NOT IN (single + row-value), EXISTS, ALL/ANY quantified, correlated scalar-agg subquery filters with exact ANSI 3VL null semantics
bloomjoin        Bloom-prefiltered joins (map-side shuffle reduction for selective joins)
asof             as-of join (trade × quote style)
revenue          fee/tax revenue fact (§3.4 flagship)
scale            compaction, bucketing, salted agg + salted skew join, Z-order path writes
zorder           Morton keys for snapshot compaction (any orderable type, sampled quantile cuts)
skipping         file-level min/max data-skipping index
snapshots        snapshot-versioned tables (atomic commits, time travel, rollback, vacuum, exactly-once streaming appends)
mview            incrementally maintained materialized aggregate views (change-feed fold, exactly-once cursor-in-manifest)
export           sharded manifest-gated training-data export (jsonl[.gz]/parquet/WebDataset tar)
multimodal       binary-column plumbing; real PPM/PNG/WAV codecs (BMP/ICO via bmp/ico), PIL autodetect, decode quarantine
bmp              BMP codec (palette/16/24/32-bit, BITFIELDS, RLE8/RLE4, top-down/bottom-up)
media_quality    LAION-style image curation gate (JVM rules over feature vectors, per-source thresholds)
ico              ICO/favicon codec (PNG + classic doubled-height DIB members, AND-mask/alpha compositing)
"""

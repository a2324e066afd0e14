"""Operator library: dedup (exact/span/Jaccard/MinHash/SimHash/embedding,
incremental index+probe, cluster collapse), similarity search (brute-force
through IVF-PQ) and embedding curation, text analysis and rule filters,
corpus curation, events (funnel/OHLC/retention, rolling averages), as-of and
interval joins, graph (connected components, PageRank), PII redaction,
search (BM25, phrase), data-quality expectations, upsert/SCD2/table-diff,
Unicode normalization, multimodal binary plumbing, sketches (count-min,
Bloom — both on the engine-agnostic md5 hash family, hence SQL-oracle-able),
and scale-out primitives (salting, bucketing, partitioned sinks,
compaction).

Import each operator from its submodule: the package re-exports nothing,
so importing one submodule loads only that module and its own imports."""

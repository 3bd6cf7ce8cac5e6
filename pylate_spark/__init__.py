"""pylate_spark — a PySpark-native full-text (BM25 inverted-index) retrieval engine.

A brand-new engine with the build-then-retrieve capabilities of
lightonai/pylate (reference at /root/reference), re-expressed Spark-first:

- SPIMI-style inverted-index construction over a web-pages table
  ``(url, warc_ts, html, text, lang)``: vectorized pandas-UDF
  tokenization, deterministic dense docid assignment, doc-range
  sharding (the salting mechanism for head-term skew), per-(shard,
  term) gap+varint posting runs (format 2) with block-max metadata, persisted
  as partitioned Parquet segments with a resumable per-shard commit
  manifest (mirrors the reference's resumable chunked build,
  ``pylate/indexes/stanford_nlp/indexing/collection_indexer.py:62-79``).
- BM25 (k1=1.2, b=0.75) top-k querying as a scatter-gather DataFrame
  job: broadcast query terms → partition-pruned segment scan →
  per-(query, shard) block-max pruning cascade (the WAND-family analog
  of the reference's PLAID cascade,
  ``pylate/indexes/stanford_nlp/search/index_storage.py:129-244``) →
  exact rescoring of survivors → global top-k merge. Rank-identical to
  a pure-numpy oracle.

Package layout:

- :mod:`pylate_spark.sources`   — synthetic corpus + table readers
- :mod:`pylate_spark.functions` — tokenizer, BM25 math, posting codec
- :mod:`pylate_spark.operators` — docids, stats, top-k, dedup,
  similarity, text analysis, multimodal plumbing
- :mod:`pylate_spark.plans`     — index build / query planning / WAND kernel
- :mod:`pylate_spark.streaming`  — incremental ingest
- :mod:`pylate_spark.storage`    — object-store-safe index-state access
  (pyarrow.fs: index dirs may be file://, hdfs://, s3:// URIs)
- :mod:`pylate_spark.evaluation` — build → search → metrics wiring
- :mod:`pylate_spark.oracle`     — pure-python reference implementation
"""

from pylate_spark.config import BM25Params, IndexConfig

__version__ = "0.1.0"

__all__ = ["BM25Params", "IndexConfig", "__version__"]

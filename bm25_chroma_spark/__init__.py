"""bm25_chroma_spark — a from-scratch PySpark-native inverted-index
builder + BM25 query engine with the capabilities of
thistleknot/bm25-chroma, re-expressed Spark-first.

Layers:
  functions/  tokenizer + text-analysis scalar functions (JVM exprs +
              Arrow-vectorized pandas UDFs)
  operators/  index build, BM25 scoring, top-k, RRF fusion, KNN,
              dedup, DML lifecycle
  index/      physical shard encoding (delta+varint+block-max),
              segment merge, checkpoint manifests, BM25 query path
  sources/    synthetic corpus generator, catalog IO
  plans/      HybridRetriever facade (Chroma-compatible query())
  streaming/  incremental ingest via Structured Streaming
"""

from bm25_chroma_spark.config import BM25Config, DEFAULT_CONFIG
from bm25_chroma_spark.session import get_spark

__all__ = ["BM25Config", "DEFAULT_CONFIG", "get_spark"]
__version__ = "0.1.0"

"""Benchmark for the bm25_chroma_spark engine: see README.md.

A package so that Spark's Python workers can unpickle the traced
embedder wrapper (``perfbench.trace``) by import path.
"""

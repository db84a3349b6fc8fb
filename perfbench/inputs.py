"""Benchmark inputs, generated from the run's seed only.

The corpus comes from ``sources.corpus`` (row i is a function of
(seed, i)); query texts are drawn from that corpus's own vocabulary so
every query has BM25 matches.
"""

from __future__ import annotations

import random
from collections import Counter
from typing import List, Tuple

BOILERPLATE = (
    "all rights reserved unsubscribe from this newsletter by clicking "
    "the link below"
)
BOILERPLATE_TOKENS = len(BOILERPLATE.split())


def corpus(n_docs: int, seed: int) -> List[Tuple[str, str]]:
    """(doc_uid, text) pairs."""
    from bm25_chroma_spark.sources.corpus import synth_corpus_rows

    return [(f"f{i}", row[4]) for i, row in enumerate(
        synth_corpus_rows(n_docs, seed)
    )]


def query_pool(texts: List[str], seed: int) -> List[str]:
    """Query texts, each holding one ANCHOR term no other pool entry
    uses (a document-frequency 1..8 identifier, so the first time an
    entry is issued its postings are not in any cache) plus zero to two
    companion terms of moderate frequency."""
    from bm25_chroma_spark.functions.tokenizer import tokenize_py

    df: Counter = Counter()
    for t in texts:
        df.update(set(tokenize_py(t)))
    anchors = sorted(t for t, c in df.items() if 1 <= c <= 8)
    companions = sorted(t for t, c in df.items() if 20 <= c <= 400)
    rng = random.Random(seed * 1_000_003 + 17)
    rng.shuffle(anchors)
    pool = []
    for a in anchors:
        words = [a] + rng.sample(companions, rng.randint(0, 2))
        rng.shuffle(words)
        pool.append(" ".join(words))
    return pool


def query_stream(pool: List[str], n: int, seed: int,
                 fresh_every: int) -> List[str]:
    """Closed-loop query sequence over ``pool``: every ``fresh_every``-th
    query issues the next unused pool entry; the others repeat an
    already-issued entry drawn Zipfian (s = 1.1) over issue order (early
    entries are hot). The repeat share is 1 - 1/fresh_every on every
    seed."""
    rng = random.Random(seed * 7919 + 5)
    issued: List[str] = []
    weights: List[float] = []
    out = []
    for i in range(n):
        if i % fresh_every == 0 or not issued:
            issued.append(pool[len(issued)])
            weights.append(1.0 / len(issued) ** 1.1)
            out.append(issued[-1])
        else:
            out.append(rng.choices(issued, weights=weights)[0])
    return out

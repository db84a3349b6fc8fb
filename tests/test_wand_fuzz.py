"""Randomized kernel equivalence: the BM25 top-k kernel
(index/wand.py _score_topk) == a pure-Python exhaustive oracle on
arbitrary posting lists split over several segments (no Spark;
exercises the whole-slice decode, the per-doc accumulation, the top-k
cut, tie handling and round-before-rank)."""

from __future__ import annotations

import collections
import math
from types import SimpleNamespace

import numpy as np

from bm25_chroma_spark.index.encode import encode_postings
from bm25_chroma_spark.index.wand import (
    _round_margin,
    _score_topk,
    round_half_up,
)

K1, B = 1.5, 0.75


def _make_rows(term, doc_ids, tfs, dls, bs, n_seg):
    """One shard row per non-empty segment (doc_id mod n_seg): the
    segments partition the doc space, as the sharded build's do."""
    doc_ids, tfs, dls = map(np.asarray, (doc_ids, tfs, dls))
    rows = []
    for seg in range(n_seg):
        m = doc_ids % n_seg == seg
        if not m.any():
            continue
        enc = encode_postings(doc_ids[m], tfs[m], dls[m], block_size=bs)
        rows.append(SimpleNamespace(
            term=term, segment=seg, doc_bytes=enc.doc_bytes,
            tf_bytes=enc.tf_bytes, dl_bytes=enc.dl_bytes, blocks=enc.blocks,
        ))
    return rows


def _exhaustive(lists, avgdl):
    """doc -> score, summing each doc's terms in list order."""
    acc = collections.defaultdict(float)
    for docs, tfs, dls, w in lists:
        for d, tf, dl in zip(docs, tfs, dls):
            denom = tf + K1 * (1 - B + B * dl / avgdl)
            acc[d] += w * (tf * (K1 + 1)) / denom / math.sqrt(dl)
    return acc


def _ranked(q, d, s, k, score_round=None):
    """The kernel's candidates, rounded then ranked and cut like the
    engines do."""
    if score_round is not None:
        s = [round_half_up(x, score_round) for x in s]
    return sorted(zip(d, s), key=lambda x: (-x[1], x[0]))[:k]


def _random_lists(rng, nlists, max_n, gap, tf_hi, dl_lo, dl_hi, weights):
    lists = []
    for _ in range(nlists):
        n = rng.randint(1, max_n)
        docs = np.cumsum(rng.randint(1, gap, n)).astype(np.int64)
        tfs = rng.randint(1, tf_hi, n).astype(np.int64)
        dls = rng.randint(dl_lo, dl_hi, n).astype(np.int64)
        lists.append((docs, tfs, dls, weights(rng)))
    return lists


def _rows_and_query(rng, lists):
    terms = [f"t{i}" for i in range(len(lists))]  # ascending
    n_seg = int(rng.randint(1, 5))
    rows = []
    for term, (docs, tfs, dls, _) in zip(terms, lists):
        rows += _make_rows(term, docs, tfs, dls, bs=int(rng.randint(1, 9)),
                           n_seg=n_seg)
    rng.shuffle(rows)  # the kernel must not depend on row order
    return rows, [(7, [(t, w) for t, (*_, w) in zip(terms, lists)])]


def test_bmw_equals_exhaustive_randomized():
    rng = np.random.RandomState(12345)
    avgdl = 50.0
    for trial in range(400):
        lists = _random_lists(
            rng, rng.randint(1, 7), 80, 20, 9, 10, 100,
            lambda r: float(r.uniform(0.1, 3.0)),
        )
        rows, queries = _rows_and_query(rng, lists)
        # top_k past the match count keeps every matched doc
        k = int(rng.randint(1, 15)) if trial % 4 else 10_000
        q, d, s = _score_topk(rows, queries, K1, B, avgdl, k)
        assert set(q.tolist()) <= {7}
        got = _ranked(q, d.tolist(), s.tolist(), k)
        acc = _exhaustive(lists, avgdl)
        want = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]
        assert len(got) == len(want) == min(k, len(acc)), trial
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gd == wd, (trial, got, want)
            assert math.isclose(gs, ws, rel_tol=1e-9), (trial, gd, gs, ws)


def test_kernel_segment_split_is_bit_identical():
    """Scoring every segment's rows in one call equals scoring each
    segment alone and merging, score for score: the driver path and
    the per-segment distributed plan return the same floats."""
    rng = np.random.RandomState(99)
    avgdl = 40.0
    for trial in range(100):
        lists = _random_lists(
            rng, rng.randint(1, 5), 60, 12, 6, 5, 80,
            lambda r: float(r.uniform(0.1, 3.0)),
        )
        rows, queries = _rows_and_query(rng, lists)
        k = int(rng.randint(1, 12))
        q, d, s = _score_topk(rows, queries, K1, B, avgdl, k)
        merged = []
        for seg in {r.segment for r in rows}:
            seg_rows = [r for r in rows if r.segment == seg]
            _, sd, ss = _score_topk(seg_rows, queries, K1, B, avgdl, k)
            merged += zip(sd.tolist(), ss.tolist())
        merged.sort(key=lambda x: (-x[1], x[0]))
        assert _ranked(q, d.tolist(), s.tolist(), k) == merged[:k], trial


def test_round_half_up_matches_spark_f_round(spark):
    """round_half_up (the driver path's rounding) must agree with
    Spark's F.round on doubles BIT-FOR-BIT — Python's builtin round()
    does NOT (half-even on binary: round(2.675, 2)=2.67 while F.round
    gives 2.68), which would silently break driver == distributed
    under score_round at decimal midpoints."""
    import numpy as _np
    from pyspark.sql import functions as F

    rng = _np.random.RandomState(4242)
    vals = [
        2.675, 0.125, -2.675, -0.125, 0.5, -0.5, 1.0049999,
        123456.789125, 1e-7, 0.0, -0.0, 7.2, 3.0000005,
    ] + [float(x) for x in rng.uniform(-100, 100, 200)] + [
        float(x) for x in rng.uniform(-1e-3, 1e-3, 50)
    ]
    for r in (2, 6):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        want = [
            row["y"] for row in
            df.select(F.round("x", r).alias("y")).collect()
        ]
        got = [round_half_up(v, r) for v in vals]
        for v, g, w in zip(vals, got, want):
            assert g == w, (v, r, g, w)


def test_bmw_round_before_rank_ties():
    """score_round: the kernel's rounding margin must keep every doc
    whose ROUNDED score reaches the top-k — coarse rounding creates
    many exact rounded-score ties whose doc_id-asc order must match an
    exhaustive round-then-rank oracle, including docs whose raw score
    is below the raw kth but whose rounded score ties it."""
    rng = np.random.RandomState(777)
    avgdl = 50.0
    for trial in range(200):
        lists = _random_lists(
            rng, rng.randint(1, 5), 60, 9, 4, 10, 30,
            lambda r: float(r.choice([0.5, 1.0, 1.5])),
        )
        rows, queries = _rows_and_query(rng, lists)
        k = int(rng.randint(1, 10))
        q, d, s = _score_topk(
            rows, queries, K1, B, avgdl, k, _round_margin(2)
        )
        got = _ranked(q, d.tolist(), s.tolist(), k, score_round=2)
        want = sorted(
            ((d_, round_half_up(s_, 2))
             for d_, s_ in _exhaustive(lists, avgdl).items()),
            key=lambda x: (-x[1], x[0]),
        )[:k]
        assert [x for x, _ in got] == [x for x, _ in want], (
            trial, got, want,
        )
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9), (trial, got, want)


def test_bmw_tie_scores():
    """Identical postings -> exact score ties; ranking must prefer the
    smaller doc_id and never drop a tied doc. top_k == 0, unknown
    terms and rows without postings (DML's df=0 tombstones) return no
    rows; each query keeps its id."""
    docs = np.array([10, 20, 30, 40], dtype=np.int64)
    tfs = np.array([2, 2, 2, 2], dtype=np.int64)
    dls = np.array([50, 50, 50, 50], dtype=np.int64)
    rows = _make_rows("a", docs, tfs, dls, bs=2, n_seg=2)
    q, d, _ = _score_topk(rows, [(3, [("a", 1.0)])], K1, B, 50.0, 2)
    assert d.tolist() == [10, 20] and q.tolist() == [3, 3]
    q, d, s = _score_topk(
        rows, [(3, [("a", 1.0)]), (5, [("a", 2.0)])], K1, B, 50.0, 3
    )
    assert q.tolist() == [3, 3, 3, 5, 5, 5]
    assert d.tolist() == [10, 20, 30] * 2
    assert s[3:].tolist() == (2.0 * s[:3]).tolist()
    tomb = SimpleNamespace(term="b", segment=0, doc_bytes=b"",
                           tf_bytes=b"", dl_bytes=b"", blocks=[])
    for k, queries in ((0, [(3, [("a", 1.0)])]), (5, [(3, [("b", 1.0)])]),
                       (5, [(3, [("c", 1.0)])])):
        q, d, s = _score_topk(rows + [tomb], queries, K1, B, 50.0, k)
        assert len(q) == len(d) == len(s) == 0

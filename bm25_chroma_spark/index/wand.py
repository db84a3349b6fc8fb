"""Query execution over the physical sharded index.

Two strategies, property-tested to produce identical top-k:

* ``exhaustive`` — decode every matching shard (mapInPandas), score
  with the same JVM column expressions as the logical path, rank.
  Simple, fully distributed, the correctness baseline.

* ``wand`` — Block-Max WAND (Ding & Suel, SIGIR'11) document-at-a-time
  pruning inside a grouped pandas UDF, parallelized per (segment,
  query-group): segments partition the doc space, so per-segment
  top-k provably covers the global top-k; queries ride the closure as
  a driver-side spec so posting bytes are shuffled once per segment
  (bounded query-group fan-out restores parallelism), never once per
  query. Cursors skip whole blocks whose upper bound cannot beat the
  running threshold.

Strategy guidance (recalibrated r9): ``exhaustive`` (default) is
vectorized end-to-end — since r9 its distributed form ships posting
BYTES once per (segment, query-group) and scores whole posting lists
in numpy, so the 1M-doc 32-query anchored batch that took 57-70s
through the old decode-join-agg plan runs in ~1.9s, and it now beats
the Python Block-Max DAAT in every regime measurable in this sandbox
(same batch: wand 18.1s). ``wand`` retains its block-skipping value
only when skipping removes all but ~1/200th of the hot postings
(_DAAT_COST_RATIO — the measured per-element cost gap between the
DAAT loop and the numpy scorer); ``auto`` — the PER-QUERY rule from
driver-side df stats (_wand_vote_qids; a mixed batch runs each half
on its own engine) — votes exhaustive everywhere in-sandbox and
keeps the wand branch for the extrapolated extreme regime (anchors
of a few hundred df in front of >=100M-posting hot lists). Both
strategies are exact (property-tested identical).

Pruning uses a conservative epsilon (skip only when the bound is
below threshold - 1e-12) so float drift can never drop a true top-k
member; final ranking is exact on the surviving candidates.

Posting-cap semantics: the BUILD cap (reference bm25.py:190-191) is
honored physically by the sharded build — per-term global top-cap in
(tf desc, doc_id asc) order via threshold filtering at encode time
(shards.py _cap_thresholds), re-applied on every DML merge — so
capped indexes score rank-identically to the reference when the cap
boundary is tie-free. (At a tf tie exactly on the cap boundary the
reference keeps earlier-INSERTED postings — heapq.merge stability
over Counter.most_common insertion order, bm25.py:190-213 — an
ingestion-order-dependent, underdetermined choice; we keep smallest
doc_id, the only order a distributed build can reproduce. See
test_caps_golden, which pins distinct tfs for this reason.) The QUERY
cap (bm25.py:283 — score only the first N postings of the tf-ordered
list) is a traversal-order semantic the doc-ordered segments cannot
reproduce; that one is ENFORCED, not assumed: ``search_sharded``
raises when a configured query cap would actually bind for a queried
term, so it can never silently diverge — disable it (the at-scale
lossless mode) or use the logical path when query-cap semantics
matter.
"""

from __future__ import annotations

import heapq
import math
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bm25_chroma_spark.index.encode import varint_decode
from bm25_chroma_spark.index.shards import ShardedIndex

_EPS = 1e-12


def round_half_up(x: float, r: int) -> float:
    """Python twin of Spark's F.round on doubles: HALF_UP on the
    SHORTEST-DECIMAL representation (Spark rounds
    BigDecimal.valueOf(double) — Double.toString's shortest
    round-trip repr — with HALF_UP; Python's repr() produces the same
    shortest repr, and decimal.Decimal quantizes it exactly).
    Python's builtin round() is half-even on the binary value and
    DISAGREES at decimal midpoints (round(2.675, 2) == 2.67 but
    F.round gives 2.68), which would break the WAND == exhaustive
    invariant under score_round."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-r), rounding=ROUND_HALF_UP
        )
    ) + 0.0  # canonicalize IEEE -0.0


class _TermData:
    """Per-(term, segment) posting-list metadata and decoded-block
    cache, parsed ONCE from the Arrow row and shared by every query's
    cursor in a (segment, query-group) task (r9): the pre-r9 _Cursor
    re-converted every block's metadata Row to a dict and re-decoded
    every visited block PER QUERY — for a 32-query batch over a hot
    term that was 32x the parse work and up to 32x the varint
    decodes. Block upper bounds are stored weight-free
    (``base_ubs``); a cursor's bounds are ``idf_w * base_ubs``, a
    1-ulp association change that only feeds the conservative
    epsilon-margined pruning tests, never a final score."""

    __slots__ = (
        "doc_b", "tf_b", "dl_b", "first", "n", "max_tf", "min_dl",
        "d_off", "t_off", "l_off", "nblocks", "base_ubs", "_blocks",
    )

    def __init__(self, row, k1: float, b: float, avgdl: float):
        self.doc_b = bytes(row.doc_bytes)
        self.tf_b = bytes(row.tf_bytes)
        self.dl_b = bytes(row.dl_bytes)
        blocks = [dict(x) for x in row.blocks]
        self.first = np.array([x["first_doc"] for x in blocks], dtype=np.int64)
        self.n = np.array([x["n"] for x in blocks], dtype=np.int64)
        self.max_tf = np.array([x["max_tf"] for x in blocks], dtype=np.float64)
        self.min_dl = np.array([x["min_dl"] for x in blocks], dtype=np.float64)
        self.d_off = np.array(
            [x["doc_off"] for x in blocks] + [len(self.doc_b)], dtype=np.int64
        )
        self.t_off = np.array(
            [x["tf_off"] for x in blocks] + [len(self.tf_b)], dtype=np.int64
        )
        self.l_off = np.array(
            [x["dl_off"] for x in blocks] + [len(self.dl_b)], dtype=np.int64
        )
        self.nblocks = len(blocks)
        denom = self.max_tf + k1 * (1.0 - b + b * self.min_dl / avgdl)
        self.base_ubs = (
            (self.max_tf * (k1 + 1.0)) / denom / np.sqrt(self.min_dl)
        )
        self._blocks: dict = {}

    def block(self, bi: int):
        blk = self._blocks.get(bi)
        if blk is None:
            from bm25_chroma_spark.index.encode import _docs_from_deltas

            deltas = varint_decode(
                self.doc_b[self.d_off[bi]:self.d_off[bi + 1]]
            )
            blk = (
                _docs_from_deltas(int(self.first[bi]), deltas),
                varint_decode(
                    self.tf_b[self.t_off[bi]:self.t_off[bi + 1]]
                ).astype(np.float64),
                varint_decode(
                    self.dl_b[self.l_off[bi]:self.l_off[bi + 1]]
                ).astype(np.float64),
            )
            self._blocks[bi] = blk
        return blk


class _Cursor:
    """One query's view over a (term, segment) posting list with
    block-skip support. Accepts either a shard Arrow row (parsed into
    a fresh _TermData — the test/compat path) or a shared _TermData."""

    __slots__ = (
        "td", "weight", "k1", "b", "avgdl",
        "bi", "pos", "docs", "tfs", "dls", "cur", "global_ub", "ubs",
        "nblocks", "first",
    )

    def __init__(self, row, idf_w: float, k1: float, b: float, avgdl: float):
        td = row if isinstance(row, _TermData) else _TermData(
            row, k1, b, avgdl
        )
        self.td = td
        self.first = td.first
        self.nblocks = td.nblocks
        self.weight = idf_w  # idf * qtf
        self.k1, self.b, self.avgdl = k1, b, avgdl
        self.ubs = idf_w * td.base_ubs
        self.global_ub = float(self.ubs.max()) if self.nblocks else 0.0
        self.bi = -1
        self._load_block(0)

    def _load_block(self, bi: int):
        if bi >= self.nblocks:
            self.cur = math.inf
            return
        self.bi = bi
        self.docs, self.tfs, self.dls = self.td.block(bi)
        self.pos = 0
        self.cur = int(self.docs[0])

    def block_ub(self) -> float:
        return float(self.ubs[self.bi]) if self.cur != math.inf else 0.0

    def block_boundary(self) -> int:
        """Largest doc id that could live in the current block (doc
        ids span the full signed-64 range, e.g. xxhash64 ids)."""
        if self.cur == math.inf:
            return (1 << 63) - 1
        if self.bi + 1 < self.nblocks:
            return int(self.first[self.bi + 1]) - 1
        return (1 << 63) - 1

    def next_geq(self, target: int):
        if self.cur == math.inf or self.cur >= target:
            return
        if target > (1 << 63) - 1:  # beyond any representable doc id
            self.cur = math.inf
            return
        # block containing target: last block with first_doc <= target
        bi = int(np.searchsorted(self.first, target, side="right")) - 1
        bi = max(bi, self.bi)
        if bi != self.bi:
            self._load_block(bi)
            if self.cur == math.inf:
                return
        pos = int(np.searchsorted(self.docs, target, side="left"))
        while pos >= len(self.docs):
            if self.bi + 1 >= self.nblocks:
                self.cur = math.inf
                return
            self._load_block(self.bi + 1)
            pos = int(np.searchsorted(self.docs, target, side="left"))
        self.pos = pos
        self.cur = int(self.docs[pos])

    def advance(self):
        self.next_geq(self.cur + 1)

    def score_current(self) -> float:
        tf = self.tfs[self.pos]
        dl = self.dls[self.pos]
        denom = tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl)
        return (
            self.weight * (tf * (self.k1 + 1.0)) / denom / math.sqrt(dl)
        )


def _bmw_topk(
    cursors: List[_Cursor],
    top_k: int,
    score_round: Optional[int] = None,
) -> List[tuple]:
    """Block-Max WAND over independent posting-list cursors.

    Returns [(doc_id, score)] — exact top-k by (score desc, doc_id asc)
    thanks to conservative epsilon pruning.

    ``score_round`` applies the cross-engine round-BEFORE-rank
    contract inside the heap itself: candidate scores are rounded
    before comparison (so ties break by doc_id on the rounded value,
    matching the exhaustive path's round-then-rank), and the pruning
    threshold gets a half-ulp slack — a rounded score can exceed the
    raw block bound by up to 0.5*10^-r, so bounds are compared
    against theta - slack to keep pruning conservative under
    rounding.
    """
    heap: List[tuple] = []  # (score, -doc_id) min-heap of current top-k
    slack = 0.5 * 10.0 ** (-score_round) if score_round is not None else 0.0

    # --- seed a pruning floor (r9) ---------------------------------
    # Until the heap holds top_k entries theta is -inf and the loop
    # degenerates to doc-at-a-time scoring from doc 0 — on a hot-list
    # query whose high scorers are sparse (the anchored bench regime)
    # that scanned ~a third of every segment before pruning engaged
    # (measured: ~400 ms per (query, segment), the entire wand_1m
    # cost). Fully score the first top_k docs of the highest-bound
    # cursor on CLONED cursors and use the kth best (minus the same
    # rounding slack theta applies) as a floor: any doc pruned by the
    # floor scores strictly below >= top_k docs that the main loop
    # itself will score exactly, so the result set is unchanged — the
    # same conservative-margin argument as heap theta. Seeding costs
    # top_k full score computations; it never ADDS heap entries, so
    # no doc is double-counted.
    seed_floor = -math.inf
    live0 = [c for c in cursors if c.cur != math.inf]
    if len(live0) >= 1 and top_k > 0:
        lead = max(live0, key=lambda c: c.global_ub)
        clones = [
            _Cursor(c.td, c.weight, c.k1, c.b, c.avgdl)
            for c in cursors
            if c is not lead and c.cur != math.inf
        ]
        lead_clone = _Cursor(
            lead.td, lead.weight, lead.k1, lead.b, lead.avgdl
        )
        seed_scores: List[float] = []
        for _ in range(top_k):
            if lead_clone.cur == math.inf:
                break
            d0 = lead_clone.cur
            s0 = lead_clone.score_current()
            for c in clones:
                c.next_geq(d0)
                if c.cur == d0:
                    s0 += c.score_current()
            if score_round is not None:
                s0 = round_half_up(s0, score_round)
            seed_scores.append(s0)
            lead_clone.advance()
        if len(seed_scores) >= top_k:
            seed_floor = min(seed_scores) - slack

    def theta() -> float:
        t = (heap[0][0] - slack) if len(heap) >= top_k else -math.inf
        return t if t >= seed_floor else seed_floor

    live = live0
    while live:
        live.sort(key=lambda c: c.cur)
        # pivot: smallest p with cumulative global ub above threshold
        acc = 0.0
        p = -1
        t = theta()
        for i, c in enumerate(live):
            acc += c.global_ub
            if acc >= t - _EPS:  # conservative: never skip a tie
                p = i
                break
        if p == -1:
            break  # no document can beat theta
        pivot_doc = live[p].cur
        if pivot_doc == math.inf:
            break
        if live[0].cur == pivot_doc:
            for c in live[: p + 1]:
                c.next_geq(pivot_doc)
            blk_ub = sum(
                c.block_ub() for c in live[: p + 1] if c.cur != math.inf
            )
            # include lists beyond p already sitting on pivot_doc
            for c in live[p + 1:]:
                if c.cur == pivot_doc:
                    blk_ub += c.block_ub()
            if blk_ub >= theta() - _EPS:
                score = 0.0
                matched = [c for c in live if c.cur == pivot_doc]
                for c in matched:
                    score += c.score_current()
                if score_round is not None:
                    score = round_half_up(score, score_round)
                item = (score, -pivot_doc)
                if len(heap) < top_k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
                for c in matched:
                    c.advance()
            else:
                # shallow advance past the cheapest block boundary —
                # capped at the next list's current doc: beyond it,
                # lists > p contribute and the block bound no longer
                # covers the total score (Ding & Suel's d' rule)
                d2 = min(c.block_boundary() for c in live[: p + 1]) + 1
                if p + 1 < len(live):
                    d2 = min(d2, int(live[p + 1].cur))
                d2 = max(d2, pivot_doc + 1)
                for c in live[: p + 1]:
                    if c.cur < d2:
                        c.next_geq(d2)
        else:
            # advance the highest-impact list strictly below the pivot
            # (one at the pivot already would make next_geq a no-op
            # and stall the loop)
            behind = [c for c in live[:p] if c.cur < pivot_doc]
            cand = max(behind, key=lambda c: c.global_ub)
            cand.next_geq(pivot_doc)
        live = [c for c in live if c.cur != math.inf]

    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


def _score_group_vectorized(
    rows: dict,
    my_queries,
    k1: float,
    b: float,
    avgdl: float,
    top_k: int,
    margin: float,
):
    """Whole-posting-list numpy scoring for one (segment, query-group)
    task — the shared scorer of the vectorized exhaustive engine and
    the WAND engine's degenerate-query fallback (r9). Decodes each
    needed (term, segment) once, accumulates per-doc scores over a
    shared sorted doc universe, and emits each segment's top-k with a
    conservative rounding ``margin`` (an omitted doc scores strictly
    below >= top_k emitted docs even after rounding). Contribution
    factors multiply in _Cursor.score_current's exact association
    order — (w * num) / denom / sqrt(dl) — so single-term
    contributions are bit-identical to the DAAT engines. Returns a
    list of pandas DataFrames (query_id, doc_id, score)."""
    from bm25_chroma_spark.index.encode import decode_all

    need = sorted(
        {
            t
            for _, tw in my_queries
            for t, _ in tw
            if t in rows and len(rows[t].blocks) > 0
        }
    )
    out_frames: list = []
    if not need:
        return out_frames
    dec = {}
    for t in need:
        r = rows[t]
        d, tf, dl = decode_all(
            bytes(r.doc_bytes),
            bytes(r.tf_bytes),
            bytes(r.dl_bytes),
            [dict(x) for x in r.blocks],
        )
        tf = tf.astype(np.float64)
        dl = dl.astype(np.float64)
        dec[t] = (
            d,
            tf * (k1 + 1.0),
            tf + k1 * (1.0 - b + b * dl / avgdl),
            np.sqrt(dl),
        )
    universe = np.unique(np.concatenate([dec[t][0] for t in need]))
    pos = {t: np.searchsorted(universe, dec[t][0]) for t in need}
    scores = np.zeros(len(universe))
    matched = np.zeros(len(universe), dtype=bool)
    for qid, terms_w in my_queries:
        pres = [(t, w) for t, w in terms_w if t in dec]
        if not pres:
            continue
        scores[:] = 0.0
        matched[:] = False
        for t, w in pres:
            ix = pos[t]
            _, num, dnm, sq = dec[t]
            scores[ix] += w * num / dnm / sq
            matched[ix] = True
        mdocs = universe[matched]
        ms = scores[matched]
        if len(ms) > top_k:
            kth = np.partition(ms, len(ms) - top_k)[len(ms) - top_k]
            keep = ms >= kth - margin
            mdocs = mdocs[keep]
            ms = ms[keep]
            if margin == 0.0 and len(ms) > top_k:
                order = np.lexsort((mdocs, -ms))[:top_k]
                mdocs = mdocs[order]
                ms = ms[order]
        out_frames.append(
            pd.DataFrame(
                {
                    "query_id": np.full(len(mdocs), qid, dtype=np.int64),
                    "doc_id": mdocs,
                    "score": ms,
                }
            )
        )
    return out_frames


def _daat_functional_qids(
    by_qid: dict,
    df_by_term: dict,
    n: float,
    top_k: int,
    n_segments: int,
) -> set:
    """Queries for which Block-Max pruning can FUNCTION at all: a
    strong anchor that fills every segment's top-k by itself and
    bounds that discriminate (the structural (a)/(b) conditions of
    _wand_vote_qids, without its cost-ratio term). The explicit
    ``strategy='wand'`` engine runs the Python DAAT for these and
    falls back to the shared vectorized scorer for the rest — on a
    bounds-degenerate query (e.g. all-hot flat queries) the DAAT
    provably cannot skip anything and was measured at ~2 us/doc vs
    ~20 ns/doc vectorized (bench wand_mixed: the flat half cost 14 s
    through the DAAT, ~1 s vectorized). Results are identical either
    way (engine-equality fuzzers)."""

    def idf(df_t: float) -> float:
        return math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)

    out: set = set()
    for qid, terms_w in by_qid.items():
        dfs = [df_by_term.get(t, 0) for t, _ in terms_w]
        pairs = [(idf(d), d) for d in dfs if d > 0]
        if not pairs:
            continue
        best_idf, best_df = max(pairs)
        worst_idf = min(i for i, _ in pairs)
        if (
            best_idf >= 1.0
            and best_df >= 3 * top_k * max(n_segments, 1)
            and worst_idf <= best_idf / 10.0
        ):
            out.add(qid)
    return out


# Measured per-element cost ratio between the Python Block-Max DAAT
# and the r9 vectorized numpy exhaustive engine. r9 measurement at the
# 1M-doc anchored regime (32 queries, anchor df 500, 3 hot terms
# df=1M, S=16): WAND decodes ~6M block-granular postings + DAAT logic
# in 18.1 s where the vectorized exhaustive streams 128M query-posting
# pairs in 1.9 s — ~3 us per WAND-touched posting vs ~15 ns per
# exhaustive pair. Block skipping therefore only wins when it skips
# all but ~1/200th of the hot postings; the vote scales its skip
# condition by this ratio (pre-r9 the exhaustive engine shuffled every
# scored row through a 2-Exchange agg and the ratio was ~1).
_DAAT_COST_RATIO = 200


def _wand_vote_qids(
    qt_data: List[tuple],
    df_by_term: dict,
    n: float,
    top_k: int,
    block_size: int,
    n_segments: int = 1,
) -> set:
    """PER-QUERY wand-vs-exhaustive votes from driver-side stats only
    (per-term df; no data touched). Returns the set of query_ids for
    which WAND is predicted to win; search_sharded(strategy='auto')
    routes each query down its own path — a mixed batch (half
    anchored, half flat) no longer drags its minority half through
    the wrong engine. Measured (bench 'wand_mixed', 1M docs, 8+8
    queries, steady-state): auto beats both single strategies in
    every measured run; the committed r4 artifact has 13.0s vs 13.6
    all-exhaustive / 26.0 all-wand, with the exhaustive margin
    swinging ~5-40% across runs on this burstable host (the all-wand
    loss is large and stable).

    WAND beats the vectorized exhaustive scan only when block
    skipping mathematically ENGAGES: a high-idf ANCHOR term must
    (a) dominate the score (bounds discriminate), (b) have enough
    postings to fill the top-k INSIDE EVERY SEGMENT by itself — WAND
    runs per segment, and a segment whose heap never reaches k keeps
    theta at -inf and degenerates to a full Python DAAT over the hot
    lists — and (c) be sparser than one posting per hot-term block —
    ``df_anchor * block_size < df_hot`` — otherwise every hot block
    contains an anchor doc and WAND decodes everything exhaustive
    does, plus DAAT overhead.

    Calibrated against measurement (BENCH 'wand_1m' case, 5-token
    docs, 3 hot terms df=N + anchor, 32-query batch, k=10, S=16
    segments, block 128; steady-state warmed passes):

    * r9 RECALIBRATION: the vectorized exhaustive engine (numpy
      whole-list scoring per (segment, query-group)) runs the same
      1M-doc anchored batch in 1.9s where the Python DAAT takes
      18.1s — condition (c) is therefore scaled by _DAAT_COST_RATIO:
      block skipping must remove all but ~1/200th of the hot
      postings before the DAAT's per-element cost pays for itself.
      At every regime measurable in this sandbox the vote now lands
      on exhaustive; the wand branch remains for the extrapolated
      regime (hot df >= ~200 x block x anchor df, e.g. 100M-posting
      hot lists behind a few-hundred-df anchor).
    * 200k docs, anchor df 100 (< k x S = 160): per-segment fill
      FAILS (~6 anchor postings/segment), wand degenerates (r4: 34s
      vs 5.3s) — the (b') regime the per-segment fill term excludes.
    * The 100k 'wand_regime' case (anchor df ~1.5k, hot df ~96k):
      condition (c) fails (1.5k x 128 x 200 >> 96k), exhaustive wins
      and the rule routes there.

    Exhaustive stays the default for small total work, where fixed
    job overhead dominates either way."""

    def idf(df_t: float) -> float:
        return math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)

    wand_qids: set = set()
    queries = {}
    for qid, term, _ in qt_data:
        queries.setdefault(qid, []).append(term)
    for qid, terms in queries.items():
        dfs = [df_by_term.get(t, 0) for t in terms]
        total = sum(dfs)
        if total < 50_000:
            continue  # overhead-dominated: vectorized exhaustive wins
        pairs = [(idf(d), d) for d in dfs if d > 0]
        if not pairs:
            continue
        best_idf, best_df = max(pairs)
        worst_idf = min(i for i, _ in pairs)
        hot_df = max(d for _, d in pairs)
        anchor_strong = best_idf >= 1.0  # hot-only queries stay flat
        anchor_fills_topk = best_df >= 3 * top_k * max(n_segments, 1)
        bounds_discriminate = worst_idf <= best_idf / 10.0
        skipping_engages = (
            best_df * block_size * _DAAT_COST_RATIO < hot_df
        )
        if (
            anchor_strong
            and anchor_fills_topk
            and bounds_discriminate
            and skipping_engages
        ):
            wand_qids.add(qid)
    return wand_qids


def _auto_strategy(
    qt_data: List[tuple],
    df_by_term: dict,
    n: float,
    top_k: int,
    block_size: int,
    n_segments: int = 1,
) -> str:
    """Batch-level majority vote over _wand_vote_qids (kept as the
    calibration/test surface — test_auto_strategy_rule pins the rule's
    regimes through it; search_sharded itself routes PER QUERY)."""
    queries = {qid for qid, _, _ in qt_data}
    votes = _wand_vote_qids(
        qt_data, df_by_term, n, top_k, block_size, n_segments
    )
    return (
        "wand"
        if len(votes) * 2 >= len(queries) and votes
        else "exhaustive"
    )


# A query whose terms sum to at most this many postings is eligible
# for the driver-local path: the full Block-Max WAND DAAT over 200k
# decoded postings runs well under the ~1.2-2.0 s Spark job floor it
# replaces, and the bound keeps genuinely hot terms (1M-doc
# hota/hotb/hotc in bench wand_1m) on the distributed engines. Below
# it the posting rows come from the postings LRU or, on a miss, from
# the driver-side parquet reader (index/reader.py) — zero Spark jobs
# either way while the rows fit postings_cache_bytes.
CACHE_MAX_QUERY_POSTINGS = 200_000


def _empty_results_df(spark) -> DataFrame:
    """Empty (query_id, doc_id, score, rank) result that plans as
    LocalTableScan <empty> so collect() launches zero Spark jobs —
    createDataFrame([]) and an empty pandas frame both plan as Scan
    ExistingRDD, which pays one (pointless) job per collect on the
    interactive no-match path."""
    pdf = pd.DataFrame(
        {
            "query_id": pd.Series([0], dtype="int64"),
            "doc_id": pd.Series([0], dtype="int64"),
            "score": pd.Series([0.0], dtype="float64"),
            "rank": pd.Series([0], dtype="int32"),
        }
    )
    return spark.createDataFrame(
        pdf, schema="query_id long, doc_id long, score double, rank int"
    ).limit(0)


def _rows_df(spark, rows: List[tuple]) -> DataFrame:
    """(query_id, doc_id, score, rank) tuples as an Arrow-backed local
    relation: a plain-list createDataFrame pays a ~0.28s pickling
    collect path PER CALL (measured r6), the pandas/Arrow one ~15ms.
    EMPTY results go through _empty_results_df: an empty pandas frame
    plans as Scan ExistingRDD, whose collect() launches a job."""
    if not rows:
        return _empty_results_df(spark)
    qids, dids, scores, ranks = zip(*rows)
    pdf = pd.DataFrame(
        {
            "query_id": pd.Series(qids, dtype="int64"),
            "doc_id": pd.Series(dids, dtype="int64"),
            "score": pd.Series(scores, dtype="float64"),
            "rank": pd.Series(ranks, dtype="int32"),
        }
    )
    return spark.createDataFrame(
        pdf, schema="query_id long, doc_id long, score double, rank int"
    )


def _run_local_daat(
    index: ShardedIndex,
    qt_data: List[tuple],
    df_map: dict,
    n: float,
    avgdl: float,
    cfg,
    top_k: int,
    score_round: Optional[int],
) -> List[tuple]:
    """Driver-local twin of search_sharded's WAND engine: same
    _Cursor/_bmw_topk machinery, same per-segment top-k union, same
    (score desc, doc_id asc) global rank — the only physical
    difference is that the rows come from ShardedIndex.postings_rows
    (the bounded generation-tagged LRU, filled on a miss by the
    driver-side parquet reader) and the heap runs in the driver, so
    the call launches no Spark job. Returns (query_id, doc_id, score,
    rank) tuples; search_sharded wraps them for DataFrame callers.
    Only reached when the query's total df fits
    CACHE_MAX_QUERY_POSTINGS."""
    from collections import defaultdict

    by_qid: dict = defaultdict(list)
    for qid, term, qtf in qt_data:
        df_t = df_map.get(term)
        if not df_t:
            continue
        idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)
        by_qid[qid].append((term, idf * float(qtf)))
    if not by_qid:
        return []
    terms = sorted({t for tw in by_qid.values() for t, _ in tw})
    rows_map = index.postings_rows(terms)
    seg_rows: dict = {}
    segments: set = set()
    for t, rows in rows_map.items():
        for r in rows:
            seg_rows[(t, r.segment)] = r
            segments.add(r.segment)
    tds: dict = {}  # (term, segment) -> _TermData, shared per call
    out_rows: List[tuple] = []
    for qid, terms_w in sorted(by_qid.items()):
        cand: List[tuple] = []
        for seg in sorted(segments):
            cursors = []
            for term, w in terms_w:
                td = tds.get((term, seg))
                if td is None:
                    r = seg_rows.get((term, seg))
                    if r is None or len(r.blocks) == 0:
                        continue
                    td = tds[(term, seg)] = _TermData(
                        r, cfg.k1, cfg.b, avgdl
                    )
                cursors.append(_Cursor(td, w, cfg.k1, cfg.b, avgdl))
            if cursors:
                cand.extend(_bmw_topk(cursors, top_k, score_round))
        cand.sort(key=lambda ds: (-ds[1], ds[0]))
        for rank, (d, s) in enumerate(cand[:top_k], 1):
            out_rows.append((qid, int(d), float(s), rank))
    return out_rows


def search_sharded(
    index: ShardedIndex,
    queries: DataFrame,
    top_k: int = 50,
    strategy: str = "exhaustive",
    score_round: Optional[int] = None,
    use_cache: Optional[bool] = None,
) -> DataFrame:
    """-> (query_id, doc_id, score, rank). Query terms drive bucket
    pruning; unknown terms drop out via the inner join (reference
    'continue', bm25.py:277-278). strategy: 'exhaustive' | 'wand' |
    'auto' (df/idf-based rule, see _auto_strategy).

    ``queries`` is a DataFrame (query_id, query_text) or a plain list
    of (query_id, query_text) pairs — the list form skips a
    collect() roundtrip for interactive callers.

    Every strategy reads the per-term dfs driver-side through the
    parquet reader (index/reader.py: the (term, segment, df) columns
    of the pruned shard files, same overlay as the Spark scan), and
    through a pruned Spark collect only when those column chunks
    exceed postings_cache_bytes.

    ``use_cache`` (default: on for strategy='auto', off for the
    explicit engines so their benchmarks stay pure) lets interactive
    queries whose terms total at most CACHE_MAX_QUERY_POSTINGS
    postings run the exact BMW DAAT loop driver-side against
    ShardedIndex.postings_rows — the bounded, generation-tagged LRU
    of compressed posting rows, whose misses the same reader fills.
    Such a call launches ZERO Spark jobs, warm or cold, as long as
    the rows fit postings_cache_bytes; the only DataFrame it builds
    is this function's Arrow-backed wrapper of its result rows
    (search_sharded_rows skips even that). Results are identical to
    the distributed engines (same cursors, same heap, same
    round-before-rank) up to float summation order vs 'exhaustive',
    which the engine-equality contract already treats as equal
    (rank identity + rel_tol, like wand-vs-exhaustive)."""
    res = _search(index, queries, top_k, strategy, score_round, use_cache)
    return res if isinstance(res, DataFrame) else _rows_df(index.spark, res)


def search_sharded_rows(
    index: ShardedIndex,
    queries,
    top_k: int = 50,
    strategy: str = "exhaustive",
    score_round: Optional[int] = None,
    use_cache: Optional[bool] = None,
) -> List[tuple]:
    """search_sharded's result as (query_id, doc_id, score, rank)
    tuples, for driver-side callers (the facade's BM25 leg): the
    driver-local path's rows come back as they are — no
    createDataFrame + collect round trip — and a distributed plan is
    collected."""
    res = _search(index, queries, top_k, strategy, score_round, use_cache)
    if isinstance(res, DataFrame):
        return [tuple(r) for r in res.collect()]
    return res


def _search(index, queries, top_k, strategy, score_round, use_cache):
    """search_sharded's body: a list of row tuples when the driver-local
    path served the call, else the distributed plan's DataFrame."""
    cfg = index.config
    # queries are tiny by contract: get the raw texts driver-side and
    # tokenize with the same reference-parity function — avoids a
    # dedicated pandas-UDF Spark job per search call
    from collections import Counter

    from bm25_chroma_spark.functions.tokenizer import tokenize_py
    from bm25_chroma_spark.index.reader import shard_rows

    if isinstance(queries, DataFrame):
        spark = queries.sparkSession
        qpairs = [
            (int(r["query_id"]), r["query_text"])
            for r in queries.select(
                F.col(queries.columns[0]).alias("query_id"),
                F.col(queries.columns[1]).alias("query_text"),
            ).collect()
        ]
    else:
        spark = index.spark
        qpairs = [(int(a), b) for a, b in queries]
    qt_data = [
        (qid, term, int(qtf))
        for qid, qtext in qpairs
        for term, qtf in sorted(Counter(tokenize_py(qtext)).items())
    ]
    terms = sorted({t for _, t, _ in qt_data})
    if not terms:
        return []
    n, avgdl = float(index.n_docs), float(index.avgdl)

    # scan-plan construction is deferred: building the bucket-pruned
    # overlay costs a gen-dir glob + plan assembly on the driver,
    # which the driver-local path never needs
    _memo: dict = {}

    def get_shards() -> DataFrame:
        if "shards" not in _memo:
            _memo["shards"] = index.shards_for_terms(terms)
        return _memo["shards"]

    # Per-term global df (sum over segments) is ALWAYS computed
    # driver-side (bounded by the query's term count — queries are
    # tiny by contract): every engine needs it (cap guard, auto vote,
    # WAND weights, exhaustive scoring), and keeping it as a plan
    # subtree (the pre-r9 shape) scanned the shards a SECOND time
    # under a 2-stage agg + BroadcastExchange on every call. The
    # per-segment dfs come from the reader's (term, segment, df)
    # columns — no Spark job — and from a pruned Spark collect only
    # above the reader's byte bound.
    # caps that must refuse when binding: the query cap always (its
    # tf-ordered traversal is logical-path-only); the BUILD cap only
    # on LEGACY indexes built before physical cap enforcement (their
    # shards store postings uncapped — stats.json lacks the
    # build_cap_enforced marker)
    qcap = cfg.query_postings_cap
    guard_caps = [c for c in (qcap,) if c is not None]
    if cfg.max_postings_per_term and not getattr(
        index, "build_cap_physical", False
    ):
        guard_caps.append(cfg.max_postings_per_term)
    if use_cache is None:
        use_cache = strategy == "auto"
    # per-index df cache (cleared on refresh): interactive workloads
    # repeat the same hot terms every query, so read each term's df
    # once per index state. Unknown terms cache as 0.
    cache = index._df_cache
    missing = [t for t in terms if t not in cache]
    if missing:
        seg_dfs = shard_rows(index, missing, ("term", "segment", "df"))
        if seg_dfs is None:
            seg_dfs = index.shards_for_terms(missing).select(
                "term", "df"
            ).collect()
        acc: Counter = Counter({t: 0 for t in missing})
        for r in seg_dfs:
            acc[r["term"]] += int(r["df"])
        cache.update(acc)
    df_rows = [{"term": t, "df": cache[t]} for t in terms if cache[t] > 0]
    if guard_caps:
        limit = min(guard_caps)
        hot = sorted(
            (r["term"], int(r["df"]))
            for r in df_rows
            if r["df"] > limit
        )
        if hot:
            raise NotImplementedError(
                "sharded search cannot reproduce a tf-ordered "
                "posting cap that this index stores uncapped, and "
                f"these query terms exceed it ({limit}): {hot[:5]}. "
                "Query with lossless caps (None), use the logical "
                "path (bm25_score_queries) for reference cap "
                "semantics, or rebuild: indexes built at r3+ "
                "honor the BUILD cap physically and only the "
                "query-time cap refuses."
            )
    if use_cache:
        df_map = {r["term"]: int(r["df"]) for r in df_rows}
        # replication-aware work estimate: the driver DAAT traverses
        # each term's postings once PER QUERY that uses it, so a large
        # offline batch (query_df over 1k+ queries) must stay on the
        # distributed engines even when its distinct-term df sum is
        # tiny — sum over (query, term) occurrences, not terms
        est_work = sum(df_map.get(t, 0) for _, t, _ in qt_data)
        if est_work <= CACHE_MAX_QUERY_POSTINGS and index.postings_cacheable(
            terms
        ):
            return _run_local_daat(
                index, qt_data, df_map, n, avgdl, cfg,
                top_k, score_round,
            )

    # distributed engines from here on
    df_map_all = {r["term"]: int(r["df"]) for r in df_rows}

    def _qspec_scaffold(sub_qt: List[tuple]):
        """Shared per-(segment, query-group) scaffolding for both
        distributed engines: driver-side query spec with idf*qtf
        weights (terms sorted ascending — a deterministic accumulation
        order), bounded query-group fan-out, and the shard x qgroup
        frame whose groupBy ships each (term, segment)'s compressed
        bytes once per (segment, query-group)."""
        from collections import defaultdict

        by_qid: dict = defaultdict(list)
        for qid, term, qtf in sub_qt:
            df_t = df_map_all.get(term)
            if not df_t:
                continue
            idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)
            by_qid[qid].append((term, idf * float(qtf)))
        qspec = sorted(by_qid.items())
        if not qspec:
            return None
        par = max(int(spark.sparkContext.defaultParallelism), 1)
        n_seg = max(int(cfg.salt_factor), 1)
        n_qg = max(1, min(len(qspec), -(-2 * par // n_seg)))
        qg_df = spark.createDataFrame(
            [(i,) for i in range(n_qg)], "qgroup int"
        )
        seg_shards = get_shards().select(
            "term", "segment", "doc_bytes", "tf_bytes", "dl_bytes",
            "blocks",
        ).crossJoin(F.broadcast(qg_df))
        return qspec, n_qg, seg_shards

    def _rank_candidates(candidates: DataFrame) -> DataFrame:
        """Global (round-before-)rank over per-segment candidates —
        segments partition the doc space, so per-segment top-k unions
        provably cover the global top-k."""
        if score_round is not None:
            candidates = candidates.withColumn(
                "score", F.round("score", score_round)
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            candidates.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "doc_id", "score", "rank")
        )

    def _run_exhaustive(sub_qt: List[tuple]) -> DataFrame:
        # Vectorized exhaustive scoring per (segment, query-group)
        # (r9, guide §2.3 "shuffle keys and metadata instead of
        # payloads" / §8): the pre-r9 shape decoded postings to rows,
        # joined the query spec and pushed |queries| x |postings|
        # scored rows through a 2-Exchange agg+window — 96M shuffled
        # rows for the 32-query 1M-doc bench. Here the posting BYTES
        # ship once per (segment, query-group) — the same bounded
        # shuffle discipline as the WAND engine — and scoring is
        # whole-posting-list numpy inside the grouped UDF: decode each
        # (term, segment) once, accumulate per-doc scores over a
        # shared sorted doc universe, emit only each segment's
        # (conservatively margined) top-k. Rounding stays in the JVM
        # (_rank_candidates applies the exact F.round the old plan
        # used); the per-segment cut keeps every doc that could still
        # reach the rounded global top-k: an omitted doc has raw score
        # < kth - 2*(half-ulp-of-rounding), so its rounded score is
        # strictly below at least top_k emitted docs.
        scaffold = _qspec_scaffold(sub_qt)
        if scaffold is None:
            return _empty_results_df(spark)
        qspec, n_qg, seg_shards = scaffold
        k1, b = cfg.k1, cfg.b
        margin = (
            10.0 ** (-score_round) * 1.000001
            if score_round is not None
            else 0.0
        )

        def score_segment_group(pdf: pd.DataFrame) -> pd.DataFrame:
            qg = int(pdf["qgroup"].iloc[0])
            rows = {r.term: r for r in pdf.itertuples(index=False)}
            my_queries = qspec[qg::n_qg]
            out_frames = _score_group_vectorized(
                rows, my_queries, k1, b, avgdl, top_k, margin
            )
            if not out_frames:
                return pd.DataFrame(
                    {
                        "query_id": pd.Series([], dtype="int64"),
                        "doc_id": pd.Series([], dtype="int64"),
                        "score": pd.Series([], dtype="float64"),
                    }
                )
            return pd.concat(out_frames, ignore_index=True)

        candidates = seg_shards.groupBy("segment", "qgroup").applyInPandas(
            score_segment_group,
            schema="query_id long, doc_id long, score double",
        )
        return _rank_candidates(candidates)

    def _run_wand(sub_qt: List[tuple]) -> DataFrame:
        # --- Block-Max WAND, parallel per (segment, query-group) ---
        # Segments partition the DOC space (segment = f(doc_id)), so
        # every document's full score lives inside one segment:
        # running an independent WAND per (query, segment) and keeping
        # each segment's top-k provably covers the global top-k.
        #
        # Shuffle discipline: each (term, segment)'s compressed
        # posting bytes are shipped ONCE per (segment, query-group),
        # never once per query. The earlier per-(query, segment)
        # grouping replicated every hot term's bytes |queries| times
        # through the Arrow shuffle, and that replication — not the
        # DAAT loop — dominated (measured r3, 32-query batch at 200k
        # docs: 11.3s vs exhaustive's 5.2s). Queries ride the closure
        # as a tiny driver-side spec (they are small by contract); a
        # bounded query-group fan-out (n_qgroups ~
        # 2*parallelism/segments) restores task parallelism at a
        # replication factor of n_qgroups, not |queries|.
        # df_rows is always driver-side by now (collected once per
        # call, cached per index state) — no extra agg job here
        scaffold = _qspec_scaffold(sub_qt)
        if scaffold is None:
            return _empty_results_df(spark)
        qspec, n_qg, seg_shards = scaffold
        k1, b = cfg.k1, cfg.b
        # bounds-degenerate queries (no top-k-filling anchor / flat
        # bounds) provably gain nothing from block skipping — the
        # DAAT walks every posting at Python speed. Route them to the
        # shared vectorized scorer INSIDE the same task; the DAAT
        # runs only where Block-Max pruning can function (r9).
        daat_qids = _daat_functional_qids(
            dict(qspec), df_map_all, n, top_k, cfg.salt_factor
        )
        margin = (
            10.0 ** (-score_round) * 1.000001
            if score_round is not None
            else 0.0
        )

        def run_segment_group(pdf: pd.DataFrame) -> pd.DataFrame:
            qg = int(pdf["qgroup"].iloc[0])
            rows = {r.term: r for r in pdf.itertuples(index=False)}
            my_queries = qspec[qg::n_qg]
            tds: dict = {}  # term -> _TermData, shared across queries
            qids: List[int] = []
            dids: List[int] = []
            scores: List[float] = []
            for qid, terms_w in my_queries:
                if qid not in daat_qids:
                    continue
                cursors = []
                for term, w in terms_w:
                    td = tds.get(term)
                    if td is None:
                        r = rows.get(term)
                        if r is None or len(r.blocks) == 0:
                            continue
                        td = tds[term] = _TermData(r, k1, b, avgdl)
                    cursors.append(_Cursor(td, w, k1, b, avgdl))
                for d, s in _bmw_topk(cursors, top_k, score_round):
                    qids.append(qid)
                    dids.append(d)
                    scores.append(s)
            frames = [
                pd.DataFrame(
                    {
                        "query_id": pd.Series(qids, dtype="int64"),
                        "doc_id": pd.Series(dids, dtype="int64"),
                        "score": pd.Series(scores, dtype="float64"),
                    }
                )
            ]
            flat_queries = [
                qt for qt in my_queries if qt[0] not in daat_qids
            ]
            if flat_queries:
                frames.extend(
                    _score_group_vectorized(
                        rows, flat_queries, k1, b, avgdl, top_k, margin
                    )
                )
            return pd.concat(frames, ignore_index=True)

        candidates = seg_shards.groupBy("segment", "qgroup").applyInPandas(
            run_segment_group,
            schema="query_id long, doc_id long, score double",
        )
        return _rank_candidates(candidates)

    if strategy == "auto":
        # PER-QUERY routing: each query runs on the engine its own
        # df profile votes for; a mixed batch unions two disjoint
        # result sets instead of dragging its minority half through
        # the wrong path (bench wand_mixed: auto wins every measured
        # run — see _wand_vote_qids for the quoted ranges).
        wand_qids = _wand_vote_qids(
            qt_data,
            df_map_all,
            n,
            top_k,
            cfg.block_size,
            n_segments=cfg.salt_factor,
        )
        wand_qt = [x for x in qt_data if x[0] in wand_qids]
        exh_qt = [x for x in qt_data if x[0] not in wand_qids]
        if not wand_qt:
            strategy = "exhaustive"
        elif not exh_qt:
            strategy = "wand"
        else:
            return _run_exhaustive(exh_qt).unionByName(_run_wand(wand_qt))

    if strategy == "exhaustive":
        return _run_exhaustive(qt_data)

    if strategy != "wand":
        raise ValueError(f"unknown strategy {strategy!r}")

    return _run_wand(qt_data)

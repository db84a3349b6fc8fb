"""Query execution over the physical sharded index.

One kernel, ``_score_topk``, scores every BM25 top-k this module
returns, the way the reference does: it sums every matching posting
into a per-doc score table and keeps the top-k by (score desc, doc_id
asc). It decodes the query terms' (term, segment) shard rows with one
whole-slice ``decode_flat_slice`` call and scores whole posting
columns in numpy. It runs in one of two places:

* On the driver (``strategy="auto"``), over every segment's rows from
  ShardedIndex.postings_rows: the bounded generation-tagged LRU of
  compressed rows, filled on a miss by the driver-side parquet reader.
  A batch goes here when its summed postings fit
  CACHE_MAX_QUERY_POSTINGS and none of its terms is too big for the
  LRU; such a call launches no Spark job.
* In a grouped pandas UDF per (segment, query-group), for
  ``"exhaustive"``, for ``"wand"`` and for an ``"auto"`` batch past
  that bound. Segments partition the doc space, so the union of
  per-segment top-k covers the global top-k. Each (term, segment)'s
  posting bytes ship once per (segment, query-group), never once per
  query.

Both places sum each doc's contributions in ascending-term order with
the same factor order, so their scores are bit-identical. With
``score_round`` both round before they rank: F.round in the JVM,
round_half_up on the driver. ``"wand"`` names the retired Python
Block-Max WAND engine and now runs the distributed plan; callers still
pass it. The per-block max_tf/min_dl metadata stays in the shard
format, so block skipping can come back without a rebuild.

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

import math
from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bm25_chroma_spark.index.encode import decode_flat_slice
# unused here; perfbench's decode counter wraps index.wand.varint_decode
from bm25_chroma_spark.index.encode import varint_decode  # noqa: F401
from bm25_chroma_spark.index.shards import ShardedIndex


def round_half_up(x: float, r: int) -> float:
    """Python twin of Spark's F.round on doubles: HALF_UP on the
    SHORTEST-DECIMAL representation (Spark rounds
    BigDecimal.valueOf(double) — Double.toString's shortest
    round-trip repr — with HALF_UP; Python's repr() produces the same
    shortest repr, and decimal.Decimal quantizes it exactly).
    Python's builtin round() is half-even on the binary value and
    DISAGREES at decimal midpoints (round(2.675, 2) == 2.67 but
    F.round gives 2.68), which would break the driver == distributed
    invariant under score_round."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-r), rounding=ROUND_HALF_UP
        )
    ) + 0.0  # canonicalize IEEE -0.0


def _round_margin(score_round: Optional[int]) -> float:
    """Candidate slack for round-before-rank: a doc scoring below the
    kth best by more than one rounding unit rounds strictly below >=
    top_k docs, so it cannot enter the rounded top-k."""
    if score_round is None:
        return 0.0
    return 10.0 ** (-score_round) * 1.000001


def _score_topk(rows, queries, k1: float, b: float, avgdl: float,
                top_k: int, margin: float = 0.0):
    """The BM25 top-k kernel.

    ``rows`` are shard rows (attributes term, doc_bytes, tf_bytes,
    dl_bytes, blocks) of any terms and any number of segments;
    ``queries`` is [(query_id, [(term, idf * qtf), ...])] with each
    query's terms ascending. Returns numpy arrays (query_id, doc_id,
    score) holding, per query, every matched doc whose score is >= its
    kth best - ``margin`` (every matched doc when fewer than top_k
    match); with margin 0 exactly its top_k by (score desc, doc_id
    asc). top_k == 0 returns no rows.

    A posting contributes (w * tf * (k1 + 1)) / denom / sqrt(dl), added
    per doc in the query's term order, so the scores do not depend on
    how the caller split the rows into segments."""
    need = {t for _, tw in queries for t, _ in tw}
    rows = sorted(
        (r for r in rows if r.term in need and len(r.blocks) > 0),
        key=lambda r: r.term,
    )
    if not rows or top_k <= 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0)
    per_row, docs, tf, dl = decode_flat_slice(
        [r.doc_bytes for r in rows], [r.tf_bytes for r in rows],
        [r.dl_bytes for r in rows], [r.blocks for r in rows],
    )
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    num = tf * (k1 + 1.0)
    dnm = tf + k1 * (1.0 - b + b * dl / avgdl)
    sq = np.sqrt(dl)
    universe, pos = np.unique(docs, return_inverse=True)
    # rows are sorted by term, so each term's postings are one run
    span: dict = {}
    end = 0
    for r, n in zip(rows, per_row.tolist()):
        span[r.term] = (span.get(r.term, (end, 0))[0], end + n)
        end += n
    scores = np.zeros(len(universe))
    matched = np.zeros(len(universe), dtype=bool)
    out_q, out_d, out_s = [], [], []
    for qid, terms_w in queries:
        pres = [(span[t], w) for t, w in terms_w if t in span]
        if not pres:
            continue
        scores[:] = 0.0
        matched[:] = False
        for (s, e), w in pres:
            ix = pos[s:e]
            scores[ix] += w * num[s:e] / dnm[s:e] / sq[s:e]
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
        out_q.append(np.full(len(mdocs), qid, dtype=np.int64))
        out_d.append(mdocs)
        out_s.append(ms)
    if not out_q:
        return np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0)
    return np.concatenate(out_q), np.concatenate(out_d), np.concatenate(out_s)


def _query_weights(qt_data: List[tuple], df_map: dict, n: float) -> list:
    """[(query_id, [(term, idf * qtf), ...])] sorted by query_id, each
    query's terms ascending (qt_data's order); terms with no postings
    drop out."""
    by_qid: dict = {}
    for qid, term, qtf in qt_data:
        df_t = df_map.get(term)
        if not df_t:
            continue
        idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)
        by_qid.setdefault(qid, []).append((term, idf * float(qtf)))
    return sorted(by_qid.items())


# A batch whose (query, term) postings sum to at most this many is
# scored on the driver: one kernel call over that many decoded
# postings runs well under the ~1.2-2.0 s Spark job floor it replaces,
# and the bound keeps genuinely hot terms (1M-doc hota/hotb/hotc in
# bench wand_1m) on the distributed plan. Below it the posting rows
# come from the postings LRU or, on a miss, from the driver-side
# parquet reader (index/reader.py) — zero Spark jobs either way while
# the rows fit postings_cache_bytes.
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


def _run_local(index: ShardedIndex, qspec: list, terms: List[str],
               avgdl: float, top_k: int,
               score_round: Optional[int]) -> List[tuple]:
    """The driver path: one kernel call over every segment's rows of
    ``terms``, then round-before-rank on the driver. Returns (query_id,
    doc_id, score, rank) tuples ranked by (score desc, doc_id asc)."""
    cfg = index.config
    rows = [r for rs in index.postings_rows(terms).values() for r in rs]
    q, d, s = _score_topk(
        rows, qspec, cfg.k1, cfg.b, avgdl, top_k, _round_margin(score_round)
    )
    if not len(q):
        return []
    if score_round is not None:
        s = np.array([round_half_up(x, score_round) for x in s.tolist()])
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    first = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = np.arange(1, len(q) + 1) - np.repeat(
        first, np.diff(np.r_[first, len(q)])
    )
    keep = rank <= top_k
    return list(zip(
        q[keep].tolist(), d[keep].tolist(), s[keep].tolist(),
        rank[keep].tolist(),
    ))


def search_sharded(
    index: ShardedIndex,
    queries: DataFrame,
    top_k: int = 50,
    strategy: str = "exhaustive",
    score_round: Optional[int] = None,
) -> DataFrame:
    """-> (query_id, doc_id, score, rank). Query terms drive bucket
    pruning; unknown terms drop out (reference 'continue',
    bm25.py:277-278).

    ``queries`` is a DataFrame (query_id, query_text) or a plain list
    of (query_id, query_text) pairs — the list form skips a
    collect() roundtrip for interactive callers.

    ``strategy`` says where the one scoring kernel runs (see the
    module docstring): ``"auto"`` scores on the driver when the
    batch's summed (query, term) postings fit CACHE_MAX_QUERY_POSTINGS
    and its rows fit the postings LRU — zero Spark jobs, warm or cold
    — and runs the distributed plan otherwise; ``"exhaustive"`` and
    ``"wand"`` always run the distributed plan. Every strategy returns
    the same rows with the same scores.

    Every strategy reads the per-term dfs driver-side through the
    parquet reader (index/reader.py: the (term, segment, df) columns
    of the pruned shard files, same overlay as the Spark scan), and
    through a pruned Spark collect only when those column chunks
    exceed postings_cache_bytes."""
    res = _search(index, queries, top_k, strategy, score_round)
    return res if isinstance(res, DataFrame) else _rows_df(index.spark, res)


def search_sharded_rows(
    index: ShardedIndex,
    queries,
    top_k: int = 50,
    strategy: str = "exhaustive",
    score_round: Optional[int] = None,
) -> List[tuple]:
    """search_sharded's result as (query_id, doc_id, score, rank)
    tuples, for driver-side callers (the facade's BM25 leg): the
    driver path's rows come back as they are — no createDataFrame +
    collect round trip — and a distributed plan is collected."""
    res = _search(index, queries, top_k, strategy, score_round)
    if isinstance(res, DataFrame):
        return [tuple(r) for r in res.collect()]
    return res


def _search(index, queries, top_k, strategy, score_round):
    """search_sharded's body: a list of row tuples when the driver path
    served the call, else the distributed plan's DataFrame."""
    if strategy not in ("exhaustive", "wand", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if top_k < 0:
        raise ValueError(f"top_k must be >= 0, got {top_k}")
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

    # Per-term global df (sum over segments) is ALWAYS computed
    # driver-side (bounded by the query's term count — queries are
    # tiny by contract): the cap guard, the driver-path gate and the
    # idf weights all need it, and keeping it as a plan subtree (the
    # pre-r9 shape) scanned the shards a SECOND time under a 2-stage
    # agg + BroadcastExchange on every call. The per-segment dfs come
    # from the reader's (term, segment, df) columns — no Spark job —
    # and from a pruned Spark collect only above the reader's byte
    # bound.
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
    df_map = {t: cache[t] for t in terms if cache[t] > 0}
    if guard_caps:
        limit = min(guard_caps)
        hot = sorted((t, d) for t, d in df_map.items() if d > limit)
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
    qspec = _query_weights(qt_data, df_map, n)
    if not qspec:
        return []
    if strategy == "auto":
        # the kernel scores each term's postings once PER QUERY that
        # uses it, so a large offline batch (query_df over 1k+
        # queries) stays distributed even when its distinct-term df
        # sum is tiny — sum over (query, term) occurrences, not terms
        est_work = sum(df_map.get(t, 0) for _, t, _ in qt_data)
        if est_work <= CACHE_MAX_QUERY_POSTINGS and index.postings_cacheable(
            terms
        ):
            return _run_local(index, qspec, terms, avgdl, top_k, score_round)

    # The distributed plan: each (term, segment)'s compressed posting
    # BYTES ship once per (segment, query-group) — never once per
    # query, and never as decoded postings through a shuffle (the
    # pre-r9 decode-join-agg shape pushed |queries| x |postings| rows
    # through two Exchanges) — and the kernel scores them inside the
    # grouped UDF. Queries ride the closure as the driver-side spec; a
    # bounded query-group fan-out (~2 x parallelism / segments)
    # restores task parallelism.
    par = max(int(spark.sparkContext.defaultParallelism), 1)
    n_seg = max(int(cfg.salt_factor), 1)
    n_qg = max(1, min(len(qspec), -(-2 * par // n_seg)))
    qg_df = spark.createDataFrame([(i,) for i in range(n_qg)], "qgroup int")
    seg_shards = index.shards_for_terms(terms).select(
        "term", "segment", "doc_bytes", "tf_bytes", "dl_bytes", "blocks",
    ).crossJoin(F.broadcast(qg_df))
    k1, b = cfg.k1, cfg.b
    margin = _round_margin(score_round)

    def score_segment_group(pdf: pd.DataFrame) -> pd.DataFrame:
        qg = int(pdf["qgroup"].iloc[0])
        q, d, s = _score_topk(
            list(pdf.itertuples(index=False)), qspec[qg::n_qg],
            k1, b, avgdl, top_k, margin,
        )
        return pd.DataFrame({"query_id": q, "doc_id": d, "score": s})

    candidates = seg_shards.groupBy("segment", "qgroup").applyInPandas(
        score_segment_group,
        schema="query_id long, doc_id long, score double",
    )
    # global round-before-rank: segments partition the doc space, so
    # the per-segment candidates cover the global top-k, and the
    # kernel's margin keeps every doc that could reach it once rounded
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

"""Physical sharded index: term-bucketed, segment-partitioned,
varint-compressed posting shards with per-group checkpoint manifests.

Layout on disk (parquet + JSON bookkeeping):

  <dir>/stats.json                 N, sum_dl, avgdl, config, lineage
  <dir>/doc_stats.parquet          (doc_id, dl)
  <dir>/shards/group=G/...         SHARD rows, partitioned by bucket
  <dir>/manifests/group_G.json     per-group checkpoint: status,
                                   metrics (postings, bytes, skew),
                                   lineage (input rows, config hash)
  <dir>/partials.parquet           transient: the tokenize pass's
                                   materialized output (one python
                                   pass ever); group jobs read it
                                   bucket-pruned, crash-resume reuses
                                   it, dropped when all groups
                                   complete (manifests/partials.json
                                   gates reuse on config hash)

Shard row = one (term, segment): segment = hash_segment(doc_id) — a
splitmix-style mix of doc_id mod S (the SAME function on the build and
DML paths; segments must stay a consistent partition of the doc space
or per-segment scoring would emit split partial scores). It
splits every hot term's postings across S groups, so no single
aggregation group ever exceeds ~1/S of the hottest term — the
explicit skew handling the vanilla groupBy(term) lacks. Segments are
disjoint doc sets, so BM25 additivity makes query-time merging free
(treat each (term, segment) as an independent posting list).

Builds are resumable: each bucket-group is an independent job whose
manifest marks completion; re-running skips complete groups (the
driver-visible crash-recovery path). Buckets give query-time
partition pruning: a query touches only the buckets its terms hash
to.

Two paths write one base (pinned row for row by
tests/test_driver_build.py):

* Spark: the partials pass, then one merge+encode job per group.
* driver: a fresh build of a local relation of at most
  reader.MAX_POINT_IDS rows (_build_on_driver) — the same tokenize
  core (_term_counts), build cap and codec (_encode_flat_slice), the
  files written with pyarrow in the Spark schemas and in the Spark
  path's order, so the Spark path resumes a crashed driver build.
  It launches no Spark job.
"""

from __future__ import annotations

import hashlib
import json
import math
import time
from dataclasses import asdict
from pathlib import Path
from typing import Dict, Iterator, List, NamedTuple, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bm25_chroma_spark.config import BM25Config, DEFAULT_CONFIG
from bm25_chroma_spark.index.encode import encode_postings, varint_encode

SHARD_DDL = (
    "bucket int, term string, segment int, df long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, "
    "blocks array<struct<first_doc: long, n: int, max_tf: int, "
    "min_dl: int, doc_off: int, tf_off: int, dl_off: int>>"
)
# on-disk file schema under shards/group=G/bucket=B/: partitionBy
# strips the bucket (and group) columns out of the data files
SHARD_FILE_DDL = SHARD_DDL.split(", ", 1)[1]
# reader-side schema of the base shards tree (basePath=shards/):
# group + bucket come back as partition columns
SHARD_SCAN_DDL = "group int, " + SHARD_DDL


def _config_hash(config: BM25Config) -> str:
    return hashlib.sha256(
        json.dumps(asdict(config), sort_keys=True).encode()
    ).hexdigest()[:16]


def _encode_bucket_segment(pdf: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """One (bucket, segment) slice of flat (term, doc_id, tf, dl)
    rows -> one shard row per term (the DML re-encode path). Shares
    the whole-slice vectorized codec with the build's partials merge
    (_encode_flat_slice) — one lexsort, one varint pass per stream.
    """
    codes, uniq_terms = pd.factorize(pdf["term"])
    return _encode_flat_slice(
        codes.astype(np.int64),
        uniq_terms,
        pdf["doc_id"].to_numpy(np.int64),
        pdf["tf"].to_numpy(np.int64),
        pdf["dl"].to_numpy(np.int64),
        int(pdf["bucket"].iloc[0]),
        int(pdf["segment"].iloc[0]),
        block_size,
    )


# map-side partial postings: one row per (input-partition, term,
# segment) carrying packed arrays — the "per-partition segment
# indexes" whose distributed merge is the final shuffle. Compared to
# exploding one row per token occurrence, this shuffles ~2 orders of
# magnitude fewer rows and each term string once per partition.
_PARTIAL_DDL = (
    "bucket int, term string, segment int, "
    "doc_ids array<long>, tfs array<int>, dls array<int>"
)


def _map_docs_to_partials(
    n_buckets: int, salt_factor: int, pretokenized: bool = False
):
    """ONE mapInPandas pass: raw (doc_id, text) -> per-(term, segment)
    partial posting arrays PLUS doc-stat sentinel rows.

    Collapsing tokenize + tf + segment-grouping into a single Python
    stage matters: chained Arrow/python stages in one task pipeline
    (UDF -> JVM -> UDF) measurably anti-scale under high parallelism,
    while a single python stage scales with cores.

    ``pretokenized``: the input 'text' column already holds token
    ARRAYS (e.g. produced JVM-side by functions.tokenizer.sql_tokens).
    Measured r6 (BENCH/r6_notes.md #4): the JVM regex alone is ~4x
    cheaper than the per-doc Python call, but shipping the token
    arrays through the task-local Arrow transfer erases the win — the
    hybrid ties the pure-Python pass — so the build keeps the
    single-Python-stage default (which also keeps Python \\b unicode
    semantics). The parameter stays for callers that already HAVE
    tokenized arrays.

    Sentinel rows (bucket = -1, term = '') carry each batch's
    (doc_ids, dls) arrays so doc stats come out of the same pass —
    empty docs are skipped entirely (reference bm25.py:155-156).
    """
    from bm25_chroma_spark.functions.tokenizer import tokenize_py

    def gen(batches):
        # Batch-vectorized (r5; content-identical to the original
        # per-doc Counter/append loop — the accumulation was 57% of
        # this pass's Python CPU, pinned by
        # test_map_docs_partials_matches_reference): tf counting is
        # _term_counts, and the per-(term, segment) partial rows come
        # from grouped slicing of the sorted arrays — no per-token
        # dict or list work.
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            if pretokenized:
                tok_lists = [
                    t if t is not None else [] for t in pdf["text"]
                ]
            else:
                tok_lists = [tokenize_py(t) for t in pdf["text"]]
            tc = _term_counts(tok_lists)
            nz = tc.dl > 0  # empty docs are skipped entirely
            if not nz.any():
                continue
            udoc, ucode, tf, uniq = tc.doc, tc.code, tc.tf, tc.terms
            did = ids[udoc]
            dl = tc.dl[udoc]  # dl = post-filter token count
            seg = hash_segment_np(did, salt_factor).astype(np.int64)
            # group rows by (term, segment); udoc last keeps each
            # partial's doc order = batch order, like the append loop
            order = np.lexsort((udoc, seg, ucode))
            c = ucode[order]
            s2 = seg[order]
            g_did = did[order]
            g_tf = tf[order].astype(np.int32)
            g_dl = dl[order].astype(np.int32)
            change = np.flatnonzero(
                (np.diff(c) != 0) | (np.diff(s2) != 0)
            ) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(c)]))
            term_buckets = _term_buckets(uniq, n_buckets)
            gc = c[starts]
            rows = {
                "bucket": term_buckets[gc].tolist() + [-1],
                "term": uniq[gc].tolist() + [""],
                "segment": s2[starts].tolist() + [0],
                "doc_ids": [
                    g_did[a:b] for a, b in zip(starts, ends)
                ] + [ids[nz]],
                "tfs": [g_tf[a:b] for a, b in zip(starts, ends)]
                + [np.zeros(0, dtype=np.int32)],
                "dls": [g_dl[a:b] for a, b in zip(starts, ends)]
                + [tc.dl[nz].astype(np.int32)],
            }
            yield pd.DataFrame(rows)

    return gen


class _TermCounts(NamedTuple):
    """Per-(doc, term) token counts of a list of tokenized docs, one
    entry per distinct pair in (doc, term code) order: ``doc`` indexes
    the input list, ``code`` indexes ``terms``. ``dl`` is every input
    doc's token count (0 for a doc with no token)."""

    doc: np.ndarray
    code: np.ndarray
    tf: np.ndarray
    terms: np.ndarray
    dl: np.ndarray


def _term_counts(tok_lists: List[List[str]]) -> _TermCounts:
    """The tokenize core of every index write (the build's partials
    pass and driver path, and DML's driver path): the tokens are
    factorized once and tf counting is ONE np.unique over packed
    (doc, term-code) keys."""
    dl = np.fromiter(
        (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
    )
    doc_idx = np.repeat(np.arange(len(tok_lists), dtype=np.int64), dl)
    codes, uniq = pd.factorize(
        np.asarray([tok for ts in tok_lists for tok in ts], dtype=object)
    )
    # both halves < 2^31: a 10k-row Arrow batch (or a driver batch of
    # at most reader.MAX_POINT_IDS docs) holds fewer distinct tokens
    key = (doc_idx << 32) + codes.astype(np.int64)
    ukey, tf = np.unique(key, return_counts=True)
    return _TermCounts(
        doc=(ukey >> 32).astype(np.int64),
        code=(ukey & 0xFFFFFFFF).astype(np.int64),
        tf=tf.astype(np.int64),
        terms=np.asarray(uniq, dtype=object),
        dl=dl,
    )


def _driver_tokens(texts) -> List[List[str]]:
    """tokenize_py of each text, for a batch tokenized on the driver:
    tokens are interned, so the batch holds one string object per
    distinct token (~8 MB less peak driver RSS on perfbench's
    1,000-doc build)."""
    import sys

    from bm25_chroma_spark.functions.tokenizer import tokenize_py

    return [list(map(sys.intern, tokenize_py(t))) for t in texts]


def _term_buckets(terms, n_buckets: int) -> np.ndarray:
    """bucket_of for every term of ``terms``, as int64."""
    import zlib

    return np.fromiter(
        (zlib.crc32(t.encode("utf-8")) % n_buckets for t in terms),
        dtype=np.int64, count=len(terms),
    )


def hash_segment(doc_id: int, salt_factor: int) -> int:
    """THE segment function: a splitmix-style mix of doc_id mod S.
    Deterministic and well-spread; every path that writes shard rows
    (base build AND DML re-encode) must use it so segments remain a
    consistent partition of the doc space across the index's life."""
    x = (doc_id ^ (doc_id >> 30)) * 0xBF58476D1CE4E5B9 & (2**64 - 1)
    x = (x ^ (x >> 27)) * 0x94D049BB133111EB & (2**64 - 1)
    return (x ^ (x >> 31)) % salt_factor


def hash_segment_np(doc_ids, salt_factor: int) -> np.ndarray:
    """Vectorized hash_segment over an int64 array (bit-identical:
    numpy's arithmetic >> on int64 + uint64 wraparound reproduce
    Python's infinite-precision two's-complement semantics mod 2^64,
    including negative xxhash64-derived doc ids)."""
    x = np.asarray(doc_ids, dtype=np.int64)
    y = (x ^ (x >> 30)).astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
    y = (y ^ (y >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    y = y ^ (y >> np.uint64(31))
    return (y % np.uint64(salt_factor)).astype(np.int32)


_SHARD_COLS = [
    "bucket", "term", "segment", "df",
    "doc_bytes", "tf_bytes", "dl_bytes", "blocks",
]


def _merge_encode_bucket_segment(
    pdf: pd.DataFrame, block_size: int
) -> pd.DataFrame:
    """Final merge of map-side partials for one (bucket, segment):
    concatenate each term's arrays, apply the build-cap keep
    predicate when a threshold is present (columns thr_tf/thr_doc,
    null for under-cap terms), sort by doc_id, encode.

    The keep predicate ``tf > thr_tf OR (tf == thr_tf AND doc_id <=
    thr_doc)`` — where (thr_tf, thr_doc) is the cap-th posting in the
    reference's total order (tf desc, doc_id asc), computed globally
    per term by _cap_thresholds — selects exactly the global top-cap
    inside each segment independently, so the cap distributes with no
    cross-segment coordination at encode time.

    WHOLE-SLICE vectorized (r5; bit-identical to per-term
    encode_postings, pinned by test_merge_encode_matches_per_term):
    the group's postings flatten into single arrays, ONE lexsort
    orders them by (term, doc_id), ONE varint_encode pass per stream
    compresses every term's postings together (per-value encoding —
    term boundaries are just byte offsets), and block metadata comes
    from reduceat at block starts. Python then only SLICES bytes per
    term. The old per-term loop spent ~1.2 ms/term on numpy/pandas
    call overhead — at 232k terms that was ~60% of the entire build;
    measured 2.7x faster on the group pass at 100k docs.
    """
    bucket = int(pdf["bucket"].iloc[0])
    segment = int(pdf["segment"].iloc[0])
    has_thr = "thr_tf" in pdf.columns

    codes, uniq_terms = pd.factorize(pdf["term"])
    lens = np.fromiter(
        (len(x) for x in pdf["doc_ids"]), dtype=np.int64, count=len(pdf)
    )
    flat_code = np.repeat(codes, lens)
    doc_ids = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in pdf["doc_ids"]]
    )
    tfs = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in pdf["tfs"]]
    )
    dls = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in pdf["dls"]]
    )

    if has_thr:
        # string-encoded to survive Arrow's nullable-long -> float64
        # conversion losslessly (see _cap_thresholds); -1 marks
        # under-cap terms (tf is always >= 1, so -1 never collides)
        thr_tf_row = np.fromiter(
            (-1 if pd.isna(x) else int(x) for x in pdf["thr_tf"]),
            dtype=np.int64, count=len(pdf),
        )
        thr_doc_row = np.fromiter(
            (0 if pd.isna(x) else int(x) for x in pdf["thr_doc"]),
            dtype=np.int64, count=len(pdf),
        )
        capped = np.repeat(thr_tf_row >= 0, lens)
        t_tf = np.repeat(thr_tf_row, lens)
        t_doc = np.repeat(thr_doc_row, lens)
        keep = ~capped | (tfs > t_tf) | (
            (tfs == t_tf) & (doc_ids <= t_doc)
        )
        flat_code = flat_code[keep]
        doc_ids, tfs, dls = doc_ids[keep], tfs[keep], dls[keep]

    return _encode_flat_slice(
        flat_code, uniq_terms, doc_ids, tfs, dls, bucket, segment,
        block_size,
    )


def _encode_flat_slice(
    flat_code: np.ndarray,
    uniq_terms,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    bucket: int,
    segment: int,
    block_size: int,
) -> pd.DataFrame:
    """Shared whole-slice codec core (see _merge_encode_bucket_segment
    for the design): flat posting arrays tagged with term codes ->
    one shard row per term, byte-identical to per-term
    encode_postings."""

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {c: pd.Series([], dtype="object") for c in _SHARD_COLS}
        )

    n = len(doc_ids)
    if n == 0:
        return _empty()

    order = np.lexsort((doc_ids, flat_code))
    ft = flat_code[order]
    d = doc_ids[order]
    tf = tfs[order]
    dl = dls[order]

    same_term = np.diff(ft) == 0
    # comparison, NOT subtraction: doc ids span the full int64 range
    # (xxhash64), where np.diff wraps and a huge positive gap reads
    # as negative
    if np.any((d[1:] <= d[:-1]) & same_term):
        raise ValueError("doc_ids must be strictly increasing")

    term_change = np.flatnonzero(~same_term) + 1
    term_starts = np.concatenate(([0], term_change))
    term_ends = np.concatenate((term_change, [n]))
    term_lens = term_ends - term_starts
    pos_in_term = np.arange(n, dtype=np.int64) - np.repeat(
        term_starts, term_lens
    )
    block_start = (pos_in_term % block_size) == 0

    deltas = np.empty(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        deltas[1:] = d[1:].view(np.uint64) - d[:-1].view(np.uint64)
    deltas[block_start] = 0  # restart at every block (and term) start

    doc_bytes_all, doc_lens = varint_encode(deltas)
    tf_bytes_all, tf_lens = varint_encode(tf.astype(np.uint64))
    dl_bytes_all, dl_lens = varint_encode(dl.astype(np.uint64))
    doc_offs = np.concatenate(([0], np.cumsum(doc_lens)))
    tf_offs = np.concatenate(([0], np.cumsum(tf_lens)))
    dl_offs = np.concatenate(([0], np.cumsum(dl_lens)))

    blk_idx = np.flatnonzero(block_start)
    blk_ends = np.concatenate((blk_idx[1:], [n]))
    blk_max_tf = np.maximum.reduceat(tf, blk_idx)
    blk_min_dl = np.minimum.reduceat(dl, blk_idx)
    # blocks never straddle terms (every term start is a block
    # start), so each term owns a contiguous run of blocks
    blocks_per_term = -(-term_lens // block_size)
    tb_starts = np.concatenate(
        ([0], np.cumsum(blocks_per_term)[:-1])
    )

    rows = []
    for i in range(len(term_starts)):
        s, e = int(term_starts[i]), int(term_ends[i])
        t_doc_off = int(doc_offs[s])
        t_tf_off = int(tf_offs[s])
        t_dl_off = int(dl_offs[s])
        blks = []
        for j in range(
            int(tb_starts[i]), int(tb_starts[i] + blocks_per_term[i])
        ):
            g0 = int(blk_idx[j])
            blks.append(
                {
                    "first_doc": int(d[g0]),
                    "n": int(blk_ends[j] - g0),
                    "max_tf": int(blk_max_tf[j]),
                    "min_dl": int(blk_min_dl[j]),
                    "doc_off": int(doc_offs[g0]) - t_doc_off,
                    "tf_off": int(tf_offs[g0]) - t_tf_off,
                    "dl_off": int(dl_offs[g0]) - t_dl_off,
                }
            )
        rows.append(
            {
                "bucket": bucket,
                "term": uniq_terms[ft[s]],
                "segment": segment,
                "df": e - s,
                "doc_bytes": doc_bytes_all[t_doc_off:int(doc_offs[e])],
                "tf_bytes": tf_bytes_all[t_tf_off:int(tf_offs[e])],
                "dl_bytes": dl_bytes_all[t_dl_off:int(dl_offs[e])],
                "blocks": blks,
            }
        )
    return pd.DataFrame(rows)


def _cap_thresholds(partials: DataFrame, cap: int) -> DataFrame:
    """-> (term, thr_tf, thr_doc): the cap-th posting per over-cap
    term in the reference's build-cap order (tf desc, doc_id asc;
    bm25.py:56,190-191). Terms at or under the cap are absent (their
    threshold join comes back null = keep everything).

    Distributed shape: a cheap per-term count prunes to over-cap
    terms only, their postings explode, and a TWO-STAGE top-cap
    bounds the skew — per-(term, segment) top-cap first (the order is
    total, so per-part top-caps are a superset of the global
    top-cap), then the global cap-th row over at most cap x segments
    rows per term. Both windows are rank<=k, which Spark executes as
    WindowGroupLimit (per-partition running top-k, no full group
    sort/materialization)."""
    from pyspark.sql import Window

    counts = partials.groupBy("term").agg(
        F.sum(F.size("doc_ids")).alias("cnt")
    )
    over = counts.filter(F.col("cnt") > cap).select("term")
    flat = (
        partials.join(over, "term", "left_semi")
        .select(
            "term",
            "segment",
            F.explode(F.arrays_zip("doc_ids", "tfs")).alias("z"),
        )
        .select(
            "term",
            "segment",
            F.col("z.doc_ids").alias("doc_id"),
            F.col("z.tfs").cast("long").alias("tf"),
        )
    )
    w1 = Window.partitionBy("term", "segment").orderBy(
        F.desc("tf"), F.asc("doc_id")
    )
    per_seg = (
        flat.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    w2 = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    # thresholds travel as STRINGS: the encode UDF receives them
    # through a nullable-long left join, and Arrow->pandas delivers
    # nullable longs as float64 — which silently corrupts doc ids
    # beyond 2^53 (xxhash64-scale ids round to the wrong neighbor and
    # the cap-boundary tie-break keeps/drops the wrong postings).
    # Strings round-trip exactly; the UDF parses them back to int.
    return (
        per_seg.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == cap)
        .select(
            "term",
            F.col("tf").cast("string").alias("thr_tf"),
            F.col("doc_id").cast("string").alias("thr_doc"),
        )
    )


def _cap_keep(code: np.ndarray, doc: np.ndarray, tf: np.ndarray,
              cap: int) -> np.ndarray:
    """Indexes of the postings a build cap keeps: each term's first
    ``cap`` in the reference's order (tf desc, doc_id asc;
    bm25.py:56,190-191)."""
    order = np.lexsort((doc, -tf, code))
    c = code[order]
    starts = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
    rank = np.arange(len(c)) - np.repeat(
        starts, np.diff(np.r_[starts, len(c)])
    )
    return order[rank < cap]


def _stats(config: BM25Config, cfg_hash: str, n_docs: int,
           sum_dl: int) -> dict:
    return {
        "n_docs": n_docs,
        # integer Σdl: DML moves n_docs/sum_dl arithmetically
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        "config": asdict(config),
        "config_hash": cfg_hash,
        "built_at": time.time(),
        # r3+: the build honors max_postings_per_term PHYSICALLY
        # (threshold filter at encode). Indexes lacking this marker
        # were built storing postings uncapped — their query path must
        # keep refusing a binding build cap, and DML must not re-cap
        # (ShardedIndex.build_cap_physical).
        "build_cap_enforced": True,
    }


def _write_manifest(base: Path, g: int, cfg_hash: str, stats: dict,
                    use_jvm_tokenizer: bool, metrics: dict) -> dict:
    manifest = {
        "group": g,
        "status": "complete",
        "config_hash": cfg_hash,
        "lineage": {
            "input_docs": stats["n_docs"],
            "tokenizer": "jvm" if use_jvm_tokenizer else "pandas",
        },
        "metrics": metrics,
    }
    (base / "manifests" / f"group_{g}.json").write_text(
        json.dumps(manifest, indent=2)
    )
    return manifest


def _build_on_driver(base: Path, ids: np.ndarray, texts: List[str],
                     config: BM25Config, bucket_groups: int,
                     cfg_hash: str, use_jvm_tokenizer: bool) -> dict:
    """build_sharded_index of a small local input on the driver. Same
    tokenize core (_term_counts), build cap and codec
    (_encode_flat_slice) as the Spark path, and the same base layout
    written with pyarrow in the Spark schemas, in the Spark path's
    order: stats.json, doc_stats, then each group's shards followed by
    its manifest — so a crash leaves a state the Spark path resumes.
    No partials table: it exists for group fan-out and resume.
    Manifest ``terms`` is exact here (an HLL estimate in Spark)."""
    import pyarrow as pa

    from bm25_chroma_spark.index.dml import _arrow_schema, write_arrow_dir

    tc = _term_counts(_driver_tokens(texts))
    live = tc.dl > 0  # empty docs are skipped entirely
    stats = _stats(config, cfg_hash, int(live.sum()), int(tc.dl.sum()))
    (base / "stats.json").write_text(json.dumps(stats, indent=2))
    write_arrow_dir(base / "doc_stats.parquet", pa.Table.from_pydict(
        {"doc_id": ids[live], "dl": tc.dl[live].astype(np.int32)},
        schema=_arrow_schema("doc_id long, dl int"),
    ))

    code, did, tf = tc.code, ids[tc.doc], tc.tf
    dl = tc.dl[tc.doc]
    if config.max_postings_per_term:
        k = _cap_keep(code, did, tf, config.max_postings_per_term)
        code, did, tf, dl = code[k], did[k], tf[k], dl[k]
    seg = hash_segment_np(did, config.salt_factor).astype(np.int64)
    bucket = _term_buckets(tc.terms, config.num_term_buckets)[code]
    schema = _arrow_schema(SHARD_FILE_DDL)
    totals = {"postings": 0, "terms": 0, "bytes": 0, "wall_sec": 0.0}
    for g in range(bucket_groups):
        t0 = time.time()
        mine = np.flatnonzero(bucket % bucket_groups == g)
        order = mine[np.lexsort((seg[mine], bucket[mine]))]
        cut = np.flatnonzero(
            np.diff(bucket[order]) | np.diff(seg[order])
        ) + 1
        by_bucket: Dict[int, list] = {}
        dfs: List[int] = []
        n_bytes = 0
        for part in np.split(order, cut) if len(order) else []:
            b = int(bucket[part[0]])
            pdf = _encode_flat_slice(
                code[part], tc.terms, did[part], tf[part], dl[part], b,
                int(seg[part[0]]), config.block_size,
            )
            dfs.extend(pdf["df"].tolist())
            n_bytes += sum(
                len(x) for c in ("doc_bytes", "tf_bytes", "dl_bytes")
                for x in pdf[c]
            )
            by_bucket.setdefault(b, []).append(pa.Table.from_pandas(
                pdf.drop(columns="bucket"), schema=schema,
                preserve_index=False,
            ).replace_schema_metadata(None))
        gdir = base / "shards" / f"group={g}"
        gdir.mkdir(parents=True, exist_ok=True)
        for b, tables in sorted(by_bucket.items()):
            write_arrow_dir(gdir / f"bucket={b}", pa.concat_tables(tables),
                            success=False)
        (gdir / "_SUCCESS").touch()
        metrics = {
            "postings": sum(dfs),
            # a term lives in one bucket, so in one group
            "terms": len(np.unique(code[mine])),
            "bytes": n_bytes,
            "skew_ratio": (
                max(dfs) / (sum(dfs) / len(dfs)) if dfs else 0.0
            ),
            "wall_sec": time.time() - t0,
        }
        _write_manifest(base, g, cfg_hash, stats, use_jvm_tokenizer, metrics)
        for k in totals:
            totals[k] += metrics[k]
    return {"groups": bucket_groups, **totals, "n_docs": stats["n_docs"],
            "avgdl": stats["avgdl"]}


def build_sharded_index(
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    config: BM25Config = DEFAULT_CONFIG,
    bucket_groups: int = 4,
    resume: bool = True,
    use_jvm_tokenizer: bool = False,
    _fail_after_groups: Optional[int] = None,
) -> dict:
    """Build (or resume) the physical index. Returns build metrics.

    A fresh build (``out_dir`` missing or empty) of a local relation
    of at most reader.MAX_POINT_IDS rows runs on the driver
    (_build_on_driver) and launches no Spark job; a doc_id repeated in
    it raises ValueError before anything is written. Any other input,
    and every resume, runs the Spark path below (it does not check
    for repeated ids: that would cost a stage).

    ``_fail_after_groups`` is a test hook that aborts mid-build to
    exercise the resume path.
    """
    base = Path(out_dir)
    cfg_hash = _config_hash(config)
    fresh = not base.exists() or not any(base.iterdir())
    local = None
    if fresh and _fail_after_groups is None:
        from bm25_chroma_spark.index import reader
        from bm25_chroma_spark.index.dml import (
            _check_unique_ids,
            _collect_local,
        )

        local = _collect_local(docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        ), reader.MAX_POINT_IDS)
        if local is not None:
            _check_unique_ids(local[0])
    (base / "manifests").mkdir(parents=True, exist_ok=True)
    if local is not None:
        return _build_on_driver(
            base, *local, config, bucket_groups, cfg_hash, use_jvm_tokenizer
        )
    spark = docs.sparkSession

    from pyspark.sql import Observation

    stats_path = base / "stats.json"
    if resume and stats_path.exists():
        stats = json.loads(stats_path.read_text())
        if stats["config_hash"] != cfg_hash:
            raise ValueError("resume with different config")
        need_stats = False
    else:
        stats = None
        need_stats = True

    # which groups still need building (decided up front so a fully
    # complete resume touches no data at all)
    totals = {"postings": 0, "terms": 0, "bytes": 0, "wall_sec": 0.0}
    pending: List[int] = []
    for g in range(bucket_groups):
        man_path = base / "manifests" / f"group_{g}.json"
        if resume and man_path.exists():
            man = json.loads(man_path.read_text())
            if man.get("status") == "complete" and man.get(
                "config_hash"
            ) == cfg_hash:
                for k in ("postings", "terms", "bytes"):
                    totals[k] += man["metrics"][k]
                continue
        pending.append(g)

    # ONE python pass over the corpus: tokenize + tf + map-side
    # partial postings per (term, segment), with doc-stat sentinel
    # rows in the same output. The pass is MATERIALIZED to a partials
    # table (bucket-sorted within partitions for row-group pruning)
    # rather than cached: at 10^12-file scale the partials dataset is
    # corpus-sized — a cache is a non-starter, a compressed columnar
    # table is exactly what downstream group jobs (bucket-pruned
    # reads) and crash-resume (tokenize never re-runs) want. The wide
    # shuffle after it moves ~1 row per (partition, term, segment)
    # carrying packed arrays — two orders of magnitude fewer rows
    # than exploding per token occurrence. Bucket uses crc32 (Python
    # zlib.crc32 matches, so the driver can prune buckets for query
    # terms without a JVM round-trip).
    part_dir = base / "partials.parquet"
    pman_path = base / "manifests" / "partials.json"
    need_doc_stats = need_stats or not (
        base / "doc_stats.parquet" / "_SUCCESS"
    ).exists()
    need_partials = bool(pending) or need_stats or need_doc_stats

    def _partials_reusable() -> bool:
        # bucket/salt assignment is baked into the partials rows — a
        # config change invalidates them even when stats.json never
        # got written (crash between the two)
        if not (resume and (part_dir / "_SUCCESS").exists()):
            return False
        if not pman_path.exists():
            return False
        return json.loads(
            pman_path.read_text()
        ).get("config_hash") == cfg_hash

    def _sentinel_dl_sum():
        # per-row Σdl of a sentinel's packed dls array (JVM expr)
        return F.aggregate(
            "dls", F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    p_obs = None
    if need_partials and not _partials_reusable():
        # N and Σdl ride the partials write via observe(): corpus
        # stats cost no extra pass/job at all
        p_obs = Observation("partials_stats")
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        ).mapInPandas(
            _map_docs_to_partials(
                config.num_term_buckets, config.salt_factor
            ),
            schema=_PARTIAL_DDL,
        ).sortWithinPartitions("bucket").observe(
            p_obs,
            F.sum(
                F.when(F.col("bucket") == -1, F.size("doc_ids"))
            ).alias("n"),
            F.sum(
                F.when(F.col("bucket") == -1, _sentinel_dl_sum())
            ).alias("sum_dl"),
        ).write.mode("overwrite").parquet(str(part_dir))
        pman_path.write_text(
            json.dumps({"status": "complete", "config_hash": cfg_hash})
        )
    raw = spark.read.parquet(str(part_dir)) if need_partials else None

    if need_stats:
        if p_obs is not None:
            row = p_obs.get
        else:  # partials reused from a crashed run: cheap pruned agg
            row = raw.filter(F.col("bucket") == -1).agg(
                F.sum(F.size("doc_ids")).alias("n"),
                F.sum(_sentinel_dl_sum()).alias("sum_dl"),
            ).collect()[0]
        n_docs = int(row["n"] or 0)
        sum_dl = int(row["sum_dl"] or 0)
        stats = _stats(config, cfg_hash, n_docs, sum_dl)
        stats_path.write_text(json.dumps(stats, indent=2))

    def _write_doc_stats() -> None:
        raw.filter(F.col("bucket") == -1).select(
            F.explode(F.arrays_zip("doc_ids", "dls")).alias("z")
        ).select(
            F.col("z.doc_ids").alias("doc_id"),
            F.col("z.dls").cast("int").alias("dl"),
        ).write.mode("overwrite").parquet(
            str(base / "doc_stats.parquet")
        )

    partials = (
        raw.filter(F.col("bucket") >= 0) if raw is not None else None
    )
    block_size = config.block_size

    # Build cap (reference bm25.py:190-191): materialize the per-term
    # keep-thresholds once (tiny — one row per over-cap term) so every
    # group job broadcast-joins them; the encode UDF applies the keep
    # predicate per segment. This makes the sharded path honor the
    # reference's tf-ordered build cap physically — the query-path
    # guard then only covers the query-time cap. Lossless (cap=None)
    # stays the at-scale mode; capped mode is reference parity.
    thr_df = None
    # resumed LEGACY builds (stats on disk without the
    # build_cap_enforced marker) stored earlier groups uncapped;
    # capping only the pending groups would mix semantics — keep the
    # whole index legacy (query-time refusal covers it)
    cap_build = need_stats or bool(stats.get("build_cap_enforced"))
    if (
        config.max_postings_per_term
        and cap_build
        and pending
        and partials is not None
    ):
        thr_pdf = _cap_thresholds(
            partials, config.max_postings_per_term
        ).toPandas()
        thr_df = spark.createDataFrame(
            thr_pdf, "term string, thr_tf string, thr_doc string"
        ) if len(thr_pdf) else None

    def _build_group(g: int) -> dict:
        """One bucket group: merge+encode+write with metrics observed
        during the write (single job), manifest on completion."""
        t0 = time.time()
        part = partials.filter(
            F.pmod(F.col("bucket"), F.lit(bucket_groups)) == g
        )
        if thr_df is not None:
            part = part.join(F.broadcast(thr_df), "term", "left")
        obs = Observation(f"group_{g}_metrics")
        shards = part.groupBy("bucket", "segment").applyInPandas(
            lambda pdf: _merge_encode_bucket_segment(pdf, block_size),
            schema=SHARD_DDL,
        ).observe(
            obs,
            F.sum("df").alias("postings"),
            # observe() forbids distinct aggs; HLL estimate is fine
            # for a monitoring metric
            F.approx_count_distinct("term", 0.01).alias("terms"),
            (
                F.sum(F.length("doc_bytes"))
                + F.sum(F.length("tf_bytes"))
                + F.sum(F.length("dl_bytes"))
            ).alias("bytes"),
            F.max("df").alias("max_seg_df"),
            F.avg("df").alias("avg_seg_df"),
        )
        gdir = base / "shards" / f"group={g}"
        shards.write.mode("overwrite").partitionBy("bucket").parquet(
            str(gdir)
        )
        m = obs.get
        return _write_manifest(base, g, cfg_hash, stats, use_jvm_tokenizer, {
            "postings": int(m["postings"] or 0),
            "terms": int(m["terms"] or 0),
            "bytes": int(m["bytes"] or 0),
            "skew_ratio": (
                float(m["max_seg_df"] / m["avg_seg_df"])
                if m["avg_seg_df"]
                else 0.0
            ),
            "wall_sec": time.time() - t0,
        })

    manifests: List[dict] = []
    if _fail_after_groups is not None:
        # test hook: deterministic sequential order with injected crash
        if need_doc_stats:
            _write_doc_stats()
        done_groups = 0
        for g in pending:
            if done_groups >= _fail_after_groups:
                raise RuntimeError(f"injected failure before group {g}")
            manifests.append(_build_group(g))
            done_groups += 1
    elif pending or need_doc_stats:
        # groups (and the doc_stats write) are independent jobs:
        # submit them concurrently so one job's driver-side tail
        # (task scheduling, manifest write) overlaps another's
        # compute instead of serializing
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(len(pending) + 1, 8)
        ) as pool:
            ds_future = (
                pool.submit(_write_doc_stats) if need_doc_stats else None
            )
            manifests = list(pool.map(_build_group, pending))
            if ds_future is not None:
                ds_future.result()
    for manifest in manifests:
        for k in ("postings", "terms", "bytes"):
            totals[k] += manifest["metrics"][k]
        totals["wall_sec"] += manifest["metrics"]["wall_sec"]

    # all groups complete -> the partials table has served its purpose
    # (it exists for group fan-out and crash-resume); drop it
    import shutil as _shutil

    all_complete = all(
        (base / "manifests" / f"group_{g}.json").exists()
        for g in range(bucket_groups)
    )
    if all_complete and part_dir.exists():
        _shutil.rmtree(part_dir, ignore_errors=True)
    return {"groups": bucket_groups, **totals, "n_docs": stats["n_docs"],
            "avgdl": stats["avgdl"]}


class ShardedIndex:
    """Query handle over a built shard directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = Path(path)
        self.refresh()

    def refresh(self) -> "ShardedIndex":
        """Re-read stats.json (N/avgdl/generation move under DML) and
        drop cached scan plans (their file listings go stale). Runs
        crash recovery first (recover_index): finishes a committed
        compaction and reconciles stats with rename-committed DML
        generations — on a clean index that is a marker check plus a
        directory glob."""
        from bm25_chroma_spark.index.dml import recover_index

        stats = recover_index(self.spark, self.path)
        self.n_docs: int = stats["n_docs"]
        self.avgdl: float = stats["avgdl"]
        self.generation: int = int(stats.get("generation", 0))
        # False for legacy indexes whose build stored postings
        # uncapped: their query path refuses a binding build cap
        # (search_sharded) and DML must not re-cap (apply_dml)
        self.build_cap_physical: bool = bool(
            stats.get("build_cap_enforced", False)
        )
        self.config = BM25Config(**stats["config"])
        self._scan_cache: dict = {}
        # per-term global df cache used by search_sharded's guard /
        # auto routing; DML moves dfs, so it lives and dies with the
        # scan cache
        self._df_cache: dict = {}
        # bounded LRU of driver-resident posting rows (see
        # postings_rows): repeat interactive queries against an
        # unchanged generation skip the parquet scan + decode job
        # entirely. Cleared here AND generation-tagged per entry so a
        # stale handle can never serve rows across a DML generation.
        from collections import OrderedDict

        self._postings_cache: "OrderedDict" = OrderedDict()
        self._postings_cache_used: int = 0
        return self

    def _scan(self, key, make) -> DataFrame:
        """Per-index cache of scan DataFrames: re-listing parquet
        files for every query costs a driver roundtrip; the lazy plan
        (and its file index) is reusable until refresh()."""
        df = self._scan_cache.get(key)
        if df is None:
            df = make()
            self._scan_cache[key] = df
        return df

    def shards_for_terms(self, terms: List[str]) -> DataFrame:
        """Scan only the buckets/groups the query terms hash to —
        directory-level pruning (group dirs + bucket partition) plus
        parquet row-group pushdown on term. DML generations overlay
        the base build: newest (term, segment) row wins, df=0
        tombstones drop out."""
        cfg = self.config
        buckets = sorted({bucket_of(t, cfg.num_term_buckets) for t in terms})
        return self._pruned_overlay(
            buckets, lambda df: df.filter(F.col("term").isin(terms))
        )

    def shards_for_terms_df(self, terms_df: DataFrame) -> DataFrame:
        """shards_for_terms with the term set staying DISTRIBUTED (for
        DML batches whose vocabulary may be large): only the bucket
        list — bounded by num_term_buckets — reaches the driver for
        directory pruning; term membership is a broadcast semi join
        instead of an isin expression tree."""
        cfg = self.config
        tb = terms_df.select("term").distinct().withColumn(
            "bucket",
            F.pmod(
                F.crc32(F.encode(F.col("term"), "utf-8")),
                F.lit(cfg.num_term_buckets),
            ).cast("int"),
        )
        buckets = sorted(
            r["bucket"] for r in tb.select("bucket").distinct().collect()
        )
        if not buckets:
            return self.spark.createDataFrame([], SHARD_DDL)
        narrow_terms = F.broadcast(tb.select("term"))
        return self._pruned_overlay(
            buckets, lambda df: df.join(narrow_terms, "term", "left_semi")
        )

    def _pruned_overlay(self, buckets: List[int], narrow) -> DataFrame:
        """Read base + DML generations for the given buckets, apply the
        ``narrow`` term filter to every layer, overlay newest-wins per
        (term, segment), and drop df=0 tombstones."""
        n_groups = _groups(self.path)
        groups = sorted({b % n_groups for b in buckets})
        paths = [str(self.path / "shards" / f"group={g}") for g in groups]
        # explicit schema: no footer-sniffing job, and a group whose
        # dir holds zero data files (tiny/skewed vocabulary, or every
        # row deleted then compacted) reads as empty instead of
        # failing schema inference
        df = self._scan(
            ("base", tuple(groups)),
            lambda: self.spark.read.option(
                "basePath", str(self.path / "shards")
            )
            .schema(SHARD_SCAN_DDL)
            .parquet(*paths)
            .drop("group"),
        )
        base = narrow(df.filter(F.col("bucket").isin(buckets))).select(
            "bucket", "term", "segment", "df", "doc_bytes", "tf_bytes",
            "dl_bytes", "blocks", F.lit(0).alias("gen"),
        )
        gen_root = self.path / "gen"
        parts = [base]
        if gen_root.exists():
            for d in sorted(gen_root.glob("gen_*")):
                if not (d / "shards").exists():
                    continue
                g = int(d.name.split("_")[1])
                gen_df = self._scan(
                    ("gen", g),
                    lambda p=str(d / "shards"): self.spark.read.schema(
                        SHARD_DDL
                    ).parquet(p),
                )
                parts.append(
                    narrow(
                        gen_df.filter(F.col("bucket").isin(buckets))
                    ).select(
                        "bucket", "term", "segment", "df", "doc_bytes",
                        "tf_bytes", "dl_bytes", "blocks",
                        F.lit(g).alias("gen"),
                    )
                )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        if len(parts) > 1:
            from pyspark.sql import Window

            w = Window.partitionBy("term", "segment").orderBy(F.desc("gen"))
            u = (
                u.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        return u.filter(F.col("df") > 0).drop("gen")

    def doc_stats(self) -> DataFrame:
        return self._scan(
            ("doc_stats",),
            lambda: self.spark.read.parquet(
                str(self.path / "doc_stats.parquet")
            ),
        )

    def term_dfs(self, terms: List[str]) -> DataFrame:
        """Global df per term = sum over segments (capped like the
        reference if a cap is configured)."""
        agg = (
            self.shards_for_terms(terms)
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        cap = self.config.max_postings_per_term
        if cap:
            agg = agg.withColumn("df", F.least(F.col("df"), F.lit(cap)))
        return agg

    # ---- driver-resident postings cache (warm interactive path) ----
    #
    # A single interactive query at any corpus size pays the full
    # Spark job floor (scan + mapInPandas decode + 2 shuffles +
    # window ≈ 1.2-2.0 s at sf0.1) where the reference answers from an
    # in-memory dict. The classic search-engine answer is a bounded
    # hot-term cache: keep the COMPRESSED posting rows of recently
    # queried terms on the driver and run the scoring kernel locally
    # (index/wand.py _run_local) — identical results (the distributed
    # plan runs the same kernel per segment), zero Spark jobs when
    # warm, and zero on a miss too while the driver-side reader
    # (index/reader.py) can serve it: postings_cache_bytes also
    # bounds the column chunks the reader may decode, above which a
    # miss is one Spark collect.
    # A term whose rows exceed the whole budget is fetched and served
    # ONCE, then cached as a too-big marker that postings_cacheable()
    # reads to keep it off the driver path while the generation holds
    # (the per-query est_work gate in search_sharded bounds what can
    # reach here in the first place); the budget bounds resident
    # driver memory, LRU keeps it hot, and every entry carries the
    # index generation so DML can never be served stale rows.
    postings_cache_bytes: int = 256 << 20

    def postings_cacheable(self, terms: List[str]) -> bool:
        """False when any term carries a current-generation too-big
        marker (its rows exceeded postings_cache_bytes on a prior
        fetch). The driver-path gate checks this BEFORE committing to
        it, so hot oversized terms stay distributed instead of paying
        a driver collect on every query."""
        gen = self.generation
        for t in terms:
            hit = self._postings_cache.get(t)
            if hit is not None and hit[0] == gen and hit[2] is None:
                return False
        return True

    def _evict_postings(self) -> None:
        cache = self._postings_cache
        while self._postings_cache_used > self.postings_cache_bytes and cache:
            _, (_, nb, _) = cache.popitem(last=False)
            self._postings_cache_used -= nb

    def postings_rows(self, terms: List[str]) -> Dict[str, list]:
        """Driver-side posting rows per term (one row per live
        (term, segment) after the DML overlay), served from the LRU
        cache when the entry's generation matches. Misses are read by
        the driver-side parquet reader (index/reader.py: same files,
        pruning and overlay, zero Spark jobs) when their column chunks
        fit postings_cache_bytes, and by ONE bucket-pruned Spark
        collect above that. Unknown terms cache as empty lists so they
        never re-trigger a read. A term whose rows exceed the whole
        budget is served but cached as a too-big marker (rows=None) so
        postings_cacheable() can route it distributed."""
        from bm25_chroma_spark.index.reader import shard_rows

        gen = self.generation
        cache = self._postings_cache
        # run eviction on EVERY call, not only inside the miss branch:
        # lowering postings_cache_bytes at runtime must take effect on
        # the next access, not linger until the next cache miss
        self._evict_postings()
        out: Dict[str, list] = {}
        missing: List[str] = []
        for t in terms:
            hit = cache.get(t)
            if hit is not None and hit[0] == gen and hit[2] is not None:
                cache.move_to_end(t)
                out[t] = hit[2]
            else:
                missing.append(t)
        if missing:
            read = shard_rows(self, missing)
            if read is None:
                read = [
                    r.asDict(recursive=True)
                    for r in self.shards_for_terms(missing).collect()
                ]
            fetched: Dict[str, list] = {t: [] for t in missing}
            for r in read:
                fetched[r["term"]].append(
                    _CachedShardRow(
                        term=r["term"],
                        segment=int(r["segment"]),
                        df=int(r["df"]),
                        doc_bytes=bytes(r["doc_bytes"]),
                        tf_bytes=bytes(r["tf_bytes"]),
                        dl_bytes=bytes(r["dl_bytes"]),
                        blocks=tuple(r["blocks"]),
                    )
                )
            for t, rows in fetched.items():
                nbytes = sum(
                    len(x.doc_bytes) + len(x.tf_bytes) + len(x.dl_bytes)
                    + 64 * len(x.blocks) + 128
                    for x in rows
                ) + 64
                old = cache.pop(t, None)
                if old is not None:
                    self._postings_cache_used -= old[1]
                if nbytes <= self.postings_cache_bytes:
                    cache[t] = (gen, nbytes, rows)
                    self._postings_cache_used += nbytes
                else:
                    # too-big marker: zero accounted bytes, rows=None;
                    # evictable like any entry, read by
                    # postings_cacheable() to keep this term off the
                    # driver path while the generation holds
                    cache[t] = (gen, 0, None)
                self._evict_postings()
                out[t] = rows
        return out


class _CachedShardRow:
    """Plain driver-side shard row; attribute layout matches what
    index/wand.py's _score_topk reads off Arrow itertuples rows."""

    __slots__ = (
        "term", "segment", "df", "doc_bytes", "tf_bytes", "dl_bytes",
        "blocks",
    )

    def __init__(self, term, segment, df, doc_bytes, tf_bytes, dl_bytes,
                 blocks):
        self.term = term
        self.segment = segment
        self.df = df
        self.doc_bytes = doc_bytes
        self.tf_bytes = tf_bytes
        self.dl_bytes = dl_bytes
        self.blocks = blocks


def _groups(base: Path) -> int:
    return len(list((base / "manifests").glob("group_*.json")))


def bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side mirror of the build's bucket assignment
    (pmod(crc32(utf8(term)), n_buckets))."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def decode_shards_to_postings(shards: DataFrame) -> DataFrame:
    """mapInPandas decode: shard rows -> (term, segment, doc_id, tf, dl).

    The exhaustive query path and the distributed DML merge; also the
    golden check for the codec at scale. Each Arrow batch decodes as
    one slice (encode.decode_flat_slice).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from bm25_chroma_spark.index.encode import decode_flat_slice

        for pdf in batches:
            if pdf.empty:
                continue
            per_row, d, t, l = decode_flat_slice(
                pdf["doc_bytes"].tolist(), pdf["tf_bytes"].tolist(),
                pdf["dl_bytes"].tolist(), pdf["blocks"].tolist(),
            )
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(), per_row),
                    "segment": np.repeat(pdf["segment"].to_numpy(), per_row),
                    "doc_id": d,
                    "tf": t,
                    "dl": l,
                }
            )

    return shards.mapInPandas(
        gen, schema="term string, segment int, doc_id long, tf long, dl long"
    )

"""Posting-list compression: delta + LEB128 varint + block-max metadata.

Pure numpy (vectorized; no per-posting Python loops) so it runs inside
Arrow-batched applyInPandas workers at full speed.

Layout per (term, segment):
  doc_ids : sorted ascending, delta-encoded with a restart at every
            block boundary (first delta of a block is relative to the
            block's ``first_doc`` metadata), then varint-packed.
  tfs     : varint-packed raw values.
  dls     : varint-packed raw values (per-posting doc length,
            denormalized — the reference does O(1) length lookups,
            /root/reference/bm25_chroma/bm25.py:287).
  blocks  : per block of ``block_size`` postings:
            (first_doc, n, max_tf, min_dl, doc_off, tf_off, dl_off)
            byte offsets allow decoding any block independently.

Block-max bound: BM25-with-Solr-norm is monotone increasing in tf and
decreasing in dl, so idf * f(max_tf, min_dl) upper-bounds every
posting in the block for ANY (N, avgdl) — the bound survives segment
merges and corpus growth, unlike storing a precomputed max score.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Sequence, Tuple

import numpy as np

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * i) for i in range(1, 10)]


def varint_encode(values: np.ndarray) -> Tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array. Returns (bytes, per-value byte
    lengths) — lengths let callers compute block byte offsets."""
    arr = np.asarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nb = np.ones(arr.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nb += arr >= t
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    for shift in range(10):
        mask = nb > shift
        if not mask.any():
            break
        chunk = (arr[mask] >> np.uint64(7 * shift)) & np.uint64(0x7F)
        cont = (nb[mask] > shift + 1).astype(np.uint8) << 7
        out[starts[mask] + shift] = chunk.astype(np.uint8) | cont
    return out.tobytes(), nb


# bytes decoded per pass: the per-byte pass below holds ~50 bytes of
# temporaries per input byte, so a long stream (a whole-slice decode of
# full-range doc ids, ~9 bytes per delta) is cut at value boundaries
_DECODE_CHUNK = 1 << 14


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a full LEB128 stream back to uint64."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size <= _DECODE_CHUNK:
        return _varint_decode_pass(b)
    ends = np.flatnonzero(b < 0x80) + 1  # one past each value's end
    cuts = np.unique(ends[np.searchsorted(
        ends, np.arange(_DECODE_CHUNK, b.size, _DECODE_CHUNK), "right"
    ) - 1])
    bounds = np.concatenate(([0], cuts[cuts < b.size], [b.size]))
    return np.concatenate([
        _varint_decode_pass(b[s:e]) for s, e in zip(bounds[:-1], bounds[1:])
    ])


def _varint_decode_pass(b: np.ndarray) -> np.ndarray:
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    terminal = (b & 0x80) == 0
    # position of each byte within its value
    idx = np.arange(b.size, dtype=np.int64)
    # value id per byte; value starts = byte after each terminal
    val_id = np.concatenate(([0], np.cumsum(terminal)[:-1]))
    starts = np.flatnonzero(np.concatenate(([True], terminal[:-1])))
    pos_in_val = idx - starts[val_id]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * pos_in_val.astype(np.uint64)
    )
    return np.add.reduceat(contrib, starts)


@dataclass
class EncodedPostings:
    doc_bytes: bytes
    tf_bytes: bytes
    dl_bytes: bytes
    blocks: List[dict]  # first_doc, n, max_tf, min_dl, *_off
    count: int


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = 128,
) -> EncodedPostings:
    """doc_ids must be sorted ascending and unique within the segment."""
    n = len(doc_ids)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    if n == 0:
        return EncodedPostings(b"", b"", b"", [], 0)
    if n > 1 and not (doc_ids[1:] > doc_ids[:-1]).all():
        raise ValueError("doc_ids must be strictly increasing")

    starts = np.arange(0, n, block_size, dtype=np.int64)
    deltas = np.empty(n, dtype=np.uint64)
    # int64 wraparound subtraction == correct delta mod 2^64: doc ids
    # may span the full signed range (e.g. xxhash64 ids), so deltas
    # and reconstruction work in modular uint64 arithmetic throughout
    with np.errstate(over="ignore"):
        deltas[1:] = (
            doc_ids[1:].view(np.uint64) - doc_ids[:-1].view(np.uint64)
        )
    deltas[starts] = 0  # restart: first of block relative to first_doc

    doc_bytes, doc_lens = varint_encode(deltas)
    tf_bytes, tf_lens = varint_encode(tfs.astype(np.uint64))
    dl_bytes, dl_lens = varint_encode(dls.astype(np.uint64))

    doc_offs = np.concatenate(([0], np.cumsum(doc_lens)))
    tf_offs = np.concatenate(([0], np.cumsum(tf_lens)))
    dl_offs = np.concatenate(([0], np.cumsum(dl_lens)))

    blocks = []
    for s in starts:
        e = min(s + block_size, n)
        blocks.append(
            {
                "first_doc": int(doc_ids[s]),
                "n": int(e - s),
                "max_tf": int(tfs[s:e].max()),
                "min_dl": int(dls[s:e].min()),
                "doc_off": int(doc_offs[s]),
                "tf_off": int(tf_offs[s]),
                "dl_off": int(dl_offs[s]),
            }
        )
    return EncodedPostings(doc_bytes, tf_bytes, dl_bytes, blocks, n)


def _docs_from_deltas(first_doc: int, deltas_u64: np.ndarray) -> np.ndarray:
    """first_doc + prefix-sum of deltas in modular uint64 arithmetic,
    viewed back as signed int64 (handles ids across the full range)."""
    base = np.uint64(np.int64(first_doc).view(np.uint64))
    with np.errstate(over="ignore"):
        acc = base + np.cumsum(deltas_u64, dtype=np.uint64)
    return acc.view(np.int64)


def decode_all(enc_doc: bytes, enc_tf: bytes, enc_dl: bytes,
               blocks: List[dict]) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode the full segment back to (doc_ids, tfs, dls)."""
    deltas = varint_decode(enc_doc)
    tfs = varint_decode(enc_tf).astype(np.int64)
    dls = varint_decode(enc_dl).astype(np.int64)
    doc_ids = np.empty(len(deltas), dtype=np.int64)
    pos = 0
    for blk in blocks:
        e = pos + blk["n"]
        doc_ids[pos:e] = _docs_from_deltas(
            blk["first_doc"], deltas[pos:e]
        )
        pos = e
    return doc_ids, tfs, dls


def decode_flat_slice(
    doc_bytes: Sequence[bytes],
    tf_bytes: Sequence[bytes],
    dl_bytes: Sequence[bytes],
    blocks: Sequence[Sequence[dict]],
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Whole-slice decode of many shard rows at once, the mirror of
    the build's _encode_flat_slice: each stream is ONE varint_decode
    over the rows' concatenated bytes (a row's stream ends on a value
    boundary, so concatenation keeps every value intact), and doc ids
    are ONE segmented cumsum restarted at each block's first_doc.
    Returns (postings per row, doc_ids, tfs, dls), the postings in row
    order — identical to decode_all per row."""
    n_blk = np.fromiter(
        (len(b) for b in blocks), dtype=np.int64, count=len(blocks)
    )
    flat = [blk for row in blocks for blk in row]
    first = np.fromiter(
        (b["first_doc"] for b in flat), dtype=np.int64, count=len(flat)
    )
    sizes = np.fromiter(
        (b["n"] for b in flat), dtype=np.int64, count=len(flat)
    )
    deltas = varint_decode(b"".join(doc_bytes))
    tfs = varint_decode(b"".join(tf_bytes)).astype(np.int64)
    dls = varint_decode(b"".join(dl_bytes)).astype(np.int64)
    n = int(sizes.sum())
    if not (len(deltas) == len(tfs) == len(dls) == n):
        raise ValueError("posting streams disagree with block sizes")
    per_row = np.bincount(
        np.repeat(np.arange(len(blocks)), n_blk), weights=sizes,
        minlength=len(blocks),
    ).astype(np.int64)
    # doc = first_doc + (inclusive cumsum - cumsum before the block),
    # in modular uint64 like _docs_from_deltas (every block has n >= 1)
    with np.errstate(over="ignore"):
        cs = np.cumsum(deltas, dtype=np.uint64)
        base = first.view(np.uint64) - (cs - deltas)[np.cumsum(sizes) - sizes]
        doc_ids = (cs + np.repeat(base, sizes)).view(np.int64)
    return per_row, doc_ids, tfs, dls


def decode_block(enc_doc: bytes, enc_tf: bytes, enc_dl: bytes,
                 blk: dict, next_offs: Tuple[int, int, int]
                 ) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a single block independently (for WAND skipping)."""
    d_end, t_end, l_end = next_offs
    deltas = varint_decode(enc_doc[blk["doc_off"]:d_end])
    tfs = varint_decode(enc_tf[blk["tf_off"]:t_end]).astype(np.int64)
    dls = varint_decode(enc_dl[blk["dl_off"]:l_end]).astype(np.int64)
    return _docs_from_deltas(blk["first_doc"], deltas), tfs, dls


def block_upper_bound(max_tf: float, min_dl: float, idf: float,
                      k1: float, b: float, avgdl: float) -> float:
    """idf * f(max_tf, min_dl): valid upper bound on any posting's
    BM25-with-Solr-norm contribution in the block (monotone in tf up,
    dl down)."""
    denom = max_tf + k1 * (1.0 - b + b * min_dl / avgdl)
    return idf * (max_tf * (k1 + 1.0)) / denom / np.sqrt(min_dl)

"""Property tests for the varint/delta/block-max codec."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bm25_chroma_spark.index.encode import (
    block_upper_bound,
    decode_all,
    decode_block,
    decode_flat_slice,
    encode_postings,
    varint_decode,
    varint_encode,
)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    buf, lens = varint_encode(arr)
    assert len(buf) == int(lens.sum())
    out = varint_decode(buf)
    assert out.tolist() == values


def test_varint_boundaries():
    edges = [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21,
             2**28, 2**35, 2**42, 2**49, 2**56, 2**63 - 1]
    buf, _ = varint_encode(np.array(edges, dtype=np.uint64))
    assert varint_decode(buf).tolist() == edges


def test_varint_decode_long_stream_in_chunks():
    """A stream longer than one decode pass (_DECODE_CHUNK bytes) is
    cut at value boundaries; every value still round-trips, whatever
    its byte length."""
    from bm25_chroma_spark.index import encode

    rng = np.random.default_rng(3)
    bits = rng.integers(0, 64, size=40_000).astype(np.uint64)
    values = rng.integers(0, 2**63, size=40_000, dtype=np.uint64) >> (
        np.uint64(63) - np.minimum(bits, np.uint64(63))
    )
    buf, _ = varint_encode(values)
    assert len(buf) > 4 * encode._DECODE_CHUNK
    np.testing.assert_array_equal(varint_decode(buf), values)


@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=0),
)
@settings(max_examples=50, deadline=None)
def test_postings_roundtrip(n, block_size, seed):
    rng = np.random.RandomState(seed % 2**31)
    doc_ids = np.cumsum(rng.randint(1, 10_000, size=n)).astype(np.int64)
    tfs = rng.randint(1, 500, size=n).astype(np.int64)
    dls = rng.randint(1, 100_000, size=n).astype(np.int64)
    enc = encode_postings(doc_ids, tfs, dls, block_size=block_size)
    assert enc.count == n
    d, t, l = decode_all(enc.doc_bytes, enc.tf_bytes, enc.dl_bytes, enc.blocks)
    np.testing.assert_array_equal(d, doc_ids)
    np.testing.assert_array_equal(t, tfs)
    np.testing.assert_array_equal(l, dls)

    # per-block independent decode agrees, and block-max bounds hold
    k1, b, avgdl = 1.5, 0.75, float(dls.mean())
    for i, blk in enumerate(enc.blocks):
        if i + 1 < len(enc.blocks):
            nxt = enc.blocks[i + 1]
            ends = (nxt["doc_off"], nxt["tf_off"], nxt["dl_off"])
        else:
            ends = (len(enc.doc_bytes), len(enc.tf_bytes), len(enc.dl_bytes))
        bd, bt, bl = decode_block(
            enc.doc_bytes, enc.tf_bytes, enc.dl_bytes, blk, ends
        )
        s = sum(b2["n"] for b2 in enc.blocks[:i])
        e = s + blk["n"]
        np.testing.assert_array_equal(bd, doc_ids[s:e])
        np.testing.assert_array_equal(bt, tfs[s:e])
        np.testing.assert_array_equal(bl, dls[s:e])
        ub = block_upper_bound(blk["max_tf"], blk["min_dl"], 1.0, k1, b, avgdl)
        scores = (bt * (k1 + 1)) / (bt + k1 * (1 - b + b * bl / avgdl)) / np.sqrt(bl)
        assert (scores <= ub + 1e-12).all()


def test_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_postings(
            np.array([5, 3]), np.array([1, 1]), np.array([1, 1])
        )


def test_empty():
    enc = encode_postings(np.array([]), np.array([]), np.array([]))
    assert enc.count == 0 and enc.blocks == []
    d, t, l = decode_all(enc.doc_bytes, enc.tf_bytes, enc.dl_bytes, enc.blocks)
    assert len(d) == 0


def test_full_range_doc_ids():
    """xxhash64-style ids span the whole signed-64 range; the codec's
    modular uint64 deltas must round-trip across sign boundaries."""
    doc_ids = np.array(
        [-(2**63), -(2**62), -5, 0, 3, 2**40, 2**62, 2**63 - 1],
        dtype=np.int64,
    )
    tfs = np.arange(1, 9, dtype=np.int64)
    dls = np.full(8, 50, dtype=np.int64)
    for bs in (1, 2, 3, 8):
        enc = encode_postings(doc_ids, tfs, dls, block_size=bs)
        d, t, l = decode_all(
            enc.doc_bytes, enc.tf_bytes, enc.dl_bytes, enc.blocks
        )
        np.testing.assert_array_equal(d, doc_ids)
        np.testing.assert_array_equal(t, tfs)


@settings(deadline=None, max_examples=40)
@given(st.integers(0, 2**32), st.sampled_from([1, 3, 8, 128]))
def test_decode_flat_slice_matches_per_row(seed, block_size):
    """The whole-slice decoder returns exactly the per-row decode_all
    arrays, concatenated in row order, with the right per-row counts —
    over full-range (negative, xxhash64-style) ids, multi-block rows
    and empty rows (no bytes, no blocks)."""
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(int(rng.integers(0, 12))):
        n = int(rng.choice([0, 1, int(rng.integers(2, 3 * block_size + 2))]))
        ids = np.unique(
            rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
        )
        enc = encode_postings(
            ids, rng.integers(1, 300, size=len(ids)),
            rng.integers(1, 5000, size=len(ids)), block_size=block_size,
        )
        rows.append(enc)
    per_row, d, t, l = decode_flat_slice(
        [e.doc_bytes for e in rows], [e.tf_bytes for e in rows],
        [e.dl_bytes for e in rows], [e.blocks for e in rows],
    )
    want = [
        decode_all(e.doc_bytes, e.tf_bytes, e.dl_bytes, e.blocks)
        for e in rows
    ]
    assert per_row.tolist() == [e.count for e in rows]
    for got, k in ((d, 0), (t, 1), (l, 2)):
        exp = np.concatenate(
            [w[k] for w in want] + [np.zeros(0, dtype=np.int64)]
        )
        assert got.dtype == np.int64
        np.testing.assert_array_equal(got, exp)


def _ref_merge_encode(pdf, block_size):
    """Per-term reference for the vectorized slice encoder: the exact
    pre-r5 algorithm (concat -> threshold keep -> mergesort ->
    encode_postings per term)."""
    import pandas as pd

    out = []
    bucket = int(pdf["bucket"].iloc[0])
    segment = int(pdf["segment"].iloc[0])
    has_thr = "thr_tf" in pdf.columns
    for term, grp in pdf.groupby("term", sort=False):
        doc_ids = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in grp["doc_ids"]]
        )
        tfs = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in grp["tfs"]]
        )
        dls = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in grp["dls"]]
        )
        if has_thr and not pd.isna(grp["thr_tf"].iloc[0]):
            thr_tf = int(grp["thr_tf"].iloc[0])
            thr_doc = int(grp["thr_doc"].iloc[0])
            keep = (tfs > thr_tf) | ((tfs == thr_tf) & (doc_ids <= thr_doc))
            doc_ids, tfs, dls = doc_ids[keep], tfs[keep], dls[keep]
            if doc_ids.size == 0:
                continue
        order = np.argsort(doc_ids, kind="mergesort")
        enc = encode_postings(
            doc_ids[order], tfs[order], dls[order], block_size=block_size
        )
        out.append(
            (term, enc.count, enc.doc_bytes, enc.tf_bytes, enc.dl_bytes,
             enc.blocks)
        )
    return {t: rest for t, *rest in out}, bucket, segment


@settings(deadline=None, max_examples=40)
@given(st.integers(0, 2**32), st.sampled_from([3, 4, 8, 128]),
       st.booleans())
def test_merge_encode_matches_per_term(seed, block_size, with_thr):
    """The r5 whole-slice vectorized merge-encode must be BYTE
    identical (streams, offsets, block metadata, df) to encoding each
    term independently — including full-range xxhash64-style ids,
    multi-partial terms, multi-block terms, and the build-cap
    threshold keep predicate with string-encoded thresholds."""
    import pandas as pd

    from bm25_chroma_spark.index.shards import _merge_encode_bucket_segment

    rng = np.random.RandomState(seed % 2**31)
    rows = []
    all_posts = {}
    for t in range(rng.randint(1, 12)):
        term = f"t{t:02d}"
        n = rng.randint(1, 40)
        if t % 3 == 0:  # full-range xxhash64-style ids (adjacent gaps
            # can exceed 2**63 — np.diff would wrap; see the
            # comparison-based dup check in _merge_encode)
            pool = np.unique(
                rng.randint(
                    -(2**63), 2**63 - 1, size=n * 4, dtype=np.int64
                )
            )
        else:
            pool = np.arange(0, 10_000, dtype=np.int64)
        ids = rng.choice(pool, size=n, replace=False).astype(np.int64)
        tfs = rng.randint(1, 30, size=n).astype(np.int64)
        dls = rng.randint(1, 500, size=n).astype(np.int64)
        all_posts[term] = (ids, tfs, dls)
        # split into 1-3 partial rows (simulating map-side partitions)
        cuts = sorted(rng.choice(range(1, n), size=min(rng.randint(0, 3), n - 1), replace=False)) if n > 1 else []
        pieces = np.split(np.arange(n), cuts)
        thr = (None, None)
        if with_thr and rng.rand() < 0.5 and n > 3:
            # pick the cap-th posting in (tf desc, id asc) order
            order = np.lexsort((ids, -tfs))
            k = rng.randint(2, n)
            thr = (str(int(tfs[order[k - 1]])), str(int(ids[order[k - 1]])))
        for p in pieces:
            rows.append(
                {
                    "bucket": 7, "term": term, "segment": 2,
                    "doc_ids": ids[p].tolist(),
                    "tfs": tfs[p].tolist(),
                    "dls": dls[p].tolist(),
                    **(
                        {"thr_tf": thr[0], "thr_doc": thr[1]}
                        if with_thr
                        else {}
                    ),
                }
            )
    pdf = pd.DataFrame(rows)
    got = _merge_encode_bucket_segment(pdf, block_size)
    want, bucket, segment = _ref_merge_encode(pdf, block_size)

    got_map = {
        r["term"]: r for _, r in got.iterrows()
    }
    assert set(got_map) == set(want)
    for term, (df, db, tb, lb, blocks) in want.items():
        g = got_map[term]
        assert (g["bucket"], g["segment"]) == (7, 2)
        assert g["df"] == df, term
        assert bytes(g["doc_bytes"]) == db, term
        assert bytes(g["tf_bytes"]) == tb, term
        assert bytes(g["dl_bytes"]) == lb, term
        assert list(g["blocks"]) == blocks, term


def test_merge_encode_rejects_duplicate_ids():
    import pandas as pd

    from bm25_chroma_spark.index.shards import _merge_encode_bucket_segment

    pdf = pd.DataFrame(
        [
            {"bucket": 0, "term": "x", "segment": 0,
             "doc_ids": [5, 9], "tfs": [1, 2], "dls": [3, 3]},
            {"bucket": 0, "term": "x", "segment": 0,
             "doc_ids": [9], "tfs": [4], "dls": [2]},
        ]
    )
    with pytest.raises(ValueError):
        _merge_encode_bucket_segment(pdf, 8)

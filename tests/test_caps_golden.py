"""Cap-binding semantics vs the reference: the build cap truncates
posting lists AND feeds the truncated length into IDF
(bm25.py:56,190-191,305-310); the query cap scores only the first N
postings of the tf-ordered list (bm25.py:283).

Corpora use strictly distinct tf values per term so the reference's
otherwise-underdetermined tie order (SURVEY.md §7 risk 1) is fully
pinned and rank-identity is exact even at the truncation boundary.
"""

from __future__ import annotations

import math

import pytest

from bm25_chroma_spark.config import BM25Config
from bm25_chroma_spark.operators.index_build import build_logical_index
from bm25_chroma_spark.operators.scoring import bm25_score_queries


def _corpus(n_docs: int):
    """Doc i repeats 'hot' i+1 times (distinct tfs) plus filler unique
    words so doc lengths differ."""
    docs = []
    for i in range(n_docs):
        words = ["hot"] * (i + 1) + [f"filler{i}w{j}" for j in range(i % 5)]
        docs.append((i, " ".join(words)))
    return docs


@pytest.mark.parametrize(
    "build_cap,query_cap",
    [(5, None), (None, 4), (6, 3)],
)
def test_caps_rank_identical_to_reference(
    spark, reference_bm25_cls, build_cap, query_cap
):
    docs = _corpus(12)
    ref = reference_bm25_cls(
        max_postings_per_term=build_cap if build_cap else 10**9
    )
    ref.add_chunks_batch([(str(i), t) for i, t in docs])

    # patch the reference's hardcoded query cap when ours differs
    want = {}
    if query_cap is None:
        want_list = ref.search("hot hot", top_k=20)
    else:
        # reproduce reference search with a custom cap: identical loop
        # semantics, only the slice bound changes (bm25.py:283)
        import collections

        scores = collections.defaultdict(float)
        for term in ref._tokenize("hot hot"):
            if term not in ref.inverted_index:
                continue
            idf = ref._compute_idf(term)
            for freq, cidx in ref.inverted_index[term][:query_cap]:
                if ref.chunk_lengths[cidx] == 0:
                    continue
                dl = ref.chunk_lengths[cidx]
                num = freq * (ref.k1 + 1)
                den = freq + ref.k1 * (
                    1 - ref.b + ref.b * dl / ref.avg_chunk_length
                )
                scores[ref.chunk_id_map[cidx]] += (
                    idf * num / den / math.sqrt(dl)
                )
        want_list = sorted(
            scores.items(), key=lambda x: x[1], reverse=True
        )[:20]
    want = {int(cid): s for cid, s in want_list}

    cfg = BM25Config(
        max_postings_per_term=build_cap,
        query_postings_cap=query_cap,
        salt_factor=4,
    )
    sdocs = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_logical_index(sdocs, config=cfg)
    queries = spark.createDataFrame(
        [(1, "hot hot")], "query_id long, query_text string"
    )
    got_rows = bm25_score_queries(queries, idx, top_k=20).collect()
    got = {r["doc_id"]: r["score"] for r in got_rows}

    assert set(got) == set(want)
    for d in want:
        assert math.isclose(got[d], want[d], rel_tol=1e-9), (
            d, got[d], want[d],
        )


def test_sharded_build_cap_rank_identical_to_reference(
    spark, reference_bm25_cls, tmp_path
):
    """The SHARDED path honors the build cap physically (per-term
    global top-cap thresholds applied at encode time): a capped
    sharded index must score rank- AND value-identically to the
    reference with the same cap."""
    from bm25_chroma_spark.index.shards import (
        ShardedIndex,
        build_sharded_index,
    )
    from bm25_chroma_spark.index.wand import search_sharded

    docs = _corpus(12)
    ref = reference_bm25_cls(max_postings_per_term=5)
    ref.add_chunks_batch([(str(i), t) for i, t in docs])
    want = {int(c): s for c, s in ref.search("hot hot", top_k=20)}

    cfg = BM25Config(
        max_postings_per_term=5,
        query_postings_cap=None,
        num_term_buckets=4,
        salt_factor=3,
        block_size=4,
    )
    sdocs = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "capped_idx")
    build_sharded_index(sdocs, out, config=cfg, bucket_groups=2)
    idx = ShardedIndex(spark, out)

    # stored df is the capped df (feeds IDF like the reference)
    from pyspark.sql import functions as F

    df_hot = (
        idx.shards_for_terms(["hot"])
        .agg(F.sum("df").alias("df"))
        .collect()[0]["df"]
    )
    assert df_hot == 5

    for strategy in ("exhaustive", "auto"):
        got = {
            r["doc_id"]: r["score"]
            for r in search_sharded(
                idx, [(1, "hot hot")], top_k=20, strategy=strategy
            ).collect()
        }
        assert set(got) == set(want), strategy
        for d in want:
            assert math.isclose(got[d], want[d], rel_tol=1e-9), (
                strategy, d, got[d], want[d],
            )


def test_sharded_build_cap_dml_matches_reference(
    spark, reference_bm25_cls, tmp_path
):
    """Cap semantics under DML: postings evicted by an earlier
    truncation never come back on delete, and an add re-truncates the
    merged list — both exactly as the reference's flush does
    (bm25.py:176-195, 227-258)."""
    from bm25_chroma_spark.index.dml import apply_dml
    from bm25_chroma_spark.index.shards import (
        ShardedIndex,
        build_sharded_index,
    )
    from bm25_chroma_spark.index.wand import search_sharded

    docs = _corpus(12)
    ref = reference_bm25_cls(max_postings_per_term=5)
    ref.add_chunks_batch([(str(i), t) for i, t in docs])

    cfg = BM25Config(
        max_postings_per_term=5,
        query_postings_cap=None,
        num_term_buckets=4,
        salt_factor=3,
        block_size=4,
    )
    sdocs = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "capped_dml_idx")
    build_sharded_index(sdocs, out, config=cfg, bucket_groups=2)

    # delete doc 11 (tf 12 — INSIDE the capped top-5 of 'hot'): the
    # reference does not backfill from evicted postings, nor do we
    ref.remove_chunk("11")
    apply_dml(
        spark,
        out,
        delete_docs=spark.createDataFrame(
            [docs[11]], "doc_id long, text string"
        ),
    )
    # add a new doc with a mid tf: reference merges + re-truncates
    new_doc = (50, " ".join(["hot"] * 9 + ["fresh"]))
    ref.add_chunks_batch([(str(new_doc[0]), new_doc[1])])
    apply_dml(
        spark,
        out,
        upserts=spark.createDataFrame([new_doc], "doc_id long, text string"),
    )

    want = {int(c): s for c, s in ref.search("hot hot", top_k=20)}
    idx = ShardedIndex(spark, out)
    got = {
        r["doc_id"]: r["score"]
        for r in search_sharded(idx, [(1, "hot hot")], top_k=20).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert math.isclose(got[d], want[d], rel_tol=1e-9), (
            d, got[d], want[d],
        )


def test_sharded_build_cap_exact_for_huge_doc_ids(spark, tmp_path):
    """Cap thresholds must survive the Arrow nullable-long -> float64
    conversion LOSSLESSLY (they travel as strings): with xxhash64-
    scale doc ids (> 2^53, float64 ulp here is 1024!) and tf ties at
    the cap boundary, the kept set is decided by doc_id <= thr_doc —
    a float-rounded threshold keeps/drops the wrong postings."""
    from pyspark.sql import functions as F

    from bm25_chroma_spark.index.shards import (
        ShardedIndex,
        build_sharded_index,
        decode_shards_to_postings,
    )

    B = 4611686018427387904  # 2^62: float64(B + 57) == B exactly
    ids = [B + 1, B + 2, B + 57, B + 60, B + 100]
    docs = spark.createDataFrame(
        [(i, "hot") for i in ids], "doc_id long, text string"
    )
    cfg = BM25Config(
        max_postings_per_term=3,
        query_postings_cap=None,
        num_term_buckets=2,
        salt_factor=4,
        block_size=2,
    )
    out = str(tmp_path / "hugeid_idx")
    build_sharded_index(docs, out, config=cfg, bucket_groups=1)
    idx = ShardedIndex(spark, out)
    shards = idx.shards_for_terms(["hot"])
    assert shards.agg(F.sum("df")).collect()[0][0] == 3
    kept = {
        r["doc_id"]
        for r in decode_shards_to_postings(shards).collect()
    }
    # (tf desc, doc_id asc) total order with all tf equal -> the 3
    # smallest ids survive, exactly
    assert kept == {B + 1, B + 2, B + 57}


def test_legacy_uncapped_index_still_refuses_binding_build_cap(
    spark, tmp_path
):
    """Indexes built BEFORE physical cap enforcement (stats.json has
    no build_cap_enforced marker) store postings uncapped — querying
    them with a binding build cap must refuse, exactly like r2, never
    silently score uncapped postings against a capped config."""
    import json
    from pathlib import Path

    import pytest as _pytest

    from bm25_chroma_spark.index.shards import (
        ShardedIndex,
        build_sharded_index,
    )
    from bm25_chroma_spark.index.wand import search_sharded

    docs = spark.createDataFrame(
        [(i, "hot word") for i in range(12)], "doc_id long, text string"
    )
    cfg = BM25Config(
        max_postings_per_term=None,  # build stores UNCAPPED postings
        query_postings_cap=None,
        num_term_buckets=2,
        salt_factor=2,
    )
    out = str(tmp_path / "legacy_idx")
    build_sharded_index(docs, out, config=cfg, bucket_groups=1)
    # simulate the legacy on-disk state exactly: config declares a
    # build cap the storage does not honor, and no marker
    sp = Path(out) / "stats.json"
    stats = json.loads(sp.read_text())
    del stats["build_cap_enforced"]
    stats["config"]["max_postings_per_term"] = 5
    sp.write_text(json.dumps(stats))

    idx = ShardedIndex(spark, out)
    assert not idx.build_cap_physical
    with _pytest.raises(NotImplementedError, match="uncapped"):
        search_sharded(idx, [(1, "hot")], top_k=5).collect()


def test_build_cap_feeds_idf(spark, reference_bm25_cls):
    """df used in IDF is the CAPPED list length (reference quirk)."""
    docs = _corpus(10)
    cfg = BM25Config(max_postings_per_term=4, salt_factor=4)
    sdocs = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_logical_index(sdocs, config=cfg)
    row = idx.postings.filter("term = 'hot'").collect()[0]
    assert row["df"] == 4  # not the true df of 10
    # kept postings are the 4 highest-tf docs (tf 10, 9, 8, 7)
    assert [p["tf"] for p in row["postings"]] == [10, 9, 8, 7]

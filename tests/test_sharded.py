"""Physical sharded index: build, prune, decode, resume, engine parity.

Engine equality: the driver path ('auto') returns exactly the
distributed plan's rows and scores ('exhaustive', 'wand'), which in
turn equal the logical (array) path — which the golden suite already
ties to the reference engine.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bm25_chroma_spark.config import BM25Config
from bm25_chroma_spark.index.shards import (
    ShardedIndex,
    build_sharded_index,
    bucket_of,
    decode_shards_to_postings,
)
from bm25_chroma_spark.index.wand import search_sharded, search_sharded_rows
from bm25_chroma_spark.operators.index_build import build_logical_index
from bm25_chroma_spark.operators.scoring import bm25_score_queries
from bm25_chroma_spark.sources.corpus import (
    reference_query_set,
    synth_corpus_rows,
)

N_FILES = 250
CFG = BM25Config(num_term_buckets=8, salt_factor=4, block_size=16)


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = synth_corpus_rows(N_FILES, seed=7)
    return spark.createDataFrame(
        [(i, r[4]) for i, r in enumerate(rows)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def shard_dir(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "shards_v1")
    metrics = build_sharded_index(
        docs_df, out, config=CFG, bucket_groups=3
    )
    assert metrics["postings"] > 0
    return out


@pytest.fixture(scope="module")
def queries_df(spark):
    return spark.createDataFrame(
        reference_query_set(), "query_id long, query_text string"
    )


def test_manifests_and_stats(shard_dir):
    base = Path(shard_dir)
    stats = json.loads((base / "stats.json").read_text())
    assert stats["n_docs"] == N_FILES
    mans = sorted((base / "manifests").glob("group_*.json"))
    assert len(mans) == 3
    for m in mans:
        man = json.loads(m.read_text())
        assert man["status"] == "complete"
        assert man["metrics"]["postings"] > 0
        assert man["metrics"]["bytes"] > 0
        assert man["metrics"]["skew_ratio"] >= 1.0
        assert man["lineage"]["input_docs"] == N_FILES


def test_decode_matches_logical(spark, docs_df, shard_dir):
    """Shard decode reproduces the logical index's postings exactly."""
    idx = ShardedIndex(spark, shard_dir)
    all_terms = [
        r["term"]
        for r in spark.read.option(
            "basePath", str(Path(shard_dir) / "shards")
        ).parquet(
            *[str(Path(shard_dir) / "shards" / f"group={g}") for g in range(3)]
        ).select("term").distinct().collect()
    ]
    decoded = decode_shards_to_postings(idx.shards_for_terms(all_terms))
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in decoded.collect()
    }
    logical = build_logical_index(docs_df, config=CFG)
    want = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in logical.exploded().collect()
    }
    assert got == want


def test_bucket_pruning_is_exact(spark, shard_dir):
    """Every shard row for a term lives in the bucket the driver-side
    hash predicts."""
    idx = ShardedIndex(spark, shard_dir)
    rows = idx.shards_for_terms(["import", "def", "return"]).collect()
    assert rows
    for r in rows:
        assert r["bucket"] == bucket_of(r["term"], CFG.num_term_buckets)


def test_exhaustive_matches_logical_scorer(
    spark, docs_df, shard_dir, queries_df
):
    logical = build_logical_index(docs_df, config=CFG)
    want = bm25_score_queries(queries_df, logical, top_k=30).collect()
    idx = ShardedIndex(spark, shard_dir)
    got = search_sharded(idx, queries_df, top_k=30, strategy="exhaustive")
    got = got.collect()
    w = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in want}
    g = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in got}
    assert set(w) == set(g)
    for k in w:
        assert w[k][0] == g[k][0], k
        assert math.isclose(w[k][1], g[k][1], rel_tol=1e-9), k


def _by_rank(rows):
    """(query_id, rank) -> (doc_id, score) of search rows or tuples."""
    return {(r[0], r[3]): (r[1], r[2]) for r in map(tuple, rows)}


def _assert_engines_equal(spark, idx, top_k, jobs, docs):
    """'auto' scores on the driver with zero Spark jobs; 'exhaustive'
    and 'wand' run the distributed plan. The one kernel sums each
    doc's terms in the same order in both places, so ranks, doc ids
    AND scores are equal exactly — with and without score_round. All
    of them equal the logical scorer over ``docs`` (the live corpus):
    ranks exactly, scores to rel_tol."""
    qpairs = reference_query_set()
    logical = build_logical_index(docs, config=CFG)
    qdf = spark.createDataFrame(qpairs, "query_id long, query_text string")
    for score_round in (None, 2):
        ex = _by_rank(search_sharded(
            idx, qpairs, top_k=top_k, strategy="exhaustive",
            score_round=score_round,
        ).collect())
        assert ex
        wd = search_sharded(
            idx, qpairs, top_k=top_k, strategy="wand",
            score_round=score_round,
        ).collect()
        assert _by_rank(wd) == ex
        jobs.mark()
        au = search_sharded_rows(
            idx, qpairs, top_k=top_k, strategy="auto",
            score_round=score_round,
        )
        assert jobs.since() == 0  # served by the driver path
        assert _by_rank(au) == ex
        want = _by_rank(bm25_score_queries(
            qdf, logical, top_k=top_k, score_round=score_round
        ).collect())
        assert set(want) == set(ex)
        for k in want:
            assert want[k][0] == ex[k][0], (score_round, k)
            assert math.isclose(want[k][1], ex[k][1], rel_tol=1e-9), k
    return ex


def test_wand_matches_exhaustive(spark, docs_df, shard_dir, jobs):
    _assert_engines_equal(
        spark, ShardedIndex(spark, shard_dir), 20, jobs, docs_df
    )


def test_hash_segment_np_matches_python():
    """Vectorized segment hash is bit-identical to the scalar one,
    including the negative (xxhash64-style) doc-id range."""
    import random

    import numpy as np

    from bm25_chroma_spark.index.shards import hash_segment, hash_segment_np

    rng = random.Random(13)
    ids = [rng.randint(-(2**63), 2**63 - 1) for _ in range(2000)]
    ids += [0, 1, -1, 2**63 - 1, -(2**63)]
    got = hash_segment_np(np.array(ids, dtype=np.int64), 4)
    want = [hash_segment(i, 4) for i in ids]
    assert got.tolist() == want


def test_wand_matches_exhaustive_after_dml(
    spark, docs_df, tmp_path_factory, jobs
):
    """Regression: DML re-encode must assign segments with the SAME
    hash as the base build, or the per-segment plan emits duplicate
    doc_ids with split partial scores (round-1 advisor repro:
    exhaustive 25 rows vs wand 28)."""
    from bm25_chroma_spark.index.dml import apply_dml

    out = str(tmp_path_factory.mktemp("index") / "dml_wand_v1")
    build_sharded_index(docs_df, out, config=CFG, bucket_groups=2)

    # upsert modified versions of existing docs (old text passed as
    # delete_docs, the remove-then-add contract) + delete a few
    rows = docs_df.orderBy("doc_id").limit(30).collect()
    old = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (r["doc_id"], r["text"] + " import merge batch")
            for r in rows[:20]
        ],
        "doc_id long, text string",
    )
    apply_dml(spark, out, upserts=new, delete_docs=old)

    idx = ShardedIndex(spark, out)
    live = docs_df.join(old.select("doc_id"), "doc_id", "left_anti")
    got = _assert_engines_equal(
        spark, idx, 25, jobs, live.unionByName(new)
    )
    # no duplicate doc per query (per-segment top-k unions stay
    # disjoint only while DML keeps the base build's segment hash)
    for qid in {q for q, _ in got}:
        docs = [d for (q, _), (d, _) in got.items() if q == qid]
        assert len(docs) == len(set(docs))


def test_bulk_delete_dataframe_native(spark, tmp_path_factory):
    """A large delete batch flows through apply_dml as DataFrames —
    no victim-id list on the driver — and the index ends up exactly
    equal to a fresh build over the survivors."""
    from bm25_chroma_spark.index.dml import apply_dml

    # lossless config: at 1200 docs hot terms exceed the reference's
    # 1000-posting query cap, which the sharded path refuses to
    # silently approximate
    from dataclasses import replace

    cfg = replace(CFG, max_postings_per_term=None, query_postings_cap=None)
    rows = synth_corpus_rows(1200, seed=23)
    all_docs = spark.createDataFrame(
        [(i, r[4]) for i, r in enumerate(rows)], "doc_id long, text string"
    )
    out = str(tmp_path_factory.mktemp("index") / "bulk_v1")
    build_sharded_index(all_docs, out, config=cfg, bucket_groups=2)

    victims = all_docs.filter(F.col("doc_id") % 3 == 0)  # ~400 docs
    res = apply_dml(spark, out, delete_docs=victims)
    assert res["live_docs"] == 1200 - 400

    survivors = all_docs.filter(F.col("doc_id") % 3 != 0)
    clean = str(tmp_path_factory.mktemp("index") / "bulk_clean_v1")
    build_sharded_index(survivors, clean, config=cfg, bucket_groups=2)

    queries = spark.createDataFrame(
        reference_query_set(), "query_id long, query_text string"
    )
    got = search_sharded(
        ShardedIndex(spark, out), queries, top_k=20
    ).collect()
    want = search_sharded(
        ShardedIndex(spark, clean), queries, top_k=20
    ).collect()
    g = {(r["query_id"], r["rank"]): r["doc_id"] for r in got}
    v = {(r["query_id"], r["rank"]): r["doc_id"] for r in want}
    assert g == v


def test_resume_after_crash(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "resume_v1")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_sharded_index(
            docs_df, out, config=CFG, bucket_groups=3,
            _fail_after_groups=1,
        )
    mans = list((Path(out) / "manifests").glob("group_*.json"))
    assert len(mans) == 1  # one group checkpointed before the crash

    metrics = build_sharded_index(
        docs_df, out, config=CFG, bucket_groups=3, resume=True
    )
    assert len(list((Path(out) / "manifests").glob("group_*.json"))) == 3

    # resumed index identical content to a clean build
    clean = str(tmp_path_factory.mktemp("index") / "clean_v1")
    build_sharded_index(docs_df, clean, config=CFG, bucket_groups=3)

    def snapshot(d):
        df = spark.read.option(
            "basePath", str(Path(d) / "shards")
        ).parquet(
            *[str(Path(d) / "shards" / f"group={g}") for g in range(3)]
        )
        return {
            (r["term"], r["segment"]): (
                r["df"],
                bytes(r["doc_bytes"]),
                bytes(r["tf_bytes"]),
                bytes(r["dl_bytes"]),
            )
            for r in df.collect()
        }

    assert snapshot(out) == snapshot(clean)
    assert metrics["postings"] > 0


def test_sharded_refuses_binding_query_cap(spark, tmp_path_factory):
    """The sharded path cannot reproduce the tf-ordered QUERY-cap
    traversal (bm25.py:283) — it must raise (not silently diverge)
    when the query cap binds for a queried term. (The BUILD cap is
    honored physically since r3 — see test_caps_golden's sharded
    parity tests — so it no longer refuses.)"""
    from dataclasses import replace

    docs = spark.createDataFrame(
        [(i, "hot common word") for i in range(12)],
        "doc_id long, text string",
    )
    cfg = replace(CFG, max_postings_per_term=None, query_postings_cap=5)
    out = str(tmp_path_factory.mktemp("index") / "capguard_v1")
    build_sharded_index(docs, out, config=cfg, bucket_groups=1)
    idx = ShardedIndex(spark, out)
    q = spark.createDataFrame(
        [(1, "hot")], "query_id long, query_text string"
    )
    with pytest.raises(NotImplementedError, match="query"):
        search_sharded(idx, q, top_k=5).collect()


def test_resume_rejects_config_change(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "cfg_v1")
    build_sharded_index(docs_df, out, config=CFG, bucket_groups=2)
    with pytest.raises(ValueError, match="different config"):
        build_sharded_index(
            docs_df, out, config=BM25Config(num_term_buckets=4),
            bucket_groups=2,
        )


def test_auto_strategy_results_identical(spark, shard_dir, queries_df):
    """auto through the DataFrame API (a DataFrame of queries in, the
    driver path's Arrow-backed result out) == exhaustive, exactly."""
    idx = ShardedIndex(spark, shard_dir)
    a = search_sharded(idx, queries_df, top_k=10, strategy="auto")
    e = search_sharded(idx, queries_df, top_k=10, strategy="exhaustive")
    assert _by_rank(a.collect()) == _by_rank(e.collect())


def test_postings_cache_warm_identical_and_bounded(
    spark, shard_dir, queries_df
):
    """The cached driver path: first auto call populates the
    generation-tagged LRU, the warm repeat serves from it with
    identical results, the distributed 'exhaustive' plan bypasses it,
    and the byte budget evicts LRU entries instead of growing
    unboundedly."""
    idx = ShardedIndex(spark, shard_dir)
    a = search_sharded(idx, queries_df, top_k=10, strategy="auto").collect()
    assert idx._postings_cache  # populated (small fixture fits)
    used0 = idx._postings_cache_used
    assert 0 < used0 <= idx.postings_cache_bytes
    b = search_sharded(idx, queries_df, top_k=10, strategy="auto").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert idx._postings_cache_used == used0  # warm: no growth
    c = search_sharded(
        idx, queries_df, top_k=10, strategy="exhaustive"
    ).collect()
    got = {(r[0], r[3]): r[1] for r in map(tuple, c)}
    want = {(r[0], r[3]): r[1] for r in map(tuple, a)}
    assert got == want
    # a tiny budget forces eviction down to at most the budget; since
    # r7 the over-budget terms leave zero-byte too-big MARKERS
    # (rows=None) that postings_cacheable() reads to route them
    # distributed — accounted bytes still drop to the budget
    idx.refresh()
    idx.postings_cache_bytes = 1  # every entry evicts immediately
    search_sharded(idx, queries_df, top_k=10, strategy="auto").collect()
    assert idx._postings_cache_used <= 1
    assert all(
        rows is None and nb == 0
        for (_g, nb, rows) in idx._postings_cache.values()
    )
    assert not idx.postings_cacheable(list(idx._postings_cache))


def test_postings_cache_not_served_across_generations(
    spark, docs_df, queries_df, tmp_path_factory
):
    """DML bumps the generation; a warm cache must never serve the
    pre-DML rows (VERDICT r6 gate). refresh() clears the cache AND
    entries are generation-tagged, so even a handle whose cache dict
    survived cannot cross generations."""
    from bm25_chroma_spark.index.dml import apply_dml

    out = str(tmp_path_factory.mktemp("index") / "cache_gen_v1")
    build_sharded_index(docs_df, out, config=CFG, bucket_groups=2)
    idx = ShardedIndex(spark, out)
    before = search_sharded(
        idx, queries_df, top_k=10, strategy="auto"
    ).collect()
    assert idx._postings_cache
    stale = dict(idx._postings_cache)  # simulate a stale handle

    rows = docs_df.orderBy("doc_id").limit(25).collect()
    old = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    apply_dml(spark, out, delete_docs=old)
    idx.refresh()
    assert not idx._postings_cache  # refresh cleared it
    # adversarial: put the stale entries back; the generation tag
    # must still force a re-fetch
    idx._postings_cache.update(stale)
    after = search_sharded(
        idx, queries_df, top_k=10, strategy="auto"
    ).collect()
    deleted = {r["doc_id"] for r in rows}
    assert all(r["doc_id"] not in deleted for r in after)
    fresh = ShardedIndex(spark, out)
    ref = search_sharded(
        fresh, queries_df, top_k=10, strategy="auto"
    ).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, ref))
    assert sorted(map(tuple, after)) != sorted(map(tuple, before))


def test_df_cache_reused_and_invalidated(spark, shard_dir, queries_df):
    """The driver-side df agg behind auto routing is cached per
    (index state, term): a repeat query must not change results, and
    refresh() (the DML hook) must drop the cache."""
    idx = ShardedIndex(spark, shard_dir)
    a = search_sharded(idx, queries_df, top_k=10, strategy="auto").collect()
    assert idx._df_cache  # populated by the first call
    snapshot = dict(idx._df_cache)
    b = search_sharded(idx, queries_df, top_k=10, strategy="auto").collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}
    assert idx._df_cache == snapshot  # no growth on repeat
    idx.refresh()
    assert idx._df_cache == {}


def test_map_docs_partials_matches_reference():
    """The r5 batch-vectorized partials pass must produce exactly the
    same partial rows (term/bucket/segment and per-row arrays in the
    same order, plus the doc-stat sentinel) as the original per-doc
    Counter/append loop, including empty/None texts, duplicate
    tokens, and negative xxhash64-style doc ids."""
    import zlib

    import numpy as np
    import pandas as pd

    from bm25_chroma_spark.functions.tokenizer import tokenize_tf_py
    from bm25_chroma_spark.index.shards import (
        _map_docs_to_partials,
        hash_segment,
    )

    def reference(pdf, n_buckets, salt_factor):
        acc, stat_ids, stat_dls = {}, [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            pairs = tokenize_tf_py(text)
            if not pairs:
                continue
            did = int(doc_id)
            dl = sum(tf for _, tf in pairs)
            seg = hash_segment(did, salt_factor)
            for term, tf in pairs:
                ent = acc.setdefault((term, seg), ([], [], []))
                ent[0].append(did)
                ent[1].append(tf)
                ent[2].append(dl)
            stat_ids.append(did)
            stat_dls.append(dl)
        rows = {
            (term, seg): (
                zlib.crc32(term.encode()) % n_buckets, dids, tfs, dls
            )
            for (term, seg), (dids, tfs, dls) in acc.items()
        }
        return rows, stat_ids, stat_dls

    rng = np.random.RandomState(17)
    vocab = ["def", "import", "the", "zz"] + [f"w{i}" for i in range(40)]
    texts, ids = [], []
    for i in range(200):
        if i % 23 == 0:
            texts.append("" if i % 2 else None)
        else:
            texts.append(
                " ".join(rng.choice(vocab, size=rng.randint(1, 60)))
            )
        ids.append(int(rng.randint(-(2**62), 2**62)))
    pdf = pd.DataFrame({"doc_id": ids, "text": texts})

    got = list(_map_docs_to_partials(8, 4)(iter([pdf])))
    assert len(got) == 1
    out = got[0]
    sent = out[out["bucket"] == -1]
    assert len(sent) == 1
    want_rows, want_ids, want_dls = reference(pdf, 8, 4)
    s = sent.iloc[0]
    assert list(s["doc_ids"]) == want_ids
    assert list(s["dls"]) == want_dls
    assert len(list(s["tfs"])) == 0

    data = out[out["bucket"] >= 0]
    got_rows = {
        (r["term"], r["segment"]): (
            r["bucket"], list(r["doc_ids"]), list(r["tfs"]),
            list(r["dls"]),
        )
        for _, r in data.iterrows()
    }
    assert set(got_rows) == set(want_rows)
    for k, (b, dids, tfs, dls) in want_rows.items():
        gb, gd, gt, gl = got_rows[k]
        assert gb == b and gd == dids and gt == tfs and gl == dls, k

    # an all-empty batch yields nothing at all
    empty = pd.DataFrame({"doc_id": [1, 2], "text": [None, ""]})
    assert list(_map_docs_to_partials(8, 4)(iter([empty]))) == []


def test_map_docs_partials_pretokenized_parity():
    """pretokenized=True (token arrays in the 'text' column, e.g. from
    the JVM sql_tokens expression) must produce byte-identical partial
    rows to the default tokenize path on the same docs, including
    None/empty arrays (prototype harness contract —
    BENCH/r6_notes.md #4)."""
    import numpy as np
    import pandas as pd

    from bm25_chroma_spark.functions.tokenizer import tokenize_py
    from bm25_chroma_spark.index.shards import _map_docs_to_partials

    rng = np.random.RandomState(5)
    vocab = ["def", "import", "zz", "naïve"] + [
        f"tok{i}" for i in range(30)
    ]
    texts, ids = [], []
    for i in range(120):
        if i % 17 == 0:
            texts.append(None if i % 2 else "")
        else:
            texts.append(
                " ".join(rng.choice(vocab, size=rng.randint(1, 40)))
            )
        ids.append(int(rng.randint(-(2**62), 2**62)))
    pdf = pd.DataFrame({"doc_id": ids, "text": texts})
    toks = pd.DataFrame(
        {
            "doc_id": ids,
            "text": [
                np.asarray(tokenize_py(t), dtype=object) for t in texts
            ],
        }
    )
    a = list(_map_docs_to_partials(8, 4)(iter([pdf])))
    b = list(
        _map_docs_to_partials(8, 4, pretokenized=True)(iter([toks]))
    )
    assert len(a) == len(b) == 1
    pa, pb = a[0], b[0]
    assert len(pa) == len(pb)
    for col in ("bucket", "term", "segment"):
        assert pa[col].tolist() == pb[col].tolist(), col
    for col in ("doc_ids", "tfs", "dls"):
        for x, y in zip(pa[col], pb[col]):
            assert list(x) == list(y), col

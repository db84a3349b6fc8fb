"""Reference invariant suite ported to the Spark facade
(/root/reference/tests/test_examples.py), plus a randomized DML
rank-identity check against the reference engine itself."""

from __future__ import annotations

import math

import pytest

from bm25_chroma_spark.plans.retriever import SparkHybridRetriever


@pytest.fixture()
def retriever(spark, tmp_path):
    return SparkHybridRetriever(spark, str(tmp_path / "state"))


def _df_of(retriever, term: str) -> int:
    idx = retriever._index
    rows = idx.term_dfs([term]).collect()
    return int(rows[0]["df"]) if rows else 0


def _vocab(retriever) -> set:
    return {
        r["term"]
        for r in retriever._all_live_shards().select("term").distinct().collect()
    }


def test_df_consistency_across_delete_and_readd(retriever):
    """Reference test_examples.py:125-217: df('common') 10 -> 9 -> 10;
    orphan term purged from the vocabulary on delete."""
    docs = [f"document {i} contains word{i} and common" for i in range(10)]
    ids = [f"doc_{i}" for i in range(10)]
    retriever.add_documents_batch(docs, ids)

    assert _df_of(retriever, "common") == 10
    assert "word0" in _vocab(retriever)

    retriever.remove_document("doc_0")
    assert _df_of(retriever, "common") == 9
    assert "word0" not in _vocab(retriever)  # orphan purged
    assert retriever._index.n_docs == 9

    retriever.add_documents_batch([docs[0]], ["doc_0"])
    assert _df_of(retriever, "common") == 10
    assert "word0" in _vocab(retriever)
    assert retriever._index.n_docs == 10


def test_remove_unknown_is_noop(retriever):
    docs = ["alpha beta", "beta gamma"]
    retriever.add_documents_batch(docs, ["a", "b"])
    n0 = retriever._index.n_docs
    retriever.remove_document("nonexistent")
    assert retriever._index.n_docs == n0


def test_upsert_replaces(retriever):
    retriever.add_documents_batch(["old content here"], ["x"])
    retriever.add_documents_batch(["completely new words"], ["x"])
    assert retriever._index.n_docs == 1
    assert _df_of(retriever, "old") == 0
    assert _df_of(retriever, "completely") == 1
    res = retriever.search_bm25("new words", top_k=5)
    assert res and res[0][0] == "x"


def test_batch_operations(retriever):
    """Reference test_examples.py:257-312: batch add 5 / remove 3 /
    search survivors."""
    docs = [
        "machine learning algorithms",
        "deep neural networks",
        "natural language processing",
        "computer vision systems",
        "reinforcement learning agents",
    ]
    ids = [f"d{i}" for i in range(5)]
    retriever.add_documents_batch(docs, ids)
    assert retriever._index.n_docs == 5

    retriever.remove_documents_batch(["d0", "d2", "d4"])
    assert retriever._index.n_docs == 2

    res = retriever.search_bm25("neural networks", top_k=5)
    assert res and res[0][0] == "d1"
    gone = retriever.search_bm25("reinforcement agents", top_k=5)
    assert all(uid not in ("d0", "d2", "d4") for uid, _ in gone)


def test_ranking_sanity(retriever):
    """Reference test_examples.py:23-48: the ML doc ranks first."""
    retriever.add_documents_batch(
        [
            "machine learning is a subset of artificial intelligence",
            "the weather today is sunny and warm",
        ],
        ["ml", "weather"],
    )
    res = retriever.search_bm25("machine learning", top_k=2)
    assert res[0][0] == "ml"


def test_chroma_interface(retriever):
    """Reference test_examples.py:314-367: include subsets, str vs
    list query_texts, distances = 1 - score."""
    retriever.add_documents_batch(
        ["spark engine shuffles data", "pandas frames in memory"],
        ["s", "p"],
    )
    r1 = retriever.query("spark data", n_results=2)
    assert set(r1.keys()) == {"ids", "documents", "metadatas", "distances"}
    assert isinstance(r1["ids"][0], list)

    r2 = retriever.query(["spark data", "pandas memory"], n_results=2,
                         include=["documents"])
    assert set(r2.keys()) == {"ids", "documents"}
    assert len(r2["ids"]) == 2

    r3 = retriever.query("spark data", n_results=2,
                         include=["distances", "embeddings"])
    assert "embeddings" in r3 and "documents" not in r3
    for d in r3["distances"][0]:
        assert d <= 1.0

    # bm25_ratio accepted but ignored (reference facade quirk)
    r4 = retriever.query("spark data", n_results=2, bm25_ratio=0.9)
    assert r4["ids"] == r1["ids"]


def test_hybrid_search_ratio_honored(retriever):
    retriever.add_documents_batch(
        ["alpha beta gamma", "delta epsilon zeta", "alpha delta"],
        ["1", "2", "3"],
    )
    pure_bm25 = retriever.hybrid_search("alpha", top_k=3, bm25_ratio=1.0)
    assert pure_bm25
    bm25_only = retriever.search_bm25("alpha", top_k=3)
    assert [u for u, _, _ in pure_bm25][: len(bm25_only)] == [
        u for u, _ in bm25_only
    ][: len(pure_bm25)]
    for _, _, meta in pure_bm25:
        assert meta["source"] == "hybrid_ensemble"
        assert "text" in meta


def test_reset_collection(retriever):
    retriever.add_documents_batch(["some text here"], ["a"])
    retriever.reset_collection()
    stats = retriever.get_system_stats()
    assert stats["chunks"] == 0 and stats["vocabulary_size"] == 0
    # usable after reset (reference test_examples.py:371-437)
    retriever.add_documents_batch(["fresh start document"], ["b"])
    assert retriever.search_bm25("fresh start", top_k=1)[0][0] == "b"


def test_api_surface(retriever):
    """Reference test_examples.py:439-489 contract."""
    for m in [
        "add_documents_batch", "remove_document", "remove_documents_batch",
        "reset_collection", "query", "hybrid_search", "search_bm25",
        "search_vector", "get_system_stats",
    ]:
        assert callable(getattr(retriever, m)), m


def test_solr_norm_path_not_replicated(retriever):
    retriever.add_documents_batch(["doc"], ["a"])
    with pytest.raises(NotImplementedError):
        retriever.search_bm25("doc", solr_norm=True)


def test_rank_identity_after_dml_vs_reference(
    spark, tmp_path, reference_bm25_cls
):
    """Randomized add/remove/upsert sequence applied to BOTH engines;
    search results must stay rank-identical throughout."""
    import random

    rng = random.Random(99)
    ref = reference_bm25_cls()
    ret = SparkHybridRetriever(spark, str(tmp_path / "dml_state"))

    vocab = ["spark", "index", "merge", "shard", "query", "token",
             "batch", "score", "vector", "stream"]

    def mktext(n):
        return " ".join(rng.choices(vocab, k=n))

    live = {}
    # initial batch
    docs = {f"u{i}": mktext(rng.randint(3, 12)) for i in range(12)}
    ref.add_chunks_batch(list(map(tuple, ((k, v) for k, v in docs.items()))))
    ret.add_documents_batch(list(docs.values()), list(docs.keys()))
    live.update(docs)

    for step in range(4):
        op = rng.choice(["add", "remove", "upsert"])
        if op == "add":
            new = {f"n{step}_{i}": mktext(rng.randint(3, 12))
                   for i in range(3)}
            ref.add_chunks_batch([(k, v) for k, v in new.items()])
            ret.add_documents_batch(list(new.values()), list(new.keys()))
            live.update(new)
        elif op == "remove" and live:
            victims = rng.sample(sorted(live), min(2, len(live)))
            for v in victims:
                ref.remove_chunk(v)
                live.pop(v)
            ret.remove_documents_batch(victims)
        else:
            if not live:
                continue
            k = rng.choice(sorted(live))
            txt = mktext(rng.randint(3, 12))
            ref.add_chunk(k, txt)
            ret.add_documents_batch([txt], [k])
            live[k] = txt

        for q in ("spark index", "vector stream token", "merge"):
            want = ref.search(q, top_k=10)
            got = ret.search_bm25(q, top_k=10)
            assert len(want) == len(got), (step, q)
            # compare as score-sorted tie groups
            def groups(lst):
                out = []
                for d, s in lst:
                    if out and math.isclose(out[-1][0], s, rel_tol=1e-9):
                        out[-1][1].add(d)
                    else:
                        out.append((s, {d}))
                return out
            for (ws, wd), (gs, gd) in zip(groups(want), groups(got)):
                assert math.isclose(ws, gs, rel_tol=1e-9), (step, q)
                assert wd == gd, (step, q, want, got)


def test_add_new_documents_only(retriever):
    """Dedup-before-insert (reference brown_corpus_w_ratio.py:90-104)."""
    retriever.add_documents_batch(["first doc here"], ["a"])
    stats = retriever.add_new_documents_only(
        ["replacement ignored", "second doc text"], ["a", "b"]
    )
    assert stats["skipped_existing"] == 1
    assert stats["total_documents"] == 1
    # 'a' kept its original content
    assert retriever.search_bm25("first doc", top_k=2)[0][0] == "a"
    assert retriever.search_bm25("second doc", top_k=2)[0][0] == "b"
    info = retriever.get_preprocessing_info()
    assert info["lemmatization_available"] is False


def test_compaction_preserves_results(spark, tmp_path):
    """compact_index folds generations; queries identical after."""
    from bm25_chroma_spark.index.dml import compact_index
    from bm25_chroma_spark.index.wand import search_sharded

    ret = SparkHybridRetriever(spark, str(tmp_path / "cstate"))
    ret.add_documents_batch(
        ["alpha beta gamma", "beta gamma delta", "gamma delta epsilon"],
        ["1", "2", "3"],
    )
    ret.add_documents_batch(["alpha epsilon zeta"], ["4"])
    ret.remove_document("2")
    ret.add_documents_batch(["beta zeta eta replaced"], ["3"])

    idx_dir = str(tmp_path / "cstate" / "index")
    q = spark.createDataFrame(
        [(1, "alpha gamma"), (2, "zeta beta"), (3, "epsilon")],
        "query_id long, query_text string",
    )
    from bm25_chroma_spark.index.shards import ShardedIndex

    before = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
        for r in search_sharded(
            ShardedIndex(spark, idx_dir), q, top_k=10
        ).collect()
    }
    res = compact_index(spark, idx_dir)
    assert res["compacted"] and res["folded_generations"] >= 2

    idx2 = ShardedIndex(spark, idx_dir)
    assert idx2.generation == 0
    after = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
        for r in search_sharded(idx2, q, top_k=10).collect()
    }
    assert before == after

    # second compaction is a no-op
    assert compact_index(spark, idx_dir)["compacted"] is False
    # DML still works after compaction
    ret._index.refresh()
    ret.remove_document("1")
    assert ret.search_bm25("alpha", top_k=5)[0][0] == "4"


def test_metadata_passthrough_and_resolution(spark, tmp_path):
    """Reference facade parity: user metadatas stored with the corpus
    surface through query(); doc-id resolution follows the reference
    precedence (filename_chunkidx / document_id / id / fallback,
    hybrid_retriever.py:440-448, 476-481)."""
    from bm25_chroma_spark.plans.retriever import (
        SparkHybridRetriever,
        resolve_doc_id,
    )

    r = SparkHybridRetriever(spark, str(tmp_path / "meta_state"))
    metas = [
        {"filename": "a.txt", "chunk_idx": 3},
        {"document_id": "custom"},
        None,
    ]
    r.add_documents_batch(
        ["alpha beta", "gamma delta", "epsilon zeta"],
        ["x1", "x2", "x3"],
        metadatas=metas,
    )
    res = r.query("alpha beta", n_results=3, include=["metadatas"])
    got = dict(zip(res["ids"][0], res["metadatas"][0]))
    assert got["x1"] == {"filename": "a.txt", "chunk_idx": 3}
    assert got["x2"] == {"document_id": "custom"}
    assert got["x3"] == {"document_id": "x3"}  # minimal fallback

    assert resolve_doc_id({"filename": "a.txt", "chunk_idx": 3}) == "a.txt_3"
    assert resolve_doc_id({"document_id": "d"}) == "d"
    assert resolve_doc_id({"id": "z"}) == "z"
    assert resolve_doc_id({}, default="f") == "f"


def test_auto_compaction_preserves_results(spark, tmp_path):
    """With auto_compact_after=3, sustained DML triggers compaction
    (generation folds back to 0) and search results are unchanged."""
    from bm25_chroma_spark.plans.retriever import SparkHybridRetriever

    r = SparkHybridRetriever(
        spark, str(tmp_path / "ac_state"), auto_compact_after=3
    )
    r.add_documents_batch(
        ["alpha beta", "gamma delta", "epsilon zeta"], ["a", "b", "c"]
    )
    for i in range(3):  # three DML batches -> generation hits 3
        r.add_documents_batch([f"alpha beta round{i}"], ["a"])
    assert r._index.generation == 0  # compacted
    assert (
        tmp_path / "ac_state" / "index" / "gen"
    ).exists() is False
    # corpus/vectors stores collapsed to one generation each
    assert len(list((tmp_path / "ac_state" / "corpus").glob(
        "gen_*.parquet"))) == 1
    assert len(list((tmp_path / "ac_state" / "vectors").glob(
        "gen_*.parquet"))) == 1
    hits = [u for u, _ in r.search_bm25("alpha beta", top_k=5)]
    assert hits[0] == "a"
    assert set(hits) >= {"a"}
    assert {u for u, _ in r.search_bm25("gamma", top_k=5)} == {"b"}
    # DML continues to work after store compaction
    r.remove_document("c")
    assert {u for u, _ in r.search_bm25("epsilon zeta", top_k=5)} == set()
    res = r.query("alpha beta", n_results=2, include=["documents"])
    assert res["ids"][0][0] == "a"


def test_bulk_ids_plan_is_flat(retriever):
    """Bulk DML victim/dedup selection must stay DataFrame-native: a
    100k-id batch goes through a broadcast semi join against a
    single-column ids DataFrame, never a 100k-literal ``isin``
    expression (Catalyst planning blows up on literal lists long
    before the data matters). Pins both the plan shape and the
    end-to-end behavior."""
    docs = [f"document number {i} talks about topic{i % 7}" for i in range(50)]
    ids = [f"doc_{i:05d}" for i in range(50)]
    retriever.add_documents_batch(docs, ids)

    bulk_ids = [f"doc_{i:05d}" for i in range(100_000)]  # 50 known

    # plan shape: flat join, no giant literal expression
    victims = retriever._filter_by_ids(retriever.corpus_df(), bulk_ids)
    plan = victims._jdf.queryExecution().optimizedPlan().toString()
    assert "doc_uid IN" not in plan and " IN (doc_" not in plan
    assert "Join LeftSemi" in plan
    assert len(plan) < 20_000, len(plan)

    # dedup-before-insert with the bulk list: all 50 already exist
    stats = retriever.add_new_documents_only(
        ["fresh text alpha"], ["doc_00001"]
    )
    assert stats["total_documents"] == 0

    # bulk delete with 100k ids (99_950 unknown) completes and removes
    # exactly the 50 known docs
    retriever.remove_documents_batch(bulk_ids)
    assert retriever._index.n_docs == 0
    assert retriever.corpus_df().count() == 0


def test_facade_bm25_auto_matches_exhaustive(spark, tmp_path):
    """bm25_strategy='auto' (the new default) must return results
    identical to the pinned exhaustive path — both engines are exact;
    the router only picks the faster one per query."""
    docs = [
        f"shared corpus term doc{i} plus {'anchor' if i % 3 == 0 else 'filler'}"
        for i in range(30)
    ]
    ids = [f"d{i}" for i in range(30)]
    r_auto = SparkHybridRetriever(spark, str(tmp_path / "a"))
    r_exh = SparkHybridRetriever(
        spark, str(tmp_path / "b"), bm25_strategy="exhaustive"
    )
    assert r_auto.bm25_strategy == "auto"
    for r in (r_auto, r_exh):
        r.add_documents_batch(docs, ids)
    for q in ["anchor doc3", "shared filler", "corpus", "unknownterm"]:
        assert r_auto.search_bm25(q, top_k=10) == r_exh.search_bm25(
            q, top_k=10
        ), q
    qres_a = r_auto.query(["anchor corpus", "filler doc7"], n_results=5)
    qres_e = r_exh.query(["anchor corpus", "filler doc7"], n_results=5)
    assert qres_a["ids"] == qres_e["ids"]
    assert qres_a["distances"] == qres_e["distances"]


def test_top_k_zero_and_negative_on_every_path(retriever):
    """top_k == 0 returns no rows on the driver path and the
    distributed plan alike, and through the facade; top_k < 0 is
    refused. (The retired driver DAAT read the top of an empty heap at
    top_k == 0 and raised IndexError, as did any negative top_k.)"""
    from bm25_chroma_spark.index.wand import (
        search_sharded,
        search_sharded_rows,
    )

    retriever.add_documents_batch(
        ["alpha beta gamma", "beta gamma", "gamma delta"], ["a", "b", "c"]
    )
    idx = retriever._index
    for strategy in ("exhaustive", "wand", "auto"):
        q = [(0, "beta gamma")]
        assert search_sharded_rows(idx, q, top_k=0, strategy=strategy) == []
        assert search_sharded(
            idx, q, top_k=0, strategy=strategy
        ).collect() == []
        rows = search_sharded_rows(idx, q, top_k=5, strategy=strategy)
        assert len(rows) == 3
        with pytest.raises(ValueError):
            search_sharded_rows(idx, q, top_k=-1, strategy=strategy)
    res = retriever.query(["beta gamma"], n_results=0)
    assert res["ids"] == [[]]


def test_corpus_single_gen_fast_path(retriever):
    """With exactly one corpus generation (fresh build / post-compact
    state) corpus_df must skip the newest-wins overlay entirely — no
    Window, no Exchange in the plan — while returning the same rows;
    a second generation switches back to the overlay."""
    docs = [f"text number {i}" for i in range(8)]
    ids = [f"d{i}" for i in range(8)]
    retriever.add_documents_batch(docs, ids)

    assert len(retriever._corpus_gens()) == 1
    plan = (
        retriever.corpus_df()._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Window" not in plan, plan
    got = {
        r["doc_uid"]: r["text"] for r in retriever.corpus_df().collect()
    }
    assert got == dict(zip(ids, docs))

    # second gen (an upsert) re-engages the overlay and stays correct
    retriever.add_documents_batch(["replaced text"], ["d3"])
    assert len(retriever._corpus_gens()) == 2
    got = {
        r["doc_uid"]: r["text"] for r in retriever.corpus_df().collect()
    }
    assert got["d3"] == "replaced text" and len(got) == 8


def test_dataframe_native_ingest_and_delete(spark, tmp_path):
    """add_documents_df / remove_documents_df — the at-scale ingest
    surface: rows stay distributed (corpus gen from the DataFrame,
    embeddings via mapInPandas, victims via semi join) and the
    results are identical to the list API on the same data."""
    from pyspark.sql import functions as F

    docs = [
        (f"u{i:03d}", f"document {i} about topic{i % 5} common", None)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        docs, "doc_uid string, text string, meta_json string"
    )

    r_list = SparkHybridRetriever(spark, str(tmp_path / "list"))
    r_list.add_documents_batch([t for _, t, _ in docs], [u for u, _, _ in docs])
    r_df = SparkHybridRetriever(spark, str(tmp_path / "df"))
    stats = r_df.add_documents_df(df)
    assert stats["total_documents"] == 20 and stats["mode"] == "dataframe"

    for q in ["topic3 common", "document 7"]:
        assert r_df.search_bm25(q, top_k=10) == r_list.search_bm25(
            q, top_k=10
        ), q
        assert r_df.search_vector(q, top_k=5) == r_list.search_vector(
            q, top_k=5
        ), q

    # upsert through the DataFrame path: re-added id gets fresh
    # postings, old-only terms vanish
    up = spark.createDataFrame(
        [("u003", "replacement zebra text")], "doc_uid string, text string"
    )
    r_df.add_documents_df(up)
    assert r_df._index.n_docs == 20
    assert [u for u, _ in r_df.search_bm25("zebra", top_k=3)] == ["u003"]
    assert "u003" not in [
        u for u, _ in r_df.search_bm25("topic3", top_k=20)
    ]

    # DataFrame-native bulk delete (extra columns ignored)
    kill = spark.createDataFrame(
        [("u000", 1), ("u001", 2), ("unknown", 3)],
        "doc_uid string, junk int",
    )
    r_df.remove_documents_df(kill)
    assert r_df._index.n_docs == 18
    assert r_df.corpus_df().filter(
        F.col("doc_uid").isin(["u000", "u001"])
    ).count() == 0

    # duplicate uids in one batch collapse to a single row
    dup = spark.createDataFrame(
        [("dup1", "aaa"), ("dup1", "bbb")], "doc_uid string, text string"
    )
    st = r_df.add_documents_df(dup)
    assert st["total_documents"] == 1

    # embed=False: no vectors generation lands for the batch
    r_plain = SparkHybridRetriever(spark, str(tmp_path / "plain"))
    r_plain.add_documents_df(
        spark.createDataFrame(
            [("p1", "bm25 only corpus")], "doc_uid string, text string"
        ),
        embed=False,
    )
    assert r_plain.vectors_df().count() == 0
    assert r_plain.search_bm25("bm25 corpus", top_k=3)[0][0] == "p1"


def test_query_df_matches_query(retriever):
    """query_df (the DataFrame-out batch surface, r6) must reproduce
    query() per query: same uids in the same rank order and the same
    distances — RRF sums have exactly two parts, so the distributed
    groupBy sum is bit-exact against rrf_fuse_py — including the
    vector-only fallback for a query with no known BM25 terms."""
    docs = [f"term{i} alpha beta doc number {i}" for i in range(12)]
    retriever.add_documents_batch(docs, [f"d{i}" for i in range(12)])
    texts = ["alpha beta", "term3 doc", "zzz qqq unknowntoken"]
    want = retriever.query(texts, n_results=4, include=["distances"])
    got_rows = retriever.query_df(texts, n_results=4).collect()
    got: dict = {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["doc_uid"], r["distance"])
        )
    for qi in range(len(texts)):
        gl = got.get(qi, [])
        assert [u for u, _ in gl] == want["ids"][qi], qi
        for (u, gd), wd in zip(gl, want["distances"][qi]):
            assert math.isclose(gd, wd, rel_tol=0.0, abs_tol=1e-12), (qi, u)
    for r in got_rows:
        assert math.isclose(
            r["score"] + r["distance"], 1.0, abs_tol=1e-12
        )
        assert 1 <= r["rank"] <= 4


def test_query_df_dataframe_input_and_bm25_only(spark, tmp_path):
    """Caller-assigned query ids survive query_df, and an index with
    no vector leg (vectors wiped) falls back to raw BM25 scores."""
    r = SparkHybridRetriever(spark, str(tmp_path / "qdf_state"))
    r.add_documents_batch(
        ["spark engine shuffles data", "pandas frames in memory",
         "spark pandas interop layer"],
        ["s", "p", "i"],
    )
    qdf = spark.createDataFrame(
        [(100, "spark data"), (200, "pandas memory")],
        "query_id long, query_text string",
    )
    out = r.query_df(qdf, n_results=3).collect()
    assert {row["query_id"] for row in out} == {100, 200}
    ref = r.query(["spark data", "pandas memory"], n_results=3)
    by_q: dict = {}
    for row in sorted(out, key=lambda x: (x["query_id"], x["rank"])):
        by_q.setdefault(row["query_id"], []).append(row["doc_uid"])
    assert by_q[100] == ref["ids"][0]
    assert by_q[200] == ref["ids"][1]


def test_small_list_writes_skip_spark_joins(spark, tmp_path, jobs,
                                            monkeypatch):
    """A 20-doc add (10 new ids, 10 re-adds) and a 10-doc remove (one
    unknown id) on a loaded state resolve their prior versions through
    the driver-side corpus reader, write their corpus and vector
    generations with pyarrow and merge the index on the driver: each
    launches no Spark job, in three consecutive generations, and
    leaves the same results as a handle forced onto the Spark joins,
    the Spark tombstone write and the distributed DML path."""
    import time

    from bm25_chroma_spark.index import reader

    def text(i, g):
        return f"doc {i} common{i % 5} rare{i % 17} gen{g} word{(i * g) % 7}"

    fast = SparkHybridRetriever(spark, str(tmp_path / "fast"))
    slow = SparkHybridRetriever(spark, str(tmp_path / "slow"))
    base = [f"u{i}" for i in range(60)]
    for r in (fast, slow):
        r.add_documents_batch([text(i, 0) for i in range(60)], base)
    counts, secs = [], []
    queries = ["common1 rare3", "gen2 word4 doc", "rare16 common0 gen1"]
    for g in range(1, 4):
        ids = [f"u{i}" for i in range(20 * g, 20 * g + 10)] + [
            f"new{g}_{i}" for i in range(10)
        ]
        docs = [text(i, g) for i in range(20)]
        victims = [f"u{i}" for i in range(g, 60, 7)][:9] + ["unknown"]
        jobs.mark()
        t0 = time.perf_counter()
        fast.add_documents_batch(docs, ids)
        counts.append(("add", jobs.since()))
        secs.append(time.perf_counter() - t0)
        jobs.mark()
        t0 = time.perf_counter()
        fast.remove_documents_batch(victims)
        counts.append(("remove", jobs.since()))
        secs.append(time.perf_counter() - t0)
        with monkeypatch.context() as m:
            m.setattr(reader, "MAX_POINT_IDS", 0)
            slow.add_documents_batch(docs, ids)
            slow.remove_documents_batch(victims)
        assert fast._index.generation == slow._index.generation == 2 * g
        assert fast.get_system_stats() == slow.get_system_stats()
        assert fast.query(queries, n_results=8) == slow.query(
            queries, n_results=8
        )
    print("list-write seconds (add, remove per generation):", secs)
    assert all(n == 0 for _, n in counts), counts

"""Driver-resident interactive warm caches (r6): the facade's repeat
queries must launch ZERO Spark jobs, return results bit-identical to
the distributed engines, and never serve stale rows across any
mutation (DML, compaction, reset+re-ingest).

Reference semantics being preserved: the facade results themselves
(hybrid_retriever.py:379-428 query contract) — the caches are a pure
execution-strategy change, invisible in returned values.
"""

from __future__ import annotations

import pytest

from bm25_chroma_spark.plans.retriever import SparkHybridRetriever


def _mk(spark, tmp_path, n=120, name="wstate") -> SparkHybridRetriever:
    r = SparkHybridRetriever(spark, str(tmp_path / name))
    texts = [
        f"alpha beta gamma document number{i} " + ("spark " * (i % 5))
        for i in range(n)
    ]
    r.add_documents_batch(
        texts,
        [f"doc{i}" for i in range(n)],
        [{"k": i} for i in range(n)],
    )
    return r


def test_warm_facade_zero_jobs_and_identical(spark, tmp_path, jobs):
    """Second identical query()/search_bm25/hybrid_search: zero Spark
    jobs, byte-identical results (floats compared exactly — the warm
    engines are sequential-fold twins, not approximations)."""
    r = _mk(spark, tmp_path)
    q = ["alpha spark document", "beta gamma"]

    cold = r.query(q, n_results=5)
    assert cold["ids"][0], "fixture must produce hits"
    jobs.mark()
    warm = r.query(q, n_results=5)
    assert jobs.since() == 0, "warm query() must launch no Spark job"
    assert warm == cold

    b_cold = r.search_bm25("alpha spark document", top_k=5)
    jobs.mark()
    assert r.search_bm25("alpha spark document", top_k=5) == b_cold
    assert jobs.since() == 0

    h_cold = r.hybrid_search("alpha spark document", top_k=5)
    jobs.mark()
    assert r.hybrid_search("alpha spark document", top_k=5) == h_cold
    assert jobs.since() == 0
    assert r.last_vector_engine == "driver-cache"
    assert r.last_vector_route == "exact"


def test_warm_empty_result_zero_jobs(spark, tmp_path, jobs):
    """A no-match query must not pay a job either: empty driver-path
    results plan as an empty LocalTableScan, not Scan ExistingRDD
    (the pandas->Arrow empty-frame fallback wart, fixed r6)."""
    r = _mk(spark, tmp_path, n=40)
    assert r.search_bm25("zzzzunknown qqqterm", top_k=5) == []
    jobs.mark()
    assert r.search_bm25("zzzzunknown qqqterm", top_k=5) == []
    assert jobs.since() == 0


def test_vec_cache_bit_identical_to_spark_knn(spark, tmp_path):
    """_VecCache.topk is a bit-exact twin of operators/knn.py::
    knn_bruteforce: same sequential-left-fold dot/norm arithmetic,
    same (dist asc, vec_id asc) order. Forcing the distributed engine
    (cache bound = 0) must reproduce the cache's floats EXACTLY."""
    r = _mk(spark, tmp_path, n=60)
    queries = ["alpha spark document", "gamma number7", "beta"]
    cached = [r.search_vector(q, top_k=8) for q in queries]
    assert r.last_vector_engine == "driver-cache"
    assert any(res for res in cached)

    r.vector_cache_max_floats = 0  # evicting bound -> spark engine
    r._vec_cache = None
    dist = [r.search_vector(q, top_k=8) for q in queries]
    assert r.last_vector_engine == "spark"
    assert r.last_vector_route == "exact"
    assert cached == dist  # exact float equality, not approx


def test_vector_cache_too_big_falls_back(spark, tmp_path):
    """Over-bound corpora must keep the distributed exact path (the
    100 TB behavior): the cache marks 'too-big' once and stops
    re-counting."""
    r = _mk(spark, tmp_path, n=30)
    r.vector_cache_max_floats = 1
    out = r.search_vector("alpha spark", top_k=3)
    assert out and r.last_vector_engine == "spark"
    assert r._vec_cache == "too-big"


def test_warm_cache_invalidated_by_delete(spark, tmp_path):
    """Deleting a doc that sits in the warm caches must evict it
    everywhere: BM25 leg, vector leg, and the text/meta fetch."""
    r = _mk(spark, tmp_path, n=50)
    q = "alpha spark document"
    cold = r.query([q], n_results=5)
    victim = cold["ids"][0][0]
    r.remove_documents_batch([victim])
    after = r.query([q], n_results=5)
    assert victim not in after["ids"][0]
    assert after["ids"][0], "other docs must still be served"
    vec = r.search_vector(q, top_k=50)
    assert victim not in [u for u, _ in vec]


def test_warm_cache_invalidated_by_reset_reingest(spark, tmp_path):
    """reset_collection() + re-ingest recreates the SAME gen file
    names and can land on the same index generation — the mtime
    component of _interactive_key must still move, so the caches
    can never serve pre-reset texts/vectors."""
    r = SparkHybridRetriever(spark, str(tmp_path / "rstate"))
    r.add_documents_batch(
        ["alpha old text one", "alpha old text two"], ["a", "b"]
    )
    pre = r.query(["alpha"], n_results=2)
    assert all("old" in d for d in pre["documents"][0])

    r.reset_collection()
    r.add_documents_batch(
        ["alpha new text one", "alpha new text two"], ["a", "b"]
    )
    post = r.query(["alpha"], n_results=2)
    assert all("new" in d for d in post["documents"][0]), (
        "stale pre-reset rows served from the warm caches"
    )
    vec = r.search_vector("alpha new text one", top_k=1)
    assert vec and vec[0][0] in ("a", "b")


def test_warm_query_includes_embeddings_from_cache(spark, tmp_path, jobs):
    """query(include=['embeddings']) served from the vector cache must
    return the same floats as the distributed fetch."""
    r = _mk(spark, tmp_path, n=25)
    q = ["alpha spark document"]
    cold = r.query(q, n_results=3, include=["documents", "embeddings"])
    jobs.mark()
    warm = r.query(q, n_results=3, include=["documents", "embeddings"])
    assert jobs.since() == 0
    assert warm == cold
    assert warm["embeddings"][0] and len(warm["embeddings"][0][0]) > 0

    r2 = SparkHybridRetriever(spark, str(r.state))
    r2.vector_cache_max_floats = 0  # distributed fetch path
    spark_side = r2.query(
        q, n_results=3, include=["documents", "embeddings"]
    )
    assert spark_side["embeddings"] == warm["embeddings"]


@pytest.mark.parametrize("batch", [1, 3])
def test_warm_rank_identity_after_dml_sequence(spark, tmp_path, batch):
    """Warm-cache answers stay rank-identical to a cache-cold fresh
    handle across an interleaved add/delete sequence (the staleness
    fuzzer in miniature)."""
    r = _mk(spark, tmp_path, n=40, name=f"seq{batch}")
    q = ["alpha spark document", "gamma beta"]
    r.query(q, n_results=5)  # warm
    r.add_documents_batch(
        [f"alpha fresh doc {i} spark" for i in range(batch)],
        [f"new{i}" for i in range(batch)],
    )
    r.remove_documents_batch(["doc1", "doc3"])
    warm = r.query(q, n_results=5)

    fresh = SparkHybridRetriever(spark, str(r.state))
    assert fresh.query(q, n_results=5) == warm


def test_zero_norm_embedding_cache_matches_spark(spark, tmp_path):
    """A document whose embedding cancels to all-zero (possible with
    hashed-BoW sign cancellation) must neither crash the distributed
    exact KNN (ANSI DIVIDE_BY_ZERO, fixed via knn._nan_div) nor
    diverge between the driver-cache twin and the Spark engine: both
    give it NaN distance, which orders last in both."""

    def embed(texts):
        return [
            [0.0, 0.0, 0.0] if "ZEROVEC" in t
            else [1.0 if "alpha" in t else 0.2, 0.5, float(len(t) % 7)]
            for t in texts
        ]

    r = SparkHybridRetriever(
        spark, str(tmp_path / "zstate"), embedding_function=embed
    )
    r.add_documents_batch(
        ["alpha one", "alpha two", "ZEROVEC doc", "beta three"],
        ["a", "b", "z", "c"],
    )
    cached = r.search_vector("alpha query", top_k=4)
    assert r.last_vector_engine == "driver-cache"
    r.vector_cache_max_floats = 0
    r._vec_cache = None
    dist = r.search_vector("alpha query", top_k=4)
    assert r.last_vector_engine == "spark"
    assert [u for u, _ in cached] == [u for u, _ in dist]
    assert cached[-1][0] == "z"  # zero-norm doc ranks last in both
    import math as _m
    assert _m.isnan(cached[-1][1]) and _m.isnan(dist[-1][1])
    pairs = zip(cached[:-1], dist[:-1])
    assert all(cu == du and cs == ds for (cu, cs), (du, ds) in pairs)


def test_postings_cache_budget_lowered_at_runtime(spark, tmp_path):
    """Lowering postings_cache_bytes at runtime must evict on the
    NEXT postings access, not linger until the next miss (ADVICE r6:
    eviction used to run only inside the miss/insert branch)."""
    r = _mk(spark, tmp_path, n=40, name="pbudget")
    assert r.search_bm25("alpha spark document", top_k=3)
    idx = r._index
    assert idx._postings_cache_used > 0
    idx.postings_cache_bytes = 0
    # a pure-hit access path still trims: eviction runs per call
    idx.postings_rows(["alpha"])
    assert idx._postings_cache_used == 0


def test_postings_too_big_marker_routes_distributed(spark, tmp_path, jobs):
    """A term whose rows exceed the whole postings budget is marked
    too-big (generation-tagged) and subsequent queries on it take the
    distributed path instead of a driver collect per query (ADVICE
    r6); results stay identical."""
    r = _mk(spark, tmp_path, n=40, name="ptoobig")
    q = "alpha spark document"
    cold = r.search_bm25(q, top_k=3)
    idx = r._index
    idx.postings_cache_bytes = 1
    # this call refetches (evicted), marks every term too-big, and
    # still serves the rows it just collected
    mid = r.search_bm25(q, top_k=3)
    assert mid == cold
    assert not idx.postings_cacheable(["alpha"])
    # now the gate must refuse the driver path -> Spark jobs run
    jobs.mark()
    hot = r.search_bm25(q, top_k=3)
    assert jobs.since() > 0, "too-big terms must stay distributed"
    assert hot == cold


def test_queries_df_binds_vector_column_by_name(spark):
    """_queries_df must not positionally grab the wrong column when a
    caller frame has extra columns (ADVICE r6)."""
    import pytest as _pt

    from bm25_chroma_spark.operators.knn import _queries_df

    ok = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, emb array<double>"
    )
    assert _queries_df(spark, ok).columns == ["query_id", "qvec"]
    swapped = spark.createDataFrame(
        [([1.0, 0.0], 0)], "emb array<double>, query_id long"
    )
    assert _queries_df(spark, swapped).columns == ["query_id", "qvec"]
    extra = spark.createDataFrame(
        [(0, "x", [1.0])],
        "query_id long, note string, emb array<double>",
    )
    with _pt.raises(ValueError, match="exactly one vector column"):
        _queries_df(spark, extra)
    noid = spark.createDataFrame(
        [(0, "x", [1.0])], "qid long, note string, emb array<double>"
    )
    with _pt.raises(ValueError, match="query_id"):
        _queries_df(spark, noid)


def test_prewarm_reloaded_handle_first_repeat_query(spark, tmp_path, jobs):
    """VERDICT-r6 #4: a retriever reconstructed on a fresh driver
    starts cold; after save_hot_set() + prewarm() the FIRST repeat
    query runs the driver path (at most the bounded uid-enrichment
    job — no scan+decode pipeline) with identical results."""
    r = _mk(spark, tmp_path, n=60, name="prewarm")
    q = "alpha spark document"
    cold = r.search_bm25(q, top_k=5)
    assert cold
    assert r.save_hot_set() > 0

    r2 = SparkHybridRetriever(spark, str(tmp_path / "prewarm"))
    warmed = r2.prewarm()
    assert warmed > 0
    jobs.mark()
    got = r2.search_bm25(q, top_k=5)
    assert got == cold
    assert jobs.since() == 0, (
        "prewarmed first repeat query must launch no Spark job: "
        "postings + df come from the hot set, uids from the "
        "persisted immutable (id -> uid) pairs"
    )


def test_prewarm_stale_hot_set_never_serves_stale_rows(spark, tmp_path):
    """The hot set is a hint, not state: prewarming from a file
    saved BEFORE a DML must fetch live-generation rows (the deleted
    doc cannot come back)."""
    r = _mk(spark, tmp_path, n=40, name="prestale")
    q = "alpha spark document"
    before = r.search_bm25(q, top_k=5)
    assert r.save_hot_set() > 0
    victim = before[0][0]
    r.remove_document(victim)

    r2 = SparkHybridRetriever(spark, str(tmp_path / "prestale"))
    assert r2.prewarm() > 0
    got = r2.search_bm25(q, top_k=5)
    assert victim not in [u for u, _ in got]
    # fresh distributed computation agrees
    r3 = SparkHybridRetriever(spark, str(tmp_path / "prestale"))
    assert r3.search_bm25(q, top_k=5) == got


def test_prewarm_without_hot_set_is_noop(spark, tmp_path):
    r = _mk(spark, tmp_path, n=20, name="prenone")
    r2 = SparkHybridRetriever(spark, str(tmp_path / "prenone"))
    assert r2.prewarm() == 0


def test_prewarm_uid_pairs_gated_by_id_expr_fingerprint(spark, tmp_path):
    """(doc_id -> uid) pairs are immutable only under the id
    expression that minted them: a handle reloaded with a DIFFERENT
    doc_id_expr must skip the persisted pairs (they'd map ids to the
    wrong uids — ADVICE r7), while the id-expr-independent postings
    prewarm still counts. Same expression keeps serving them."""
    from pyspark.sql import functions as F

    r = _mk(spark, tmp_path, n=30, name="fpgate")
    q = "alpha spark document"
    assert r.search_bm25(q, top_k=5)
    assert r.save_hot_set() > 0

    same = SparkHybridRetriever(spark, str(tmp_path / "fpgate"))
    assert same.prewarm() > 0
    assert len(same._uid_cache) > 0

    other = SparkHybridRetriever(
        spark,
        str(tmp_path / "fpgate"),
        doc_id_expr=lambda c: F.abs(F.xxhash64(c)),
    )
    assert other.prewarm() > 0  # postings hot set is still valid
    assert len(other._uid_cache) == 0, (
        "uid pairs saved under another doc_id_expr must not load"
    )


def test_prewarm_vector_leg_reloaded_handle(spark, tmp_path, jobs):
    """VERDICT-r7 #6: save_hot_set persists the vector-cache
    eligibility decision; a reloaded handle's prewarm() reloads the
    matrix (one toPandas job, inside prewarm), so its FIRST repeat
    hybrid query launches ZERO Spark jobs with identical results."""
    r = _mk(spark, tmp_path, n=50, name="vecwarm")
    q = "alpha spark document"
    cold = r.hybrid_search(q, top_k=5)
    assert cold
    assert r.save_hot_set() > 0

    r2 = SparkHybridRetriever(spark, str(tmp_path / "vecwarm"))
    assert r2.prewarm() > 0
    jobs.mark()
    got = r2.hybrid_search(q, top_k=5)
    assert got == cold
    assert jobs.since() == 0, (
        "prewarmed first repeat hybrid query must launch no Spark "
        "job: postings + uids from the hot set, the vector matrix "
        "from the prewarm reload"
    )
    assert r2.last_vector_engine == "driver-cache"


def test_prewarm_vector_decision_stale_after_dml(spark, tmp_path):
    """The persisted vector decision is keyed to the exact corpus
    state: any ingest/DML after save_hot_set() must make prewarm()
    ignore it (cold correctness path, never stale vectors)."""
    r = _mk(spark, tmp_path, n=30, name="vecstale")
    q = "alpha spark document"
    assert r.hybrid_search(q, top_k=5)
    assert r.save_hot_set() > 0
    r.add_documents_batch(
        ["alpha spark document brand new text"], ["docnew"], [{"k": 1}]
    )

    r2 = SparkHybridRetriever(spark, str(tmp_path / "vecstale"))
    r2.prewarm()
    assert r2._vec_cache is None  # decision rejected, stays cold
    got = r2.hybrid_search(q, top_k=5)
    r3 = SparkHybridRetriever(spark, str(tmp_path / "vecstale"))
    assert r3.hybrid_search(q, top_k=5) == got

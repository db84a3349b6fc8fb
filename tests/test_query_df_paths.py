"""query_df's two regimes and the job-free vector matrix load.

A batch with unique query ids whose leg rows fit _QDF_BROADCAST_ROWS
is answered on the driver by query()'s own leg helpers and fusion; any
other batch runs the distributed plan. Both must return the same rows,
float for float, with raw scores and with score_round. The vector
matrix loads with pyarrow (reader.vector_rows) while the parquet
footers bound it within vector_cache_max_floats, and with Spark above
that; both loads must give the same matrix, bit for bit.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
import pytest

from bm25_chroma_spark.index import reader
from bm25_chroma_spark.index.dml import _is_local
from bm25_chroma_spark.plans.retriever import (
    SparkHybridRetriever,
    _VecCache,
)

VOCAB = [f"w{i}" for i in range(40)] + ["alpha", "beta", "gamma", "delta"]


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 9)))


def _churned(spark, path, rng, numeric=False, embed=True):
    """A retriever state after a base ingest and add / upsert / remove
    generations. ``numeric``: numeric uids and doc_id_expr
    cast(doc_uid as long); ``embed=False``: BM25 only (no vectors)."""
    r = SparkHybridRetriever(
        spark, str(path),
        doc_id_expr=(lambda c: c.cast("long")) if numeric else None,
    )
    uid = (lambda i: str(1000 + 7 * i)) if numeric else (lambda i: f"u{i}")
    n = 40
    if embed:
        r.add_documents_batch([_text(rng) for _ in range(n)],
                              [uid(i) for i in range(n)])
        r.add_documents_batch(  # upserts + new docs
            [_text(rng) for _ in range(12)],
            [uid(i) for i in rng.sample(range(n), 6)]
            + [uid(n + i) for i in range(6)],
        )
        r.remove_documents_batch([uid(i) for i in rng.sample(range(n), 5)])
    else:
        r.add_documents_df(spark.createDataFrame(pd.DataFrame({
            "doc_uid": [uid(i) for i in range(n)],
            "text": [_text(rng) for _ in range(n)],
        })), embed=False)
        r.add_documents_df(spark.createDataFrame(pd.DataFrame({
            "doc_uid": [uid(i) for i in range(3)],
            "text": [_text(rng) for _ in range(3)],
        })), embed=False)
        r.remove_documents_batch([uid(5), uid(9)])
    return r


def _queries(rng):
    texts = [_text(rng) for _ in range(6)]
    texts += ["zzunknown qqnothing", "", None, "alpha zzunknown"]
    rng.shuffle(texts)
    ids = rng.sample(range(-50, 10_000_000), len(texts))
    return list(zip(ids, texts))


def _rows(df):
    """Sorted result rows; NaN mapped to a comparable token."""
    return sorted(
        tuple("nan" if isinstance(v, float) and math.isnan(v) else v
              for v in r)
        for r in df.collect()
    )


def _both_regimes(spark, r, qrows, n_results, score_round):
    """(driver rows, distributed rows) of one batch: query_df takes
    the driver regime, and the distributed regime answers the same
    collected rows."""
    qdf = spark.createDataFrame(pd.DataFrame(
        {"query_id": [q for q, _ in qrows], "query_text": [t for _, t in qrows]}
    ), "query_id long, query_text string")
    small = r.query_df(qdf, n_results=n_results, score_round=score_round)
    assert _is_local(small)
    big = r._query_df_distributed(
        [(q, t if t is not None else "") for q, t in qrows],
        n_results, score_round,
    )
    assert not _is_local(big)
    return _rows(small), _rows(big)


@pytest.mark.parametrize("numeric,embed,ann", [
    (False, True, None), (True, True, None), (False, False, None),
    (False, True, 10), (True, True, 10),
])
def test_driver_query_df_equals_distributed(spark, tmp_path, numeric,
                                            embed, ann):
    """Driver query_df == distributed query_df, row for row and float
    for float, with raw scores and score_round=6: queries answered by
    both legs, by the vector leg only (unknown terms), by the BM25 leg
    only (a state without vectors), by neither, and blank or None
    texts (the default embedder's zero vector: NaN scores), under caller-assigned
    non-contiguous ids, on a multi-generation state, with xxhash64 and
    with cast(doc_uid as long) ids. ``ann``: an ann_threshold below
    the corpus size, so both regimes take the IVF route (knn_ivf fed a
    list of query vectors on the driver, a DataFrame with the caller's
    ids in the distributed plan) over the same trained centroids. The
    distributed plan reports its vector leg's engine as "spark"."""
    rng = random.Random(hash((numeric, embed)) & 0xFFFF)
    r = _churned(spark, tmp_path / "s", rng, numeric=numeric, embed=embed)
    r.ann_threshold = ann
    qrows = _queries(rng)
    for score_round in (None, 6):
        small, big = _both_regimes(spark, r, qrows, 4, score_round)
        assert small == big, score_round
        if embed:  # the distributed plan's kNN leg ran on Spark
            assert r.last_vector_engine == "spark"
        if ann is not None:
            assert r.last_vector_route == "ivf"
        answered = {row[0] for row in small}
        assert answered, "the fixture must produce hits"
        if not embed:  # BM25 only: unknown and blank texts get nothing
            unknown = {q for q, t in qrows if not t or t.startswith("zz")}
            assert not answered & unknown


def test_driver_query_df_matches_query_and_launches_no_job(spark, tmp_path,
                                                            jobs):
    """On a fresh handle over a loaded state, a small query_df batch
    launches no Spark job at all — the vector matrix loads with
    pyarrow, the BM25 leg is scored on the driver, the result is a
    local relation — and its rows are query()'s, rank for rank."""
    rng = random.Random(5)
    path = tmp_path / "s"
    _churned(spark, path, rng)
    r = SparkHybridRetriever(spark, str(path))
    texts = [_text(rng) for _ in range(5)] + ["zzunknown"]
    jobs.mark()
    got = r.query_df(texts, n_results=3).collect()
    assert jobs.since() == 0
    want = r.query(texts, n_results=3, include=["distances"])
    by_q: dict = {}
    for row in sorted(got, key=lambda x: (x["query_id"], x["rank"])):
        by_q.setdefault(row["query_id"], []).append(
            (row["doc_uid"], row["distance"])
        )
    for qi in range(len(texts)):
        assert by_q[qi] == list(zip(want["ids"][qi], want["distances"][qi]))


def test_query_df_bounds_keep_distributed_plan(spark, tmp_path):
    """The driver regime's gate: unique query ids, and
    2 * |Q| * 2 * n_results within _QDF_BROADCAST_ROWS. The query count
    is bounded only through the leg rows, so a 1025-query batch stays
    on the driver; a repeated query id and an oversized n_results each
    keep the distributed plan; an empty batch is an empty local
    relation."""
    r = _churned(spark, tmp_path / "s", random.Random(9))
    assert _is_local(r.query_df(["alpha w1"] * 1025, n_results=2))
    dup = spark.createDataFrame(pd.DataFrame(
        {"query_id": [3, 3], "query_text": ["alpha", "beta"]}
    ), "query_id long, query_text string")
    assert not _is_local(r.query_df(dup, n_results=2))
    n_max = r._QDF_BROADCAST_ROWS // (2 * 2 * 2)
    assert _is_local(r.query_df(["alpha", "beta"], n_results=n_max))
    assert not _is_local(r.query_df(["alpha", "beta"], n_results=n_max + 1))
    r._QDF_BROADCAST_ROWS = 2 * 3 * 2 * 2  # |Q| = 3 at n_results = 2
    assert _is_local(r.query_df(["alpha"] * 3, n_results=2))
    assert not _is_local(r.query_df(["alpha"] * 4, n_results=2))
    empty = r.query_df([], n_results=3)
    assert _is_local(empty) and empty.collect() == []
    assert empty.schema == r.query_df(["alpha"], n_results=3).schema


def _sorted_cache(c: _VecCache):
    o = np.argsort(np.asarray(c.uids, dtype=object))
    return ([c.uids[i] for i in o], c.vec_ids[o], c.mat[o], c.doc_norms[o])


def _assert_same_matrix(a: _VecCache, b: _VecCache):
    ua, ia, ma, na = _sorted_cache(a)
    ub, ib, mb, nb = _sorted_cache(b)
    assert ua == ub
    assert ia.dtype == ib.dtype == np.int64 and np.array_equal(ia, ib)
    assert ma.shape == mb.shape and ma.tobytes() == mb.tobytes()
    assert na.tobytes() == nb.tobytes()


@pytest.mark.parametrize("seed", [1, 2])
def test_pyarrow_vec_matrix_equals_spark_load(spark, tmp_path, jobs, seed):
    """reader.vector_rows + the local-relation vec_ids == the Spark
    toPandas load over random add / upsert / remove stacks that mix
    pyarrow-written and Spark-written generations: uids, vec_ids, the
    matrix and the norms bit for bit after sorting by uid. The pyarrow
    load launches no job."""
    rng = random.Random(seed)
    r = SparkHybridRetriever(spark, str(tmp_path / "v"))
    live: set = set()
    for step in range(6):
        op = rng.choice(["add", "add", "df", "remove"]) if step else "add"
        if op == "remove" and live:
            r.remove_documents_batch(
                rng.sample(sorted(live), min(len(live), 4)) + ["nope"]
            )
        elif op == "df":
            ids = [f"u{rng.randint(0, 60)}" for _ in range(8)]
            r.add_documents_df(spark.createDataFrame(pd.DataFrame({
                "doc_uid": ids, "text": [_text(rng) for _ in ids],
            })))
        else:
            ids = [f"u{rng.randint(0, 60)}" for _ in range(10)]
            texts = [_text(rng) for _ in ids]
            texts[0] = ""  # a zero-norm vector
            r.add_documents_batch(texts, ids)
        live = {row["doc_uid"] for row in r.corpus_df().collect()}
        jobs.mark()
        fast = r._load_vec_matrix()
        assert jobs.since() == 0, step
        assert isinstance(fast, _VecCache) and set(fast.uids) == live
        _assert_same_matrix(fast, r._spark_vec_matrix())


def test_vector_footer_bound_falls_back_to_spark(spark, tmp_path, jobs):
    """Superseded vector rows count toward the footer bound, so a state
    whose live matrix fits vector_cache_max_floats exactly while its
    footers do not is decided by the Spark count: it still loads (with
    jobs), equal to the pyarrow load; one float less is 'too-big'."""
    r = SparkHybridRetriever(spark, str(tmp_path / "f"))
    ids = [f"u{i}" for i in range(20)]
    r.add_documents_batch([f"alpha w{i}" for i in range(20)], ids)
    r.add_documents_batch([f"beta w{i}" for i in range(20)], ids)
    exact = 20 * 64  # the default hashed-BoW embedder's dimension
    assert reader.vector_rows(r.state / "vectors", r.state / "corpus",
                              exact) is None
    fast = r._load_vec_matrix()  # default bound: pyarrow
    r.vector_cache_max_floats = exact
    jobs.mark()
    slow = r._load_vec_matrix()
    assert jobs.since() > 0
    assert isinstance(slow, _VecCache)
    _assert_same_matrix(fast, slow)
    r.vector_cache_max_floats = exact - 1
    assert r._load_vec_matrix() == "too-big"


def test_overlays_read_with_explicit_schemas(spark, tmp_path, jobs):
    """corpus_df() and vectors_df() over a 3-generation state build
    without a schema-inference job, and a legacy corpus generation
    written without meta_json reads it as null."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = SparkHybridRetriever(spark, str(tmp_path / "o"))
    r.add_documents_batch(["alpha one", "beta two"], ["a", "b"],
                          [{"k": 1}, {"k": 2}])
    r.add_documents_batch(["gamma three"], ["c"])
    r.remove_documents_batch(["b"])
    legacy = r.state / "corpus" / "gen_00009.parquet"
    legacy.mkdir()
    pq.write_table(pa.table({
        "doc_uid": ["z"], "text": ["legacy text"], "deleted": [False],
    }), legacy / "part-00000.parquet")
    jobs.mark()
    corpus, vectors = r.corpus_df(), r.vectors_df()
    assert jobs.since() == 0
    got = {row["doc_uid"]: row["meta_json"] for row in corpus.collect()}
    assert got == {"a": '{"k": 1}', "c": None, "z": None}
    assert sorted(row["doc_uid"] for row in vectors.collect()) == ["a", "c"]

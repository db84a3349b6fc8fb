"""build_sharded_index's two paths write the same base index, and the
facade's small list-API writes launch no Spark job.

The driver path (a fresh build of a local relation of at most
reader.MAX_POINT_IDS rows) and the Spark path (any other input) build
random corpora into two directories. They agree on every shard row
(term, segment, df, the three byte streams, blocks) in every
group=G/bucket=B dir, on every doc_stats row, on stats.json's totals
and on the manifests' postings and bytes. The facade tests pin the
zero-job small writes, a uid repeated within one batch, and
pyarrow-written corpus and vector generations read back like
Spark-written ones.
"""

from __future__ import annotations

import json
import random
import shutil
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bm25_chroma_spark.config import BM25Config
from bm25_chroma_spark.index import reader
from bm25_chroma_spark.index.shards import ShardedIndex, build_sharded_index
from bm25_chroma_spark.plans.retriever import (
    CORPUS_DDL,
    VECTORS_DDL,
    SparkHybridRetriever,
)

DDL = "doc_id long, text string"
WORDS = (
    [f"w{i}" for i in range(30)] + ["hot"] * 8
    + ["café", "naïve", "日本語", "straße", "ÆON", "x1"]
)


def _text(rng: random.Random):
    pick = rng.random()
    if pick < 0.06:
        return rng.choice(["", "! ? .", "a b c", None])  # no token
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 12)))


def _rows(d: Path) -> list:
    """Every row of every parquet data file under ``d``, tagged with
    its directory relative to ``d``."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(d.rglob("*")):
        if not f.is_file() or f.name.startswith(("_", ".")):
            continue
        for r in pq.read_table(f).to_pylist():
            out.append((str(f.parent.relative_to(d)),) + tuple(
                (k, tuple(tuple(sorted(b.items())) for b in v)
                 if k == "blocks" else v)
                for k, v in sorted(r.items())
            ))
    return sorted(out)


def _manifest(d: Path, g: int) -> dict:
    return json.loads((d / "manifests" / f"group_{g}.json").read_text())


def _assert_same_index(drv: Path, spk: Path, groups: int) -> None:
    assert _rows(drv / "shards") == _rows(spk / "shards")
    assert _rows(drv / "doc_stats.parquet") == _rows(spk / "doc_stats.parquet")
    sd, ss = (json.loads((d / "stats.json").read_text()) for d in (drv, spk))
    for k in ("n_docs", "sum_dl", "avgdl", "config_hash",
              "build_cap_enforced", "config"):
        assert sd[k] == ss[k], k  # avgdl compared with ==
    for g in range(groups):
        assert (drv / "shards" / f"group={g}").is_dir()
        md, ms = _manifest(drv, g), _manifest(spk, g)
        assert md["status"] == ms["status"] == "complete"
        assert md["config_hash"] == ms["config_hash"]
        assert md["lineage"] == ms["lineage"]
        for k in ("postings", "bytes"):
            assert md["metrics"][k] == ms["metrics"][k], (g, k)
        # exact on the driver (an HLL estimate in Spark)
        terms = {dict(r[1:])["term"]
                 for r in _rows(drv / "shards" / f"group={g}")}
        assert md["metrics"]["terms"] == len(terms)
    assert not (drv / "partials.parquet").exists()
    assert not (spk / "partials.parquet").exists()


@pytest.mark.parametrize("cap,groups", [
    (None, 1), (None, 4), (5, 1), (5, 4),
])
def test_driver_build_equals_spark_build_fuzz(
    spark, tmp_path, jobs, cap, groups
):
    cfg = BM25Config(
        num_term_buckets=6, salt_factor=3, block_size=4,
        max_postings_per_term=cap, query_postings_cap=None,
    )
    for trial in range(2):
        rng = random.Random(100 * trial + (cap or 0) + groups)
        docs = {}
        while len(docs) < rng.randint(20, 70):
            # full-range ids: negative and huge, like xxhash64 doc ids
            docs[rng.randint(-(2**63), 2**63 - 1)] = _text(rng)
        rows = list(docs.items())
        drv, spk = tmp_path / f"drv{trial}", tmp_path / f"spk{trial}"
        jobs.mark()
        got_d = build_sharded_index(
            spark.createDataFrame(
                pd.DataFrame(rows, columns=["doc_id", "text"]), DDL
            ),
            str(drv), config=cfg, bucket_groups=groups,
        )
        assert jobs.since() == 0, "the small local build left the driver"
        jobs.mark()
        got_s = build_sharded_index(  # a list-built frame is no local
            spark.createDataFrame(rows, DDL),  # relation: Spark path
            str(spk), config=cfg, bucket_groups=groups,
        )
        assert jobs.since() > 0
        for k in ("groups", "postings", "bytes", "n_docs", "avgdl"):
            assert got_d[k] == got_s[k], k
        _assert_same_index(drv, spk, groups)
    if cap:
        # the cap was binding: 'hot' holds exactly cap postings
        rows = reader.shard_rows(
            ShardedIndex(spark, str(drv)), ["hot"], ("term", "segment", "df")
        )
        assert sum(r["df"] for r in rows) == cap


def test_spark_resume_completes_a_driver_build(spark, tmp_path):
    """A driver build that lost its last group (a crash before that
    group's manifest) is finished by the Spark path's resume into the
    same index as an uninterrupted build."""
    cfg = BM25Config(num_term_buckets=8, salt_factor=2, block_size=4,
                     max_postings_per_term=None, query_postings_cap=None)
    rng = random.Random(7)
    rows = [(i * 7919 - 10**6, _text(rng)) for i in range(40)]
    local = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]), DDL
    )
    whole, cut = tmp_path / "whole", tmp_path / "cut"
    build_sharded_index(local, str(whole), config=cfg, bucket_groups=3)
    build_sharded_index(local, str(cut), config=cfg, bucket_groups=3)
    (cut / "manifests" / "group_2.json").unlink()
    shutil.rmtree(cut / "shards" / "group=2")
    build_sharded_index(local, str(cut), config=cfg, bucket_groups=3)
    assert _rows(cut / "shards") == _rows(whole / "shards")
    assert _rows(cut / "doc_stats.parquet") == _rows(
        whole / "doc_stats.parquet"
    )
    for k in ("n_docs", "sum_dl", "avgdl"):
        assert json.loads((cut / "stats.json").read_text())[k] == json.loads(
            (whole / "stats.json").read_text())[k]


def _words(i: int) -> str:
    return f"doc{i} topic{i % 13} shared{i % 4} tail{i % 101}"


def test_small_list_api_ingest_launches_no_job(spark, tmp_path, jobs):
    """A fresh reader.MAX_POINT_IDS-doc add_documents_batch builds the
    index and writes both generations on the driver: 0 Spark jobs."""
    n = reader.MAX_POINT_IDS
    r = SparkHybridRetriever(spark, str(tmp_path / "s"))
    jobs.mark()
    r.add_documents_batch([_words(i) for i in range(n)],
                          [f"u{i}" for i in range(n)])
    assert jobs.since() == 0
    assert r._index.n_docs == n
    got = r.query(["topic7 tail7"], n_results=3)
    assert got["ids"][0][0] == "u7"


def _live(r: SparkHybridRetriever):
    corpus = sorted(
        tuple(x.asDict().items()) for x in r.corpus_df().collect()
    )
    vectors = sorted(
        (x["doc_uid"], tuple(x["embedding"]))
        for x in r.vectors_df().collect()
    )
    uids = [u for (_, u), *_ in corpus] + ["unknown"]
    return corpus, vectors, r._live_rows(uids).to_dict("list")


def _spark_writes_gens(r: SparkHybridRetriever, m) -> None:
    """Route ``r``'s pyarrow generation writes through a Spark write
    of the same rows in the same schema."""

    def write(sub, columns):
        ddl = CORPUS_DDL if sub == "corpus" else VECTORS_DDL
        r.spark.createDataFrame(pd.DataFrame(columns), ddl).write.parquet(
            str(r._next_gen(sub))
        )

    m.setattr(r, "_write_local_gen", write)


def test_pyarrow_generations_read_like_spark_ones(
    spark, tmp_path, monkeypatch
):
    """Corpus and vector generations written by pyarrow read back
    through corpus_df, vectors_df and reader.corpus_rows exactly as
    Spark-written ones do, and _compact_store folds a stack mixing
    both into the same live rows."""
    fast = SparkHybridRetriever(spark, str(tmp_path / "fast"))
    slow = SparkHybridRetriever(spark, str(tmp_path / "slow"))
    metas = [{"k": i} if i % 3 else None for i in range(30)]
    steps = [
        ("add", [_words(i) for i in range(30)],
         [f"u{i}" for i in range(30)], metas),
        ("add", [_words(i + 50) for i in range(10)],
         [f"u{i}" for i in range(25, 35)], None),
        ("remove", None, ["u3", "u27", "u31", "nope"], None),
    ]
    for op, docs, ids, md in steps:
        for r in (fast, slow):
            with monkeypatch.context() as m:
                if r is slow:
                    m.setattr(reader, "MAX_POINT_IDS", 0)
                    _spark_writes_gens(slow, m)
                if op == "add":
                    r.add_documents_batch(docs, ids, metadatas=md)
                else:
                    r.remove_documents_batch(ids)
        assert _live(fast) == _live(slow)
    # fast's generations are pyarrow files, slow's Spark part files
    assert all((g / "part-00000.parquet").exists()
               for g in fast._corpus_gens())
    assert not any((g / "part-00000.parquet").exists()
                   for g in slow._corpus_gens())

    # a Spark-written generation on top of the pyarrow ones, then fold
    with monkeypatch.context() as m:
        _spark_writes_gens(fast, m)
        fast.add_documents_batch(["late text here"], ["late"])
    before = _live(fast)
    fast._compact_store(
        "corpus", fast.corpus_df().withColumn("deleted", F.lit(False))
    )
    fast._compact_store("vectors", fast.vectors_df())
    assert len(fast._corpus_gens()) == 1
    assert len(list((fast.state / "vectors").glob("gen_*.parquet"))) == 1
    assert _live(fast) == before


def test_large_list_batch_writes_pyarrow_gens(spark, tmp_path):
    """A list-API batch above reader.MAX_POINT_IDS docs (Spark index
    build) writes its corpus and vector generations with pyarrow too,
    and reads back whole."""
    n = reader.MAX_POINT_IDS + 1
    r = SparkHybridRetriever(spark, str(tmp_path / "s"))
    r.add_documents_batch([_words(i) for i in range(n)],
                          [f"u{i}" for i in range(n)])
    for sub in ("corpus", "vectors"):
        (g,) = (r.state / sub).glob("gen_*.parquet")
        assert (g / "part-00000.parquet").exists()
        assert (g / "_SUCCESS").exists()
    assert r._index.n_docs == n
    assert r.get_system_stats()["vector_chunks"] == n
    assert r.query(["topic7 tail7"], n_results=3)["ids"][0][0] == "u7"


@pytest.mark.parametrize("loaded", [False, True], ids=["fresh", "loaded"])
@pytest.mark.parametrize("shared", [False, True],
                         ids=["disjoint", "shared_term"])
def test_repeated_uid_in_one_batch_keeps_last(spark, tmp_path, loaded,
                                              shared):
    """A uid given twice in one add_documents_batch keeps its last
    text and metadata: one corpus row, one vector and one set of
    postings, whether or not the two texts share a term."""
    r = SparkHybridRetriever(spark, str(tmp_path / "s"))
    if loaded:
        r.add_documents_batch(["alpha beta", "gamma delta"], ["a", "x"])
    first, last = ("zebra common", "yak common") if shared else (
        "zebra", "yak")
    got = r.add_documents_batch(
        [first, "other words", last], ["x", "y", "x"],
        metadatas=[{"v": 1}, {"v": 2}, {"v": 3}],
    )
    assert got["total_documents"] == 3
    n = 3 if loaded else 2
    st = r.get_system_stats()
    assert (st["chunks"], st["vector_chunks"], st["cached_chunks"]) == (
        n, n, n)
    assert r._index.postings_rows(["zebra"]) == {"zebra": []}
    res = r.query(["yak"], n_results=5)
    assert res["ids"][0][0] == "x"
    assert res["documents"][0][0] == last
    assert res["metadatas"][0][0] == {"v": 3}
    if shared:
        rows = r._index.postings_rows(["common"])["common"]
        assert sum(x.df for x in rows) == 1

"""Driver-side parquet reader (index/reader.py): it must return exactly
the rows of the Spark scans it replaces — ShardedIndex.shards_for_terms
and the filtered corpus_df() — after any DML history, and every bound
it uses must fall back to the Spark path with the same rows. On a
loaded state a fresh interactive query then launches no Spark job.
"""

from __future__ import annotations

import random
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from bm25_chroma_spark.index.reader import corpus_rows, shard_rows
from bm25_chroma_spark.index.shards import bucket_of
from bm25_chroma_spark.plans.retriever import SparkHybridRetriever


def _shard_key(d) -> tuple:
    return (
        d["term"], d["segment"], d["df"], bytes(d["doc_bytes"]),
        bytes(d["tf_bytes"]), bytes(d["dl_bytes"]),
        tuple(tuple(sorted(b.items())) for b in d["blocks"]),
    )


def _spark_shards(idx, terms):
    return sorted(
        _shard_key(r.asDict(recursive=True))
        for r in idx.shards_for_terms(terms).collect()
    )


def _spark_corpus(r, uids):
    return {
        x["doc_uid"]: (x["text"], x["meta_json"])
        for x in r.corpus_df().filter(F.col("doc_uid").isin(uids)).collect()
    }


def _vocab(n_buckets: int = 8):
    """Words of group 0 (even buckets, bucket_groups=2) plus one word
    of group 1: once its only doc is deleted and the index compacted,
    group 1 holds no live row and compaction back-fills an empty
    group=1 dir."""
    cands = [f"w{i}" for i in range(200)]
    even = [w for w in cands if bucket_of(w, n_buckets) % 2 == 0][:24]
    solo = next(w for w in cands if bucket_of(w, n_buckets) % 2 == 1)
    return even, solo


def test_reader_matches_spark_overlay_fuzz(spark, tmp_path):
    """Random add / upsert (incl. upsert-to-empty-text) / remove /
    compaction / reset + re-ingest sequences: after every step the
    reader's shard rows (bytes, blocks, df) and corpus rows (text,
    meta_json) equal the Spark overlay's. The sequence must cover df=0
    tombstones, a compaction's back-filled empty group dir, and a
    corpus generation written without meta_json."""
    import pyarrow.parquet as pq

    rng = random.Random(7)
    words, solo = _vocab()
    r = SparkHybridRetriever(
        spark, str(tmp_path / "fz"), bucket_groups=2, auto_compact_after=0
    )
    live: set = set()
    next_id = [0]
    seen = {"tombstone": False, "backfill": False, "no_meta": False}

    def text():
        return " ".join(rng.choice(words) for _ in range(rng.randint(2, 6)))

    def add(n, extra=None):
        ids = [f"d{next_id[0] + i}" for i in range(n)]
        next_id[0] += n
        texts = [text() for _ in ids]
        if extra:
            ids.append(extra[0])
            texts.append(extra[1])
        metas = [{"i": i} if rng.random() < 0.5 else None for i in ids]
        r.add_documents_batch(texts, ids, metas)
        live.update(ids)

    def upsert():
        ids = rng.sample(sorted(live), 3)
        texts = [text(), text(), ""]  # the last one upserts to empty
        r.add_documents_batch(texts, ids)

    def remove():
        ids = rng.sample(sorted(live - {"solo"}), 2) + ["unknown-uid"]
        r.remove_documents_batch(ids)
        live.difference_update(ids)

    def legacy_gen():
        # a corpus generation without meta_json (same texts, so the
        # index stays consistent): its rows read meta_json as None
        ids = rng.sample(sorted(live), 2)
        rows = r.corpus_df().filter(F.col("doc_uid").isin(ids)).select(
            "doc_uid", "text", F.lit(False).alias("deleted")
        )
        rows.write.parquet(str(r._next_gen("corpus")))
        seen["no_meta"] = True

    def compact():
        r.remove_documents_batch(["solo"])
        live.discard("solo")
        r.auto_compact_after = 1
        r._maybe_compact()
        r.auto_compact_after = 0
        shards = r._index.path / "shards"
        seen["backfill"] |= (shards / "group=1" / "bucket=0").exists()

    def reset():
        r.reset_collection()
        live.clear()
        add(6, extra=("solo", f"{solo} {words[0]}"))

    def check():
        idx = r._index
        terms = words + [solo, "zzunknown"]
        assert sorted(map(_shard_key, shard_rows(idx, terms))) == \
            _spark_shards(idx, terms)
        got = shard_rows(idx, terms, ("term", "segment", "df"))
        want = sorted(
            (x["term"], x["segment"], x["df"])
            for x in idx.shards_for_terms(terms).collect()
        )
        assert sorted((x["term"], x["segment"], x["df"]) for x in got) \
            == want
        uids = sorted(live) + ["d0", "d1", "d2", "solo", "unknown-uid"]
        assert corpus_rows(r.state / "corpus", uids, 1 << 30) == \
            _spark_corpus(r, uids)
        for f in (idx.path / "gen").glob("gen_*/shards/*.parquet"):
            with pq.ParquetFile(str(f)) as pf:
                dfs = pf.read(columns=["df"]).column("df").to_pylist()
            seen["tombstone"] |= 0 in dfs

    add(10, extra=("solo", f"{solo} {words[1]} {words[2]}"))
    check()
    middle = [upsert, remove, legacy_gen, upsert, remove]
    rng.shuffle(middle)
    for step in middle + [compact, upsert, reset, upsert, remove]:
        step()
        check()
    assert all(seen.values()), seen


def _loaded(spark, tmp_path, name="zj"):
    r = SparkHybridRetriever(spark, str(tmp_path / name))
    n = 60
    r.add_documents_batch(
        [f"alpha beta common{i % 7} anchor{i} tail{i % 3}" for i in range(n)],
        [f"doc{i}" for i in range(n)],
        [{"k": i} for i in range(n)],
    )
    r.query(["alpha beta"], n_results=5)  # loads the vector cache
    return r


def test_fresh_query_and_search_bm25_zero_jobs(spark, tmp_path, jobs):
    """On a loaded state a fresh query() (its anchor in no cache) and a
    fresh search_bm25 launch no Spark job, and return the same ids,
    ranks and distances as a handle whose lookups all go through
    Spark (reader budget 1 byte, no vector cache)."""
    r = _loaded(spark, tmp_path)
    jobs.mark()
    got_q = r.query(["anchor17 common3 tail1"], n_results=5)
    got_b = r.search_bm25("anchor41 common5", top_k=5)
    assert jobs.since() == 0, "a fresh query on a loaded state ran jobs"
    assert got_q["ids"][0] and got_b

    s = SparkHybridRetriever(spark, str(r.state))
    s._index.postings_cache_bytes = 1
    s.vector_cache_max_floats = 0
    jobs.mark()
    want_q = s.query(["anchor17 common3 tail1"], n_results=5)
    want_b = s.search_bm25("anchor41 common5", top_k=5)
    assert jobs.since() > 0
    assert s.last_vector_engine == "spark"
    assert got_q == want_q
    assert got_b == want_b


def test_reader_bounds_fall_back_to_spark(spark, tmp_path, jobs):
    """Each bound of the reader keeps the Spark path, with the same
    rows: shard column chunks over postings_cache_bytes (postings and
    df reads), corpus column chunks over it, and more than 1024 uids
    or doc ids."""
    r = _loaded(spark, tmp_path, name="fb")
    idx = r._index
    terms = ["alpha", "anchor5", "common2", "nosuchterm"]
    rows = shard_rows(idx, terms)
    assert rows

    fresh = SparkHybridRetriever(spark, str(r.state))
    fidx = fresh._index
    fidx.postings_cache_bytes = 1
    assert shard_rows(fidx, terms) is None
    jobs.mark()
    via_spark = fidx.postings_rows(terms)
    assert jobs.since() > 0
    assert sorted(
        _shard_key({k: getattr(x, k) for k in x.__slots__})
        for xs in via_spark.values() for x in xs
    ) == sorted(map(_shard_key, rows))

    # df read over the bound: the distributed engine still ranks the same
    from bm25_chroma_spark.index.wand import search_sharded

    q = [(0, "alpha anchor5 common2")]
    want = search_sharded(idx, q, top_k=5, strategy="exhaustive").collect()
    fidx._df_cache.clear()
    jobs.mark()
    got = search_sharded(fidx, q, top_k=5, strategy="exhaustive").collect()
    assert jobs.since() > 0
    assert got == want

    uids = [f"doc{i}" for i in range(0, 60, 7)]
    texts, metas = r._texts_for_uids(uids)  # reader path
    assert len(texts) == len(uids)
    assert corpus_rows(r.state / "corpus", uids, 1) is None
    fresh._doc_cache.clear()
    jobs.mark()
    assert fresh._texts_for_uids(uids) == (texts, metas)
    assert jobs.since() > 0

    many = uids + [f"missing{i}" for i in range(1100)]
    big = SparkHybridRetriever(spark, str(r.state))
    jobs.mark()
    assert big._texts_for_uids(many) == (texts, metas)
    assert jobs.since() > 0

    id_of = {
        x["doc_uid"]: x["doc_id"] for x in r._uid_map().collect()
    }
    ids = [id_of[u] for u in uids] + list(range(1, 1100))
    jobs.mark()
    assert big._uids_for_doc_ids(ids) == {id_of[u]: u for u in uids}
    assert jobs.since() > 0


def test_query_postings_bound_keeps_distributed_engine(
    spark, tmp_path, jobs, monkeypatch
):
    """A query whose postings exceed CACHE_MAX_QUERY_POSTINGS keeps the
    distributed engine (Spark jobs) and ranks like the driver-local
    path (scores up to float summation order)."""
    import math

    from bm25_chroma_spark.index import wand

    r = _loaded(spark, tmp_path, name="qb")
    q = "alpha anchor9 common4"
    local = r.search_bm25(q, top_k=5)
    monkeypatch.setattr(wand, "CACHE_MAX_QUERY_POSTINGS", 0)
    jobs.mark()
    dist = r.search_bm25(q, top_k=5)
    assert jobs.since() > 0
    assert [u for u, _ in dist] == [u for u, _ in local]
    assert all(
        math.isclose(a, b, rel_tol=1e-9)
        for (_, a), (_, b) in zip(dist, local)
    )

def test_reader_loads_no_pyarrow_dataset(tmp_path):
    """The reader goes through pq.ParquetFile; pq.read_table(filters=)
    would load pyarrow.dataset (~3.6 MB more driver RSS)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen = tmp_path / "corpus" / "gen_00001.parquet"
    gen.mkdir(parents=True)
    pq.write_table(
        pa.table({"doc_uid": ["a", "b"], "text": ["x", "y"],
                  "deleted": [False, True]}),
        gen / "part-0.parquet",
    )
    code = (
        "import sys; from pathlib import Path; "
        "from bm25_chroma_spark.index.reader import corpus_rows; "
        f"out = corpus_rows(Path({str(tmp_path / 'corpus')!r}), "
        "['a', 'b'], 1 << 20); "
        "assert out == {'a': ('x', None)}, out; "
        "assert 'pyarrow.dataset' not in sys.modules"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd=str(Path(__file__).resolve().parents[1]))

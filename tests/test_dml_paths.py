"""apply_dml's two paths (index/dml.py) must write the same index.

The driver path (small batches: collected inputs, reader point reads,
one-slice decode, pyarrow write) and the distributed path (Spark joins)
run the same random batch sequences on two copies of one index. After
every batch, and again after compact_index, the copies agree on every
stored row: each generation's shard rows (bytes, blocks, df — df=0
tombstones included) and doc_stats rows, the compacted base, and
stats.json's n_docs / sum_dl / avgdl, which also equal a fresh
aggregate over the live doc_stats. Each bound of the driver path falls
back to the distributed path, and a legacy stats.json without sum_dl
takes the distributed path once.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bm25_chroma_spark.config import BM25Config
from bm25_chroma_spark.index import dml, reader, wand
from bm25_chroma_spark.index.shards import ShardedIndex, build_sharded_index

DDL = "doc_id long, text string"
WORDS = [f"w{i}" for i in range(40)] + ["hot"] * 6


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 9)))


def _rows(d: Path) -> list:
    """Every row of every parquet data file under ``d``, tagged with
    its directory relative to ``d`` (so partition dirs count)."""
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


def _state(idx: Path) -> dict:
    stats = json.loads((idx / "stats.json").read_text())
    gens = sorted(p.name for p in (idx / "gen").glob("gen_*")) \
        if (idx / "gen").exists() else []
    return {
        "stats": {k: stats[k] for k in ("n_docs", "sum_dl", "avgdl",
                                        "generation")},
        "base": _rows(idx / "shards"),
        "base_ds": _rows(idx / "doc_stats.parquet"),
        "gens": {g: (_rows(idx / "gen" / g / "shards"),
                     _rows(idx / "gen" / g / "doc_stats")) for g in gens},
    }


def _assert_live_totals(spark, idx: Path) -> None:
    stats = json.loads((idx / "stats.json").read_text())
    row = dml._live_doc_stats(spark, idx).agg(
        F.count("*").alias("n"), F.sum("dl").alias("s"),
        F.avg("dl").alias("a"),
    ).collect()[0]
    assert stats["n_docs"] == row["n"]
    assert stats["sum_dl"] == (row["s"] or 0)
    assert stats["avgdl"] == (row["a"] or 0.0)  # bit-identical


class _Spy:
    """Counts the distributed path's calls."""

    def __init__(self, monkeypatch):
        self.calls = 0
        real = dml._distributed_batch

        def spy(*a, **k):
            self.calls += 1
            return real(*a, **k)

        monkeypatch.setattr(dml, "_distributed_batch", spy)


def _frame(spark, rows, local: bool):
    if rows is None:
        return None
    if local:  # a pandas-built local relation: collected with no job
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"]), DDL
        )
    return spark.createDataFrame(rows, DDL)


def _build(spark, root: Path, cfg: BM25Config, docs) -> list:
    out = []
    for name in ("driver", "dist"):
        d = root / name
        build_sharded_index(
            spark.createDataFrame(docs, DDL), str(d), config=cfg,
            bucket_groups=2,
        )
        out.append(d)
    return out


@pytest.mark.parametrize("cap", [None, 6])
def test_driver_path_equals_distributed_fuzz(
    spark, tmp_path, monkeypatch, cap
):
    rng = random.Random(20 + (cap or 0))
    cfg = BM25Config(
        num_term_buckets=4, salt_factor=3, block_size=4,
        max_postings_per_term=cap, query_postings_cap=None,
    )
    # full-range ids: negative and huge, like xxhash64 doc ids
    corpus = {}
    while len(corpus) < 30:
        corpus[rng.randint(-(2**63), 2**63 - 1)] = _text(rng)
    a, b = _build(spark, tmp_path, cfg, sorted(corpus.items()))
    spy = _Spy(monkeypatch)
    seen = set()
    for step in range(6):
        ups, dels = [], []
        live = sorted(corpus)
        for _ in range(rng.randint(1, 3)):  # new ids
            ups.append((rng.randint(-(2**63), 2**63 - 1), _text(rng)))
            seen.add("new")
        for d in rng.sample(live, 2):  # re-upsert, old text deleted
            ups.append((d, _text(rng)))
            dels.append((d, corpus[d]))
            seen.add("reupsert")
        if step % 2 == 0:  # upsert to text with no token
            d = rng.choice([x for x in live if x not in {u for u, _ in ups}])
            ups.append((d, rng.choice(["", "! ?", "a b c"])))
            dels.append((d, corpus[d]))
            seen.add("to_empty")
        if step % 3 != 2:  # unknown id with a text of known terms
            dels.append((rng.randint(1, 10**6), _text(rng)))
            seen.add("unknown")
        touched = {u for u, _ in ups} | {d for d, _ in dels}
        for d in rng.sample([x for x in live if x not in touched], 2):
            dels.append((d, corpus[d]))  # plain delete
            seen.add("delete")
        if step == 4:
            dels, ups = [], ups[:1]  # upserts only
        if step == 5:
            ups = []  # deletes only
        local = step % 2 == 0
        calls = spy.calls
        got_a = dml.apply_dml(
            spark, str(a), upserts=_frame(spark, ups or None, local),
            delete_docs=_frame(spark, dels or None, local),
        )
        assert spy.calls == calls, "the batch left the driver path"
        with monkeypatch.context() as m:
            m.setattr(reader, "MAX_POINT_IDS", 0)
            got_b = dml.apply_dml(
                spark, str(b), upserts=_frame(spark, ups or None, local),
                delete_docs=_frame(spark, dels or None, local),
            )
        assert spy.calls == calls + 1
        assert got_a == got_b
        assert _state(a) == _state(b)
        _assert_live_totals(spark, a)
        for d, _ in dels:
            corpus.pop(d, None)
        for d, t in ups:
            corpus[d] = t
        assert got_a["live_docs"] == sum(
            1 for t in corpus.values()
            if any(len(w) >= 2 for w in t.split())
        )
    assert seen == {"new", "reupsert", "to_empty", "unknown", "delete"}
    if cap:
        # the cap was binding: 'hot' holds exactly cap postings
        rows = reader.shard_rows(
            ShardedIndex(spark, str(a)), ["hot"], ("term", "segment", "df")
        )
        assert sum(r["df"] for r in rows) == cap
    for d in (a, b):
        dml.compact_index(spark, str(d))
    assert _state(a) == _state(b)
    _assert_live_totals(spark, a)


def _small(spark, root: Path):
    cfg = BM25Config(
        num_term_buckets=4, salt_factor=2, block_size=4,
        max_postings_per_term=None, query_postings_cap=None,
    )
    docs = [(i, f"w{i % 7} w{i % 5} common") for i in range(1, 25)]
    return _build(spark, root, cfg, docs)


def _batch(spark):
    return dict(
        upserts=spark.createDataFrame(
            pd.DataFrame({"doc_id": [3, 99], "text": ["w1 fresh", "new w2"]}),
            DDL,
        ),
        delete_docs=spark.createDataFrame(
            pd.DataFrame({"doc_id": [3, 4], "text": ["w3 w3 common",
                                                     "w4 w4 common"]}),
            DDL,
        ),
    )


@pytest.mark.parametrize("bound", [
    "ids", "postings", "bytes", "legacy_stats",
])
def test_each_bound_falls_back_to_distributed(
    spark, tmp_path, monkeypatch, jobs, bound
):
    a, b = _small(spark, tmp_path)
    spy = _Spy(monkeypatch)
    jobs.mark()
    got_a = dml.apply_dml(spark, str(a), **_batch(spark))
    assert spy.calls == 0 and jobs.since() == 0
    with monkeypatch.context() as m:
        if bound == "ids":
            m.setattr(reader, "MAX_POINT_IDS", 3)
        elif bound == "postings":
            m.setattr(wand, "CACHE_MAX_QUERY_POSTINGS", 5)
        elif bound == "bytes":
            m.setattr(ShardedIndex, "postings_cache_bytes", 1)
        else:
            stats = json.loads((b / "stats.json").read_text())
            del stats["sum_dl"]
            (b / "stats.json").write_text(json.dumps(stats))
        got_b = dml.apply_dml(spark, str(b), **_batch(spark))
    assert spy.calls == 1
    assert got_a == got_b
    assert _state(a) == _state(b)  # the fallback also wrote sum_dl
    if bound == "legacy_stats":
        # sum_dl is back: the next batch takes the driver path
        dml.apply_dml(spark, str(b), delete_docs=spark.createDataFrame(
            pd.DataFrame({"doc_id": [5], "text": ["w5 w0 common"]}), DDL
        ))
        assert spy.calls == 1
        _assert_live_totals(spark, b)


def test_driver_batch_job_counts(spark, tmp_path, jobs):
    """Local (pandas-built) inputs collect with no Spark job; inputs
    that need a scan collect in one limited job."""
    a, _ = _small(spark, tmp_path)
    for local, most in ((True, 0), (False, 1)):
        jobs.mark()
        dml.apply_dml(
            spark, str(a),
            upserts=_frame(spark, [(200 + most, "w1 zz")], local),
            delete_docs=_frame(spark, [(6, "w6 w1 common")], local),
        )
        assert jobs.since() <= most

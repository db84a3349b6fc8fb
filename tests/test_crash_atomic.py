"""Crash-atomicity of the destructive maintenance paths.

Protocol under test (index/dml.py):
* apply_dml publishes each generation with ONE atomic rename of a
  dot-prefixed staging dir (readers glob gen_*, so a torn generation
  is never visible); the stats write comes after, and recover_index
  reconciles a lost stats write on the next open.
* compact_index writes both staging dirs, lands a commit marker, and
  only then runs the destructive promote — _finish_compaction replays
  the promote idempotently from ANY crash point after the marker.
* SparkHybridRetriever._compact_store renames the live snapshot in as
  the newest generation BEFORE deleting the old ones (newest-wins
  overlay keeps every intermediate state readable and identical).

Each test injects a crash (monkeypatched shutil.rmtree / Path.rename /
_write_stats raising mid-protocol), reopens the index, and asserts
zero data loss: search results are byte-identical to the expected
state, and a retry of the interrupted operation succeeds.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bm25_chroma_spark.config import BM25Config
from bm25_chroma_spark.index import dml as dml_mod
from bm25_chroma_spark.index import reader
from bm25_chroma_spark.index.dml import apply_dml, compact_index
from bm25_chroma_spark.index.shards import ShardedIndex, build_sharded_index
from bm25_chroma_spark.index.wand import search_sharded

CFG = BM25Config(
    num_term_buckets=4,
    salt_factor=2,
    block_size=8,
    max_postings_per_term=None,
    query_postings_cap=None,
)

DOCS = [
    (1, "spark shuffle join broadcast"),
    (2, "spark join filter pushdown"),
    (3, "varint posting list compression"),
    (4, "block max wand pruning"),
    (5, "shuffle partition skew salt"),
    (6, "parquet scan column pruning"),
]
QUERIES = [(0, "spark join"), (1, "shuffle skew"), (2, "wand pruning")]


def _build(spark, out: str):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_sharded_index(docs, out, config=CFG, bucket_groups=2)
    return out


def _results(spark, idx_dir: str):
    idx = ShardedIndex(spark, idx_dir)
    rows = search_sharded(idx, QUERIES, top_k=10).collect()
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rows
    )


def _dml_delete(spark, idx_dir: str, doc_id: int, text: str):
    apply_dml(
        spark,
        idx_dir,
        delete_docs=spark.createDataFrame(
            [(doc_id, text)], "doc_id long, text string"
        ),
    )


# ------------------------------------------------------------------ #
# apply_dml generation commit                                         #
# ------------------------------------------------------------------ #

DML_PATHS = ["driver", "distributed"]


def _force_path(path: str, monkeypatch) -> None:
    """A one-doc batch takes apply_dml's driver path; an id bound of 0
    sends it to the distributed path."""
    if path == "distributed":
        monkeypatch.setattr(reader, "MAX_POINT_IDS", 0)


@pytest.mark.parametrize("path", DML_PATHS)
def test_dml_crash_before_rename_loses_batch_not_index(
    spark, tmp_path, monkeypatch, path
):
    """Crash before the commit rename: the batch is lost, the index is
    untouched and consistent; a retry applies the batch cleanly."""
    idx_dir = _build(spark, str(tmp_path / "idx"))
    before = _results(spark, idx_dir)
    _force_path(path, monkeypatch)

    real_rename = Path.rename

    def boom(self, target):
        if ".tmp_gen_" in self.name:
            raise RuntimeError("injected crash before commit rename")
        return real_rename(self, target)

    monkeypatch.setattr(Path, "rename", boom)
    with pytest.raises(RuntimeError, match="injected"):
        _dml_delete(spark, idx_dir, 1, DOCS[0][1])
    monkeypatch.undo()
    _force_path(path, monkeypatch)

    # reopen: nothing changed, no torn generation visible
    assert _results(spark, idx_dir) == before
    assert not list((Path(idx_dir) / "gen").glob("gen_*"))

    # retry succeeds and doc 1 is gone
    _dml_delete(spark, idx_dir, 1, DOCS[0][1])
    after = _results(spark, idx_dir)
    assert all(d != 1 for _, _, d, _ in after)


@pytest.mark.parametrize("path", DML_PATHS)
def test_dml_crash_after_rename_recovers_stats(
    spark, tmp_path, monkeypatch, path
):
    """Crash between the gen rename and the stats write: the batch IS
    committed; recover_index reconciles stats.json (n_docs, sum_dl,
    avgdl) on next open."""
    idx_dir = _build(spark, str(tmp_path / "idx"))
    stats0 = json.loads((Path(idx_dir) / "stats.json").read_text())
    _force_path(path, monkeypatch)

    def boom(base, stats):
        raise RuntimeError("injected crash before stats write")

    monkeypatch.setattr(dml_mod, "_write_stats", boom)
    with pytest.raises(RuntimeError, match="injected"):
        _dml_delete(spark, idx_dir, 1, DOCS[0][1])
    monkeypatch.undo()

    # on disk: gen_00001 exists, stats.json still at generation 0
    assert (Path(idx_dir) / "gen" / "gen_00001").exists()
    stale = json.loads((Path(idx_dir) / "stats.json").read_text())
    assert stale.get("generation", 0) == 0

    # reopen heals: generation bumped, N decremented, search correct
    idx = ShardedIndex(spark, idx_dir)
    assert idx.generation == 1
    assert idx.n_docs == stats0["n_docs"] - 1
    healed = json.loads((Path(idx_dir) / "stats.json").read_text())
    dl1 = len(DOCS[0][1].split())
    assert healed["sum_dl"] == stats0["sum_dl"] - dl1
    assert healed["avgdl"] == healed["sum_dl"] / healed["n_docs"]
    after = _results(spark, idx_dir)
    assert all(d != 1 for _, _, d, _ in after)


# ------------------------------------------------------------------ #
# compact_index marker protocol — exhaustive crash-point sweep        #
# ------------------------------------------------------------------ #


def _count_rmtree_calls(spark, tmp_path) -> int:
    idx_dir = _build(spark, str(tmp_path / "probe"))
    _dml_delete(spark, idx_dir, 1, DOCS[0][1])
    calls = {"n": 0}
    real = shutil.rmtree

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    # dml.py does function-local ``import shutil`` — patching the
    # shared module object reaches every call site
    shutil.rmtree = counting
    try:
        compact_index(spark, idx_dir)
    finally:
        shutil.rmtree = real
    return calls["n"]


def test_compaction_crash_sweep_zero_data_loss(spark, tmp_path):
    """Inject a crash at EVERY rmtree call site of the compaction
    protocol (before and after the commit marker); after each crash,
    reopening the index must yield identical search results, and a
    retried compaction must complete to a clean single-layer state."""
    total = _count_rmtree_calls(spark, tmp_path)
    assert total >= 3  # staging cleanup + promote steps

    # golden state: same build + DML, results after a clean compaction
    golden_dir = _build(spark, str(tmp_path / "golden"))
    _dml_delete(spark, golden_dir, 1, DOCS[0][1])
    want = _results(spark, golden_dir)

    real = shutil.rmtree
    for k in range(total):
        idx_dir = _build(spark, str(tmp_path / f"crash_{k}"))
        _dml_delete(spark, idx_dir, 1, DOCS[0][1])

        calls = {"n": 0}

        def boom(*a, **k2):
            if calls["n"] == k:
                calls["n"] += 1
                raise RuntimeError(f"injected crash at rmtree #{k}")
            calls["n"] += 1
            return real(*a, **k2)

        shutil.rmtree = boom
        try:
            with pytest.raises(RuntimeError, match="injected"):
                compact_index(spark, idx_dir)
        finally:
            shutil.rmtree = real

        # reopen (recovery runs in refresh): zero data loss
        assert _results(spark, idx_dir) == want, f"crash point {k}"

        # retry completes and folds everything to one layer
        compact_index(spark, idx_dir)
        base = Path(idx_dir)
        assert not (base / dml_mod._COMPACT_MARKER).exists()
        assert not (base / "gen").exists()
        assert not (base / "shards_compacting").exists()
        stats = json.loads((base / "stats.json").read_text())
        assert stats["generation"] == 0
        assert _results(spark, idx_dir) == want, f"retry after {k}"


# ------------------------------------------------------------------ #
# retriever corpus/vectors store compaction                           #
# ------------------------------------------------------------------ #


def test_compact_store_crash_keeps_overlay_identical(
    spark, tmp_path, monkeypatch
):
    """_compact_store crash after the snapshot rename but before old
    gens are deleted: the overlay (old gens + snapshot-as-newest-gen)
    must read identically — deleted docs stay deleted, live docs
    live — and the next compaction folds cleanly."""
    from bm25_chroma_spark.plans import retriever as ret_mod
    from bm25_chroma_spark.plans.retriever import SparkHybridRetriever

    r = SparkHybridRetriever(spark, str(tmp_path / "state"))
    r.add_documents_batch(
        ["alpha beta gamma", "delta epsilon zeta", "eta theta iota"],
        ["a", "b", "c"],
    )
    r.remove_document("b")
    live_before = {
        row["doc_uid"]: row["text"] for row in r.corpus_df().collect()
    }
    assert set(live_before) == {"a", "c"}

    real = shutil.rmtree
    state = {"armed": False}

    def boom(p, *a, **k):
        # let the pre-write staging cleanup through; crash on the
        # first post-rename old-gen delete
        if state["armed"]:
            raise RuntimeError("injected crash deleting old gens")
        state["armed"] = "_compacting" in str(p)
        return real(p, *a, **k)

    monkeypatch.setattr(ret_mod.shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="injected"):
        r._compact_store(
            "corpus", r.corpus_df().withColumn("deleted", F.lit(False))
        )
    monkeypatch.undo()

    live_after = {
        row["doc_uid"]: row["text"] for row in r.corpus_df().collect()
    }
    assert live_after == live_before

    # retry folds to a single generation with identical content
    r._compact_store(
        "corpus", r.corpus_df().withColumn("deleted", F.lit(False))
    )
    gens = sorted((Path(r.state) / "corpus").glob("gen_*.parquet"))
    assert len(gens) == 1
    assert {
        row["doc_uid"]: row["text"] for row in r.corpus_df().collect()
    } == live_before


# ------------------------------------------------------------------ #
# torn small-file writes (stats.json / compaction marker)             #
# ------------------------------------------------------------------ #


def test_torn_stats_write_never_visible(spark, tmp_path, monkeypatch):
    """A crash anywhere inside the stats write must leave the OLD
    stats.json readable (stage-to-tmp + os.replace): a torn stats.json
    would brick the index — _read_stats raises on every open before
    recovery can run."""
    import os

    idx_dir = _build(spark, str(tmp_path / "idx"))
    before_text = (Path(idx_dir) / "stats.json").read_text()

    real_replace = os.replace

    def boom(src, dst):
        if str(dst).endswith("stats.json"):
            raise RuntimeError("injected crash at replace")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(RuntimeError, match="injected"):
        dml_mod._write_stats(Path(idx_dir), {"garbage": True})
    monkeypatch.undo()

    # old stats intact and parseable; the leftover .tmp is invisible
    assert (Path(idx_dir) / "stats.json").read_text() == before_text
    idx = ShardedIndex(spark, idx_dir)
    assert idx.n_docs == len(DOCS)

    # a leftover torn .tmp from a previous crash never breaks opens
    (Path(idx_dir) / "stats.json.tmp").write_text('{"trunc')
    ShardedIndex(spark, idx_dir)


def test_concurrent_finish_compaction_is_serialized(spark, tmp_path):
    """Two concurrent opens racing recover_index on a committed
    compaction: the flock serializes the destructive promote — exactly
    one process-equivalent does the work, the loser observes the
    finished state, and the index is intact (the unguarded TOCTOU race
    could rmtree the freshly promoted shards)."""
    from concurrent.futures import ThreadPoolExecutor

    idx_dir = _build(spark, str(tmp_path / "idx"))
    _dml_delete(spark, idx_dir, 1, DOCS[0][1])
    want = _results(spark, idx_dir)

    # drive compact_index to the committed-but-unpromoted state:
    # no-op the post-marker _finish_compaction call (the first call,
    # pre-marker healing, must pass through)
    calls = {"n": 0}
    real_finish = dml_mod._finish_compaction

    def gated(base):
        calls["n"] += 1
        if calls["n"] >= 2:
            return False  # crash simulated right after the marker
        return real_finish(base)

    dml_mod._finish_compaction = gated
    try:
        compact_index(spark, idx_dir)
    finally:
        dml_mod._finish_compaction = real_finish

    base = Path(idx_dir)
    assert (base / dml_mod._COMPACT_MARKER).exists()
    assert (base / "shards_compacting").exists()

    with ThreadPoolExecutor(max_workers=2) as pool:
        outcomes = list(
            pool.map(lambda _: real_finish(base), range(2))
        )
    # exactly one promoted; the other saw the finished state under lock
    assert sorted(outcomes) == [False, True]
    assert not (base / dml_mod._COMPACT_MARKER).exists()
    assert (base / "shards").exists()
    assert not (base / "shards_compacting").exists()
    assert _results(spark, idx_dir) == want


# ------------------------------------------------------------------ #
# empty shard groups — skewed/tiny vocabularies and delete-heavy DML  #
# ------------------------------------------------------------------ #


def test_compaction_backfills_empty_group_dirs(spark, tmp_path):
    """One-job compaction (partitionBy) writes no dir for a group with
    zero live rows, but _pruned_overlay addresses shards/group=G
    explicitly — a query whose term hashes to the empty group must
    read empty, not crash with a missing path. The tiny vocabulary
    below fills only bucket/group 1 (crc32 % 4), leaving groups
    0/2/3 physically empty both at build and after compaction."""
    # every term hashes to bucket 1 (zlib.crc32(w) % 4 == 1)
    docs = [
        (1, "gamma delta eta"),
        (2, "theta phi spark"),
        (3, "shuffle filter pi"),
        (4, "gamma theta shuffle"),
    ]
    idx_dir = str(tmp_path / "idx")
    build_sharded_index(
        spark.createDataFrame(docs, "doc_id long, text string"),
        idx_dir,
        config=CFG,
        bucket_groups=4,
    )
    queries = [(0, "gamma shuffle"), (1, "alpha"), (2, "alpha gamma")]

    def res():
        idx = ShardedIndex(spark, idx_dir)
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"])
            for r in search_sharded(idx, queries, top_k=10).collect()
        )

    before = res()  # empty group dirs from the base build already read
    assert before and all(q != 1 for q, _, _ in before)

    _dml_delete(spark, idx_dir, 4, "gamma theta shuffle")
    out = compact_index(spark, idx_dir)
    assert out["compacted"]
    base = Path(idx_dir)
    for g in range(4):
        assert (base / "shards" / f"group={g}").exists(), g

    after = res()
    assert all(q != 1 for q, _, _ in after)
    assert {d for _, _, d in after} <= {1, 2, 3}


def test_compact_after_deleting_everything(spark, tmp_path):
    """Delete-heavy DML end state: every doc removed, then compaction.
    All groups are empty; searches return no rows and stats stay
    readable (no AnalysisException on any path)."""
    idx_dir = _build(spark, str(tmp_path / "idx"))
    for doc_id, text in DOCS:
        _dml_delete(spark, idx_dir, doc_id, text)
    out = compact_index(spark, idx_dir)
    assert out["compacted"]
    idx = ShardedIndex(spark, idx_dir)
    assert idx.n_docs == 0
    assert search_sharded(idx, QUERIES, top_k=10).count() == 0

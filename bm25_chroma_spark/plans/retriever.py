"""SparkHybridRetriever — the reference's HybridRetriever API surface
(/root/reference/bm25_chroma/hybrid_retriever.py) re-expressed over
the Spark engine.

API parity (reference tests/test_examples.py:439-489 contract):
  add_documents_batch, remove_document, remove_documents_batch,
  reset_collection, query, hybrid_search, search_bm25, search_vector,
  get_system_stats

Semantic parity notes:
* ``query()`` fuses at a hardcoded ratio 0.5 — extra kwargs like
  ``bm25_ratio`` are accepted but IGNORED, faithfully reproducing the
  reference facade quirk (hybrid_retriever.py:379,430), while
  ``hybrid_search`` honors its ratio (hybrid_retriever.py:292).
* ``search_bm25(solr_norm=True)`` raises AttributeError in the
  reference (calls a method that does not exist,
  hybrid_retriever.py:247); we raise NotImplementedError with the
  explanation instead of replicating the broken call.
* The vector leg replaces ChromaDB/HNSW with a pluggable
  ``embedding_function`` + exact KNN over a vectors table. The
  default is resolved by a probe (default_embedder): the reference's
  sentence-transformers all-MiniLM-L6-v2 when that package is
  installed, else a deterministic HASHED BAG-OF-WORDS projection
  (feature hashing; cosine tracks token overlap) — real retrieval
  semantics without an external model. This environment lacks the
  package, so the hashed-BoW path is what runs here; the probe is
  unit-tested with a stub.

State layout under ``state_path``:
  corpus/gen_K.parquet   (doc_uid, text, deleted) — newest gen wins
  vectors/gen_K.parquet  (doc_uid, embedding)
  index/                 sharded BM25 index (base + DML generations)
"""

from __future__ import annotations

import hashlib
import math
import shutil
import time
from collections import OrderedDict
from pathlib import Path
from typing import Callable, Dict, List, Optional, Sequence, Tuple

import pandas as pd
import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bm25_chroma_spark.config import BM25Config
from bm25_chroma_spark.index import reader
from bm25_chroma_spark.index.dml import (
    _arrow_schema,
    apply_dml,
    write_arrow_dir,
)
from bm25_chroma_spark.index.shards import ShardedIndex, build_sharded_index
from bm25_chroma_spark.index.wand import (
    _round_margin,
    round_half_up,
    search_sharded,
    search_sharded_rows,
)
from bm25_chroma_spark.operators.fusion import rrf_fuse_py


def deterministic_stub_embedder(texts: Sequence[str], dim: int = 64
                                ) -> List[List[float]]:
    """STUB embedding function: sha256-seeded unit vectors.

    Deterministic (same text -> same vector), no external model. Not
    semantically meaningful (similar texts get unrelated vectors);
    kept for tests that need content-addressed orthogonal-ish vectors.
    """
    out = []
    for t in texts:
        seed = int.from_bytes(
            hashlib.sha256(t.encode("utf-8")).digest()[:4], "big"
        )
        v = np.random.RandomState(seed).randn(dim)
        out.append((v / np.linalg.norm(v)).tolist())
    return out


def hashed_bow_embedder(texts: Sequence[str], dim: int = 64
                        ) -> List[List[float]]:
    """Deterministic hashed bag-of-words embedder (the DEFAULT).

    Each lowercase whitespace token hashes to a bucket with a
    sha256-derived sign (the classic feature-hashing / signed random
    projection of a BoW vector); vectors are L2-normalized, so cosine
    similarity tracks token overlap. No external model (sentence-
    transformers is unavailable in this environment — swap a real
    encoder in via the constructor for production), but unlike a
    random stub the vector leg now has real retrieval semantics:
    texts sharing vocabulary ARE neighbors, so hybrid fusion and KNN
    are exercised end-to-end meaningfully.
    """
    out = []
    for t in texts:
        v = np.zeros(dim)
        for tok in str(t).lower().split():
            h = hashlib.sha256(tok.encode("utf-8")).digest()
            idx = int.from_bytes(h[:4], "big") % dim
            sign = 1.0 if h[4] & 1 else -1.0
            v[idx] += sign
        n = np.linalg.norm(v)
        if n > 0:
            v = v / n
        out.append(v.tolist())
    return out


# Lazy sentence-transformers probe result: None = not probed, False =
# unavailable, else the loaded model. Mirrors the tokenizer's NLTK
# probe (functions/tokenizer.py); tests monkeypatch _ST_STATE /
# sys.modules to exercise the model path with a stub.
_ST_STATE = None


def _sentence_transformer_state():
    """Probe for the reference's embedding model (sentence-transformers
    all-MiniLM-L6-v2, hybrid_retriever.py:46-49). Returns the loaded
    model, or False when the package (or its model download) is
    unavailable — this environment has neither, so the probe is the
    graceful-degradation path, exactly like the reference's NLTK
    import guard (bm25.py:7-40)."""
    global _ST_STATE
    if _ST_STATE is not None:
        return _ST_STATE
    try:
        from sentence_transformers import SentenceTransformer

        _ST_STATE = SentenceTransformer("all-MiniLM-L6-v2")
    except Exception:
        _ST_STATE = False
    return _ST_STATE


def real_embedder_available() -> bool:
    return bool(_sentence_transformer_state())


def default_embedder() -> Callable:
    """The retriever's default embedding function: the reference's
    sentence-transformers model when installed, else the
    deterministic hashed bag-of-words projection (real token-overlap
    retrieval semantics, no external model)."""
    model = _sentence_transformer_state()
    if model:
        def st_embed(texts: Sequence[str]) -> List[List[float]]:
            return [
                [float(x) for x in v] for v in model.encode(list(texts))
            ]

        return st_embed
    return hashed_bow_embedder


def _doc_id_expr(uid_col):
    return F.xxhash64(uid_col)


def _rows_with_ids(df: DataFrame, column: str, ids: list, dtype: str
                   ) -> DataFrame:
    """The rows of ``df`` whose ``column`` is in ``ids``: an isin
    filter, which pushes into the parquet scan, for up to
    reader.MAX_POINT_IDS ids; above that a broadcast join of an ids
    DataFrame (a 1k-query batched query() can carry 50k result uids),
    never a giant literal expression tree."""
    if len(ids) <= reader.MAX_POINT_IDS:
        return df.filter(F.col(column).isin(ids))
    ids_df = df.sparkSession.createDataFrame(
        [(x,) for x in ids], f"{column} {dtype}"
    )
    return df.join(F.broadcast(ids_df), column)


CORPUS_DDL = "doc_uid string, text string, meta_json string, deleted boolean"
VECTORS_DDL = "doc_uid string, embedding array<double>"
QUERY_DF_DDL = (
    "query_id long, doc_uid string, score double, distance double, rank int"
)


class _VecCache:
    """Driver-resident live-vector matrix for the warm exact-KNN twin
    (see SparkHybridRetriever._vector_cache). ``vec_ids`` are the
    Spark-computed xxhash64 ids (shipped as STRINGS through Arrow —
    nullable longs > 2**53 silently round via pandas float64);
    ``doc_norms`` are precomputed with the same sequential left-fold
    order as the JVM ``F.aggregate`` so cosine distances are
    bit-identical to operators/knn.py::knn_bruteforce."""

    __slots__ = ("uids", "vec_ids", "mat", "doc_norms", "by_uid",
                 "_id_order")

    def __init__(self, uids, vec_ids, mat):
        self.uids = uids
        self.vec_ids = vec_ids
        self.mat = mat
        n, d = mat.shape
        acc = np.zeros(n)
        for j in range(d):
            v = mat[:, j]
            acc = acc + v * v
        self.doc_norms = np.sqrt(acc)
        self.by_uid = {u: i for i, u in enumerate(uids)}
        self._id_order = None

    def uids_of(self, ids: List[int]) -> Dict[int, str]:
        """doc_id -> doc_uid for the ids this matrix holds. vec_ids
        are the doc_id_expr ids the index stores, so every live uid
        with a vector resolves here without a corpus read; the sorted
        view (argsort, 8 bytes per row) is built on first use."""
        if not len(self.vec_ids) or not ids:
            return {}
        if self._id_order is None:
            self._id_order = np.argsort(self.vec_ids, kind="stable")
        srt = self.vec_ids[self._id_order]
        q = np.asarray(ids, dtype=np.int64)
        pos = np.minimum(np.searchsorted(srt, q), len(srt) - 1)
        hit = np.flatnonzero(srt[pos] == q)
        return {
            int(q[i]): self.uids[int(self._id_order[pos[i]])] for i in hit
        }

    def topk(self, qvec, k: int, score_round: Optional[int] = None):
        """Exact twin of knn_bruteforce's scoring + ordering: dot and
        norms via sequential left folds (IEEE-identical to the JVM
        aggregate), cos = dot / (norm_v * norm_q), dist = 1 - cos,
        sim = 1/(1+dist), order by (dist asc, vec_id asc). NaN dists
        (zero-norm vectors) sort last in BOTH engines: Spark treats
        NaN as greater than any double, and numpy's stable sorts park
        NaNs at the end preserving the vec_id-ordered prior pass.
        ``score_round`` rounds dist before the order and then sim, as
        knn_bruteforce(score_round=...) does with F.round; only docs
        within one rounding unit of the kth raw dist can place, so
        only they are rounded (wand.round_half_up is per value).
        -> [(doc_uid, sim)] of length <= k."""
        n, d = self.mat.shape
        if n == 0 or k <= 0:
            return []
        q64 = np.asarray(qvec, dtype=np.float64)
        qn = 0.0
        for x in q64:
            x = float(x)
            qn = qn + x * x
        qnorm = math.sqrt(qn)
        acc = np.zeros(n)
        for j in range(d):
            acc = acc + self.mat[:, j] * q64[j]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = acc / (self.doc_norms * qnorm)
            dist = 1.0 - cos
        cand = np.arange(n)
        finite = ~np.isnan(dist)
        if np.count_nonzero(finite) > k:
            kth = np.partition(dist[finite], k - 1)[k - 1]
            cand = np.flatnonzero(dist <= kth + _round_margin(score_round))
        dist = dist[cand]
        if score_round is not None:
            dist = np.array(
                [round_half_up(x, score_round) for x in dist.tolist()]
            )
        with np.errstate(invalid="ignore"):
            sim = 1.0 / (1.0 + dist)
        order = np.lexsort((self.vec_ids[cand], dist))[:k]
        out = [(self.uids[cand[i]], float(sim[i])) for i in order]
        if score_round is not None:
            out = [(u, round_half_up(s, score_round)) for u, s in out]
        return out


def resolve_doc_id(meta: Dict, default: str = "unknown") -> str:
    """The reference's flexible metadata doc-id precedence
    (hybrid_retriever.py:440-448, 476-481): RAG-pipeline format
    ``filename`` + ``chunk_idx`` -> ``filename_chunkidx``; else
    ``document_id``; else ``id``; else the fallback."""
    if "filename" in meta and "chunk_idx" in meta:
        return f"{meta['filename']}_{meta['chunk_idx']}"
    if "document_id" in meta:
        return meta["document_id"]
    return meta.get("id", default)


class SparkHybridRetriever:
    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        embedding_function: Optional[Callable] = None,
        config: Optional[BM25Config] = None,
        bucket_groups: int = 1,
        auto_compact_after: int = 16,
        ann_threshold: Optional[int] = None,
        ann_nprobe: Optional[int] = None,
        bm25_strategy: str = "auto",
        doc_id_expr: Optional[Callable] = None,
    ):
        """auto_compact_after: fold DML generations back into the base
        once that many accumulate (bounds read amplification under
        sustained DML; 0/None disables).

        ann_threshold: corpus size above which the vector leg routes
        through IVF ANN (trained coarse quantizer, cached per corpus
        state) instead of exact KNN. Default None: ANN is OPT-IN —
        exact brute-force KNN is deterministic and matches the
        reference's result contract bit-for-bit, and switching to ANN
        silently would change accuracy (measured on the adversarial
        tiny fixture in test_facade_ann_leg, near-tie hashed-BoW
        vectors: overlap with exact top-10 is 0.8 at the default
        nprobe=n_cells/4, 0.9 at nprobe=n_cells/2) and make the first
        post-threshold query pay the inline k-means training job. Set
        a threshold explicitly for the at-scale path (probe cost ~
        nprobe/n_cells of the corpus instead of a full scan); which
        engine actually served the last vector leg is reported in
        ``last_vector_route`` ('exact' | 'ivf') so callers can always
        tell when results became approximate. Tune ``ann_nprobe``
        (default max(2, n_cells//4)) to trade recall for scan cost.

        bm25_strategy: strategy passed to search_sharded by the BM25
        leg — 'auto' (default) scores a batch on the driver with no
        Spark job when its postings fit the driver bound
        (index/wand.py CACHE_MAX_QUERY_POSTINGS and the postings LRU)
        and runs the distributed plan otherwise; 'exhaustive' (or its
        alias 'wand') always runs the distributed plan. Both places
        run the same kernel, so results and scores are identical.

        The default config is LOSSLESS (no posting caps): the
        retriever's index is the sharded path, whose query guard
        refuses silently-diverging caps — with the reference defaults
        (query cap 1000) any corpus over ~1000 docs containing a
        common query term would make query() raise. Callers that want
        reference cap semantics pass an explicit config and use the
        logical path.

        doc_id_expr: Column -> Column mapping a doc_uid (string) to
        the engine's internal 64-bit doc id (default: xxhash64).
        Must be deterministic and injective over the corpus's uids,
        and — like embedding_function — stable across sessions for a
        persisted state (the sharded index stores these ids). Rank
        tie-breaks order on this id, so a caller that needs an
        externally reproducible tie order (e.g. a SQL oracle
        mirroring query_df: xxhash64 has no DuckDB twin) can pass a
        mirrorable expression such as a numeric-uid cast."""
        self.spark = spark
        self.state = Path(state_path)
        self.embed = embedding_function or default_embedder()
        self._id_expr: Callable = doc_id_expr or _doc_id_expr
        self.config = config or BM25Config(
            max_postings_per_term=None,
            query_postings_cap=None,
            num_term_buckets=8,
            salt_factor=4,
        )
        self.bucket_groups = bucket_groups
        self.auto_compact_after = auto_compact_after
        self.ann_threshold = ann_threshold
        self.ann_nprobe = ann_nprobe
        self.bm25_strategy = bm25_strategy
        # which engine served the most recent vector leg (see
        # ann_threshold docstring): 'exact' | 'ivf' | None (no query
        # yet / empty vectors store)
        self.last_vector_route: Optional[str] = None
        # which ENGINE ran it: 'driver-cache' (warm zero-job twin) |
        # 'spark' (distributed). Orthogonal to last_vector_route —
        # the cache serves only the exact route.
        self.last_vector_engine: Optional[str] = None
        # (corpus-state key, trained centroids) — invalidated whenever
        # the key (index generation, n_docs, vector gen count) moves
        self._ann_state: Optional[Tuple] = None
        # ---- interactive warm caches (VERDICT r5 #1 extended to the
        # full facade): generation-tagged, bounded, driver-resident.
        # Every entry set is keyed by _interactive_key(), which moves
        # on any index/corpus/vectors mutation (incl. compaction and
        # reset), so a stale handle can never serve pre-DML state.
        # Over-bound corpora keep the distributed path — the caches
        # serve the interactive regime, never 100 TB.
        self.vector_cache_max_floats: int = 16_000_000  # ~128 MB f64
        self.doc_cache_max_entries: int = 50_000
        self.uid_cache_max_entries: int = 200_000
        self._warm_key: Optional[Tuple] = None
        # _VecCache | 'too-big' | None (not loaded yet)
        self._vec_cache = None
        self._doc_cache: "OrderedDict[str, Tuple]" = OrderedDict()
        self._uid_cache: "OrderedDict[int, str]" = OrderedDict()
        (self.state / "corpus").mkdir(parents=True, exist_ok=True)
        (self.state / "vectors").mkdir(parents=True, exist_ok=True)
        self._index: Optional[ShardedIndex] = None
        if (self.state / "index" / "stats.json").exists():
            self._index = ShardedIndex(spark, str(self.state / "index"))

    # ------------------------------------------------------------ #
    # corpus state                                                  #
    # ------------------------------------------------------------ #

    def _corpus_gens(self) -> List[Path]:
        return sorted((self.state / "corpus").glob("gen_*.parquet"))

    def _filter_by_ids(
        self, df: DataFrame, ids: Sequence[str], anti: bool = False
    ) -> DataFrame:
        """Membership against a caller-supplied id list as a BROADCAST
        semi/anti join on a single-column DataFrame — never an
        ``isin`` literal expression: a million-id bulk batch would
        inline a million literals into one Catalyst expression and
        blow up planning long before the data matters. Same
        discipline as the engine layer (index/shards.py
        shards_for_terms_df). The plan stays flat regardless of
        len(ids); test_bulk_ids_plan_is_flat pins the shape."""
        ids_df = self.spark.createDataFrame(
            [(i,) for i in ids], "doc_uid string"
        ).distinct()
        return df.join(
            F.broadcast(ids_df),
            "doc_uid",
            "left_anti" if anti else "left_semi",
        )

    def _read_gen(self, p: Path, ddl: str) -> DataFrame:
        """One corpus/vectors generation, read with its explicit schema:
        no schema-inference job, and a column the file lacks (a legacy
        corpus generation's meta_json) reads as null."""
        return self.spark.read.schema(ddl).parquet(str(p))

    def _newest_rows(self, gens: List[Path], ddl: str) -> DataFrame:
        """The newest generation's row per doc_uid over ``gens``.

        Single-generation fast path: with one gen on disk (fresh
        build, or any state after _compact_store folded the stack)
        every doc_uid appears once, so the newest-wins overlay — a
        full-corpus window SHUFFLE — is skipped entirely. The uid-map
        join every query() pays then stays a narrow scan, which at 1M
        docs is the difference between a per-query exchange of the
        whole corpus and none."""
        if len(gens) == 1:
            return self._read_gen(gens[0], ddl)
        u = None
        for p in gens:
            df = self._read_gen(p, ddl).withColumn(
                "gen", F.lit(int(p.stem.split("_")[1]))
            )
            u = df if u is None else u.unionByName(df)
        w = Window.partitionBy("doc_uid").orderBy(F.desc("gen"))
        return u.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        )

    def corpus_df(self) -> DataFrame:
        """Live corpus: newest generation per doc_uid, tombstones out.
        Carries the optional user metadata column (meta_json)."""
        gens = self._corpus_gens()
        if not gens:
            return self.spark.createDataFrame(
                [], "doc_uid string, text string, meta_json string"
            )
        return self._newest_rows(gens, CORPUS_DDL).filter(
            ~F.col("deleted")
        ).select("doc_uid", "text", "meta_json")

    def _next_gen(self, sub: str) -> Path:
        gens = sorted((self.state / sub).glob("gen_*.parquet"))
        nxt = (
            int(gens[-1].stem.split("_")[1]) + 1 if gens else 1
        )
        return self.state / sub / f"gen_{nxt:05d}.parquet"

    def vectors_df(self) -> DataFrame:
        gens = sorted((self.state / "vectors").glob("gen_*.parquet"))
        if not gens:
            return self.spark.createDataFrame([], VECTORS_DDL)
        # vectors of deleted docs drop out via the corpus join
        return self._newest_rows(gens, VECTORS_DDL).select(
            "doc_uid", "embedding"
        ).join(self.corpus_df().select("doc_uid"), "doc_uid", "inner")

    # ------------------------------------------------------------ #
    # ingest                                                        #
    # ------------------------------------------------------------ #

    def add_documents_batch(
        self,
        documents: List[str],
        doc_ids: Optional[List[str]] = None,
        metadatas: Optional[List[Dict]] = None,
        mode: str = "unified",
        show_progress: bool = False,
        **_kwargs,
    ) -> Dict:
        """Batch add/upsert. Auto ids are doc_{i:06d} like the
        reference (hybrid_retriever.py:104-106); mode is accepted for
        API parity but irrelevant (Spark schedules both legs).
        ``metadatas`` (optional per-doc dicts) are stored with the
        corpus and surfaced by ``query()``, including the reference's
        flexible doc-id formats (filename/chunk_idx, document_id)."""
        if doc_ids is None:
            doc_ids = [f"doc_{i:06d}" for i in range(len(documents))]
        if len(documents) != len(doc_ids):
            raise ValueError("Documents and doc_ids must have same length")
        if metadatas is not None and len(metadatas) != len(documents):
            raise ValueError("Documents and metadatas must have same length")
        t0 = time.time()
        n_input = len(documents)
        if len(set(doc_ids)) < n_input:
            # a uid repeated within the batch keeps its last text and
            # metadata, as the reference's one-chunk-at-a-time upsert
            # leaves it (one index posting list per id)
            keep = sorted({u: i for i, u in enumerate(doc_ids)}.values())
            documents = [documents[i] for i in keep]
            doc_ids = [doc_ids[i] for i in keep]
            if metadatas is not None:
                metadatas = [metadatas[i] for i in keep]

        # old versions of re-added ids: their stored text defines the
        # affected terms of the implicit remove (reference re-tokenizes
        # chunk_texts on removal, bm25.py:238-249). Read BEFORE the new
        # generation lands: point-read into a local relation up to the
        # reader's bounds, else snapshotted to parquet — a persist()
        # could be evicted and lazily recompute over the mutated corpus.
        old_versions = None
        if self._index is not None:
            rows = self._live_rows(doc_ids)
            if rows is not None:
                if len(rows):
                    old_versions = self._local_docs(rows)
            else:
                prior = self._filter_by_ids(
                    self.corpus_df(), doc_ids
                ).select(
                    self._id_expr(F.col("doc_uid")).alias("doc_id"), "text"
                )
                if not prior.isEmpty():
                    snap = self.state / "tmp" / "old_versions.parquet"
                    prior.write.mode("overwrite").parquet(str(snap))
                    old_versions = self.spark.read.parquet(str(snap))

        import json as _json

        metas = [
            _json.dumps(m) if m is not None else None
            for m in (metadatas or [None] * len(documents))
        ]
        vecs = [[float(x) for x in v] for v in self.embed(documents)]
        # both generations are written by pyarrow from the driver-held
        # lists, at any batch size: no Spark job
        self._write_local_gen("corpus", {
            "doc_uid": doc_ids, "text": documents, "meta_json": metas,
            "deleted": [False] * len(doc_ids),
        })
        self._write_local_gen(
            "vectors", {"doc_uid": doc_ids, "embedding": vecs}
        )

        docs_long = self._local_docs(pd.DataFrame({
            "doc_uid": pd.Series(doc_ids, dtype=object),
            "text": pd.Series(documents, dtype=object),
        }))
        idx_dir = self.state / "index"
        if self._index is None:
            build_sharded_index(
                docs_long,
                str(idx_dir),
                config=self.config,
                bucket_groups=self.bucket_groups,
            )
            self._index = ShardedIndex(self.spark, str(idx_dir))
        else:
            apply_dml(
                self.spark,
                str(idx_dir),
                upserts=docs_long,
                delete_docs=old_versions,
            )
            self._index.refresh()
            self._maybe_compact()

        total = time.time() - t0
        return {
            "total_documents": n_input,
            "total_time_seconds": total,
            "docs_per_second": n_input / total if total else 0.0,
            "mode": mode,
        }

    def add_documents_df(self, docs: DataFrame, embed: bool = True) -> Dict:
        """DataFrame-native batch add/upsert — the at-scale ingest
        path the reference's list API cannot express (a 100 TB corpus
        never fits through driver-side Python lists).

        ``docs``: (doc_uid string, text string[, meta_json string]).
        Rows stay distributed end-to-end: the corpus generation is
        written straight from the DataFrame, embeddings are computed
        executor-side via ``embed_corpus`` (mapInPandas — requires a
        picklable embedding function; the hashed-BoW default is), and
        the index ingests through the same build/DML machinery as the
        list API. Upsert semantics match ``add_documents_batch``:
        prior versions of re-added ids are snapshotted (DataFrame
        semi join, no id list on the driver) and hard-deleted from
        the index first. Duplicate doc_uids within one batch are
        collapsed to an arbitrary single row (a DataFrame has no
        insertion order to break the tie the way the list API does) —
        pre-aggregate upstream if the choice matters.

        ``embed=False`` skips the vectors generation (BM25-only
        corpora; the vector leg then serves nothing for these docs).
        """
        t0 = time.time()
        cols = set(docs.columns)
        if not {"doc_uid", "text"} <= cols:
            raise ValueError("docs must carry doc_uid and text columns")
        batch = docs.select(
            "doc_uid",
            "text",
            F.col("meta_json").cast("string")
            if "meta_json" in cols
            else F.lit(None).cast("string").alias("meta_json"),
        ).dropDuplicates(["doc_uid"]).withColumn("deleted", F.lit(False))

        old_versions = None
        if self._index is not None:
            prior = self.corpus_df().join(
                batch.select("doc_uid"), "doc_uid", "left_semi"
            ).select(
                self._id_expr(F.col("doc_uid")).alias("doc_id"), "text"
            )
            if not prior.isEmpty():
                snap = self.state / "tmp" / "old_versions.parquet"
                prior.write.mode("overwrite").parquet(str(snap))
                old_versions = self.spark.read.parquet(str(snap))

        gen_path = self._next_gen("corpus")
        batch.write.mode("overwrite").parquet(str(gen_path))
        written = self._read_gen(gen_path, CORPUS_DDL)  # pinned
        n = written.count()

        if embed:
            from bm25_chroma_spark.operators.embed import embed_corpus

            embed_corpus(
                written.select("doc_uid", "text"), embed_fn=self.embed
            ).select("doc_uid", "embedding").write.mode(
                "overwrite"
            ).parquet(str(self._next_gen("vectors")))

        docs_long = written.select(
            self._id_expr(F.col("doc_uid")).alias("doc_id"), "text"
        )
        idx_dir = self.state / "index"
        if self._index is None:
            build_sharded_index(
                docs_long,
                str(idx_dir),
                config=self.config,
                bucket_groups=self.bucket_groups,
            )
            self._index = ShardedIndex(self.spark, str(idx_dir))
        else:
            apply_dml(
                self.spark,
                str(idx_dir),
                upserts=docs_long,
                delete_docs=old_versions,
            )
            self._index.refresh()
            self._maybe_compact()

        total = time.time() - t0
        return {
            "total_documents": n,
            "total_time_seconds": total,
            "docs_per_second": n / total if total else 0.0,
            "mode": "dataframe",
        }

    def add_new_documents_only(
        self, documents: List[str], doc_ids: List[str], **kwargs
    ) -> Dict:
        """Insert only docs whose ids are not already present —
        the dedup-before-insert pattern of the reference example
        (examples/brown_corpus_w_ratio.py:90-104), expressed as a
        left_anti join against the live corpus."""
        existing = {
            r["doc_uid"]
            for r in self._filter_by_ids(self.corpus_df(), doc_ids)
            .select("doc_uid")
            .collect()
        }
        fresh = [
            (d, i) for d, i in zip(documents, doc_ids)
            if i not in existing
        ]
        if not fresh:
            return {"total_documents": 0, "skipped_existing": len(doc_ids)}
        stats = self.add_documents_batch(
            [d for d, _ in fresh], [i for _, i in fresh], **kwargs
        )
        stats["skipped_existing"] = len(doc_ids) - len(fresh)
        return stats

    def get_preprocessing_info(self) -> Dict:
        """Tokenizer capability report (reference bm25.py:312-329);
        lemmatization defaults off (deterministic path) but the probe
        reports whether the NLTK chain could be enabled."""
        from bm25_chroma_spark.functions.tokenizer import (
            lemmatization_available,
        )

        return {
            "lemmatization_available": lemmatization_available(),
            "features": [
                "Strips punctuation while preserving alphanumeric",
                "Converts to lowercase",
                "Preserves part numbers and identifiers",
                "Vectorized pandas UDF + JVM expression fast path",
            ],
            "preserved_patterns": [
                "Part numbers (P123, SN456)",
                "Serial numbers with mixed alphanumeric",
                "Model numbers and codes",
                "Any alphanumeric identifier",
            ],
        }

    # ------------------------------------------------------------ #
    # removal / reset                                               #
    # ------------------------------------------------------------ #

    def remove_document(self, doc_id: str) -> None:
        self.remove_documents_batch([doc_id])

    def remove_documents_batch(self, doc_ids: List[str]) -> None:
        """Up to reader.MAX_POINT_IDS ids resolve through a driver-side
        point read of the corpus (index/reader.py) and reach the index
        DML as a local relation, so a small remove writes its tombstone
        generation with pyarrow and merges the index on the driver: no
        Spark job. Above that bound (or the reader's byte budget)
        victims never leave the cluster: the matched rows are written
        straight to the tombstone generation, which is then read back
        (a pinned snapshot) to drive the index DML — no driver-side row
        list, so bulk deletes scale."""
        rows = self._live_rows(doc_ids)
        if rows is None:
            self._remove_victims(
                self._filter_by_ids(self.corpus_df(), doc_ids)
            )
        elif len(rows):  # unknown ids no-op (reference bm25.py:229-230)
            self._remove_victims(None, rows)

    def remove_documents_df(self, ids: DataFrame) -> None:
        """DataFrame-native bulk delete: ``ids`` carries a doc_uid
        column (extra columns ignored); victims resolve via a semi
        join, so a billion-id delete set never touches the driver.
        The DataFrame sibling of remove_documents_batch, same
        tombstone + hard-delete DML semantics."""
        self._remove_victims(
            self.corpus_df().join(
                ids.select("doc_uid").distinct(), "doc_uid", "left_semi"
            )
        )

    def _live_rows(self, doc_ids: Sequence[str]) -> Optional[pd.DataFrame]:
        """(doc_uid, text, meta_json) of the live ones among
        ``doc_ids``, point-read on the driver; None above
        reader.MAX_POINT_IDS ids or the reader's byte budget (the
        caller then keeps its Spark join)."""
        if len(set(doc_ids)) > reader.MAX_POINT_IDS:
            return None
        got = reader.corpus_rows(
            self.state / "corpus", doc_ids, self._reader_budget()
        )
        if got is None:
            return None
        uids = sorted(got)
        return pd.DataFrame(
            {
                "doc_uid": pd.Series(uids, dtype=object),
                "text": pd.Series([got[u][0] for u in uids], dtype=object),
                "meta_json": pd.Series(
                    [got[u][1] for u in uids], dtype=object
                ),
            }
        )

    def _local_docs(self, rows: pd.DataFrame) -> DataFrame:
        """(doc_id, text) of driver-held corpus rows as a local
        relation: apply_dml collects it without a Spark job."""
        return self.spark.createDataFrame(
            rows[["doc_uid", "text"]], "doc_uid string, text string"
        ).select(self._id_expr(F.col("doc_uid")).alias("doc_id"), "text")

    def _reader_budget(self) -> int:
        return (
            self._index.postings_cache_bytes
            if self._index is not None
            else ShardedIndex.postings_cache_bytes
        )

    def _remove_victims(
        self, victims: Optional[DataFrame],
        rows: Optional[pd.DataFrame] = None,
    ) -> None:
        """Write the tombstone generation of the victims (live corpus
        rows), then hard-delete them from the index. ``rows``: the
        victims held on the driver (at most reader.MAX_POINT_IDS, from
        _live_rows), written with pyarrow and deleted from a local
        relation; else ``victims``, written by Spark and read back."""
        if rows is not None:
            self._write_local_gen("corpus", {
                "doc_uid": rows["doc_uid"].tolist(),
                "text": rows["text"].tolist(),
                "meta_json": rows["meta_json"].tolist(),
                "deleted": [True] * len(rows),
            })
            delete_df = self._local_docs(rows)
        else:
            if victims.isEmpty():
                return  # unknown ids no-op (reference bm25.py:229-230)
            gen_path = self._next_gen("corpus")
            victims.withColumn("deleted", F.lit(True)).write.mode(
                "overwrite"
            ).parquet(str(gen_path))
            delete_df = self._read_gen(gen_path, CORPUS_DDL).select(
                self._id_expr(F.col("doc_uid")).alias("doc_id"), "text"
            )
        apply_dml(
            self.spark, str(self.state / "index"), delete_docs=delete_df
        )
        self._index.refresh()
        self._maybe_compact()

    def _write_local_gen(self, sub: str, columns: Dict[str, list]) -> None:
        """The next ``sub`` generation from driver-held columns,
        written by pyarrow in the schema a Spark write of the same rows
        gives (CORPUS_DDL / VECTORS_DDL), so corpus_df, vectors_df,
        reader.corpus_rows and _compact_store read it like a
        Spark-written one."""
        import pyarrow as pa

        ddl = CORPUS_DDL if sub == "corpus" else VECTORS_DDL
        write_arrow_dir(self._next_gen(sub), pa.Table.from_pydict(
            columns, schema=_arrow_schema(ddl)
        ))

    def _maybe_compact(self) -> None:
        """LSM maintenance: fold DML generations into the base once
        auto_compact_after of them pile up — readers see identical
        content, read amplification returns to one layer. The corpus
        and vectors stores compact too: without it every DML batch
        adds one more parquet read + window layer to corpus_df()'s
        plan, which grows without bound under sustained DML."""
        if not self.auto_compact_after:
            return
        if self._index.generation >= self.auto_compact_after:
            from bm25_chroma_spark.index.dml import compact_index

            compact_index(self.spark, str(self.state / "index"))
            self._index.refresh()
            self._compact_store(
                "corpus",
                self.corpus_df().withColumn("deleted", F.lit(False)),
            )
            self._compact_store("vectors", self.vectors_df())

    def _compact_store(self, sub: str, live: DataFrame) -> None:
        """Collapse a generation-stacked parquet store to one live
        generation, crash-atomically: write the live view to a
        scratch dir (pinning it), atomically RENAME it in as the
        NEWEST generation — the newest-wins overlay makes the
        snapshot authoritative the instant the rename lands, while
        tombstoned doc_uids simply stay absent from it — and only
        then drop the now-redundant older gen files. A crash at any
        point leaves a readable, semantically identical store (the
        scratch dir is invisible to the gen_* glob; undeleted old
        gens are shadowed, never required)."""
        gens = sorted((self.state / sub).glob("gen_*.parquet"))
        if len(gens) <= 1:
            return  # nothing stacked — avoid churning a single gen
        tmp = self.state / sub / "_compacting.parquet"
        shutil.rmtree(tmp, ignore_errors=True)
        live.write.mode("overwrite").parquet(str(tmp))
        tmp.rename(self._next_gen(sub))  # commit point
        for p in gens:
            shutil.rmtree(p, ignore_errors=True)

    def reset_collection(self) -> None:
        for sub in ("corpus", "vectors", "index"):
            shutil.rmtree(self.state / sub, ignore_errors=True)
        (self.state / "corpus").mkdir(parents=True, exist_ok=True)
        (self.state / "vectors").mkdir(parents=True, exist_ok=True)
        self._index = None

    # ------------------------------------------------------------ #
    # search                                                        #
    # ------------------------------------------------------------ #

    def _uid_map(self) -> DataFrame:
        return self.corpus_df().select(
            "doc_uid", self._id_expr(F.col("doc_uid")).alias("doc_id")
        )

    def search_bm25(
        self, query: str, top_k: int = 50, solr_norm: bool = False
    ) -> List[Tuple[str, float]]:
        if solr_norm:
            raise NotImplementedError(
                "reference search_bm25(solr_norm=True) calls a method "
                "that does not exist (hybrid_retriever.py:247); the "
                "default path already applies the Solr norm"
            )
        self._warm_caches()
        return self._bm25_lists([query], top_k)[0]

    def search_vector(self, query: str, top_k: int = 50
                      ) -> List[Tuple[str, float]]:
        """Vector leg; sim = 1/(1+dist) (reference
        hybrid_retriever.py:266). Exact KNN below ``ann_threshold``
        (reference-deterministic), IVF ANN above (see _vector_lists)."""
        self._warm_caches()
        return self._vector_lists([query], top_k)[0]

    def hybrid_search(
        self,
        query: str,
        top_k: int = 10,
        bm25_ratio: float = 0.5,
        use_rrf: bool = True,
        rrf_k: int = 60,
    ) -> List[Tuple[str, float, Dict]]:
        """Both legs at top-50 -> RRF (ratio honored here) -> enriched
        triples (reference hybrid_retriever.py:275-310)."""
        self._warm_caches()
        vector_results = self._vector_lists([query], 50)[0]
        bm25_results = self._bm25_lists([query], 50)[0]
        if not bm25_results and not vector_results:
            return []
        if use_rrf and bm25_results and vector_results:
            fused = rrf_fuse_py(
                [bm25_results, vector_results],
                bm25_ratio=bm25_ratio,
                k=rrf_k,
                top_k=top_k,
            )
        elif bm25_results:
            fused = bm25_results[:top_k]
        else:
            fused = vector_results[:top_k]
        texts, _ = self._texts_for_uids([d for d, _ in fused])
        return [
            (
                uid,
                score,
                {
                    "chunk_id": uid,
                    "text": texts.get(uid, ""),
                    "source": "hybrid_ensemble",
                },
            )
            for uid, score in fused
        ]

    # ------------------------------------------------------------ #
    # interactive warm caches                                       #
    # ------------------------------------------------------------ #

    def _interactive_key(self) -> Tuple:
        """Corpus-state key for the driver-resident warm caches: the
        index DML generation plus the exact corpus/vectors generation
        file sets WITH their directory mtimes. Any mutation — DML,
        ingest, compaction fold, reset — changes at least one
        component. The mtimes close the reset+re-ingest hole: after
        ``reset_collection()`` a fresh ingest recreates the SAME gen
        file names (gen_00001.parquet) and can land on the same index
        generation number, but the rewritten gen directories carry
        new mtimes, so the key still moves and the caches can never
        serve pre-reset rows. Pure filesystem metadata: checking it
        launches no Spark job."""

        def _gen_sig(sub: str) -> Tuple:
            return tuple(
                sorted(
                    (p.name, p.stat().st_mtime_ns)
                    for p in (self.state / sub).glob("gen_*.parquet")
                )
            )

        return (
            self._index.generation if self._index is not None else -1,
            _gen_sig("corpus"),
            _gen_sig("vectors"),
        )

    def _warm_caches(self) -> None:
        """Validate the warm caches against the current corpus state,
        clearing them all when the key moved (DML can never be served
        stale driver-side rows). Each public read entry (query,
        search_bm25, search_vector, hybrid_search, prewarm) calls it
        ONCE, before any cache is read; the helpers below never do, so
        no cache is cleared while a call is still iterating it."""
        key = self._interactive_key()
        if key != self._warm_key:
            if self._index is not None:
                # another handle may have written the state: re-read
                # the index stats, so the BM25 leg scores the live
                # generation (no Spark job on a clean index)
                self._index.refresh()
                key = self._interactive_key()
            self._warm_key = key
            self._vec_cache = None
            self._doc_cache.clear()
            self._uid_cache.clear()

    def _vector_cache(self) -> Optional[_VecCache]:
        """The live (doc_uid, vec_id, embedding) matrix driver-side,
        loaded once per corpus state by _load_vec_matrix; None when it
        is past ``vector_cache_max_floats`` (marked 'too-big': the
        exact leg then stays distributed — at 100 TB the cache simply
        refuses)."""
        if self._vec_cache is None:
            self._vec_cache = self._load_vec_matrix()
        return self._vec_cache if self._vec_cache != "too-big" else None

    def _load_vec_matrix(self):
        """The live vector matrix as a _VecCache, or 'too-big' past
        ``vector_cache_max_floats`` (default ~128 MB as f64). While the
        vectors' parquet footers bound the floats within it, the rows
        come from reader.vector_rows (pyarrow, no Spark job) and the
        vec_ids from a local-relation projection of doc_id_expr (no
        job either). Past the footer bound — superseded generations
        count there too — Spark counts the live rows and decides
        exactly, then collects the matrix (_spark_vec_matrix)."""
        got = reader.vector_rows(
            self.state / "vectors", self.state / "corpus",
            self.vector_cache_max_floats,
        )
        if got is not None:
            uids, mat = got
            if not uids:
                return _VecCache([], np.zeros(0, np.int64), mat)
            ids = self.spark.createDataFrame(
                pd.DataFrame({"doc_uid": pd.Series(uids, dtype=object)}),
                "doc_uid string",
            ).select(self._id_expr(F.col("doc_uid")).cast("long")).collect()
            return _VecCache(
                uids, np.asarray([r[0] for r in ids], dtype=np.int64), mat
            )
        vecs = self.vectors_df()
        n = vecs.count()
        if n == 0:
            return _VecCache([], np.zeros(0, np.int64), np.zeros((0, 0)))
        dim = len(vecs.select("embedding").first()["embedding"])
        if n * dim > self.vector_cache_max_floats:
            return "too-big"
        return self._spark_vec_matrix()

    def _spark_vec_matrix(self) -> "_VecCache":
        """Collect the live vector matrix with Spark (one toPandas
        job). vec_ids ship as strings (Arrow nullable-long float64
        rounding, see _VecCache)."""
        pdf = self.vectors_df().select(
            "doc_uid",
            self._id_expr(F.col("doc_uid")).cast("string").alias("vec_id"),
            "embedding",
        ).toPandas()
        if len(pdf) == 0:
            return _VecCache([], np.zeros(0, np.int64), np.zeros((0, 0)))
        return _VecCache(
            pdf["doc_uid"].tolist(),
            pdf["vec_id"].astype(np.int64).to_numpy(),
            np.stack(pdf["embedding"].to_numpy()).astype(np.float64),
        )

    def _uids_for_doc_ids(self, doc_ids: List[int]) -> Dict[int, str]:
        """doc_id (doc_id_expr hash) -> doc_uid through the bounded warm
        LRU. Misses resolve from the loaded vector cache (it holds
        every live uid with a vector, keyed by the same id) with no
        read at all; only ids it lacks — BM25-only docs, or no cache
        loaded — are fetched with ONE filtered projection of the
        corpus (_rows_with_ids)."""
        out: Dict[int, str] = {}
        missing: List[int] = []
        for d in doc_ids:
            hit = self._uid_cache.get(d)
            if hit is not None:
                self._uid_cache.move_to_end(d)
                out[d] = hit
            else:
                missing.append(d)
        if missing:
            missing = sorted(set(missing))
            found: Dict[int, str] = {}
            if isinstance(self._vec_cache, _VecCache):
                found = self._vec_cache.uids_of(missing)
                missing = [d for d in missing if d not in found]
            if missing:
                fetched = _rows_with_ids(
                    self._uid_map(), "doc_id",
                    [int(x) for x in missing], "long",
                )
                found.update(
                    (r["doc_id"], r["doc_uid"]) for r in fetched.collect()
                )
            for d, u in found.items():
                out[d] = u
                self._uid_cache[d] = u
            while len(self._uid_cache) > self.uid_cache_max_entries:
                self._uid_cache.popitem(last=False)
        return out

    def _texts_for_uids(
        self, uids: List[str]
    ) -> Tuple[Dict[str, str], Dict[str, Dict]]:
        """(texts, metas) for result uids through the bounded warm doc
        LRU: a warm repeat skips the corpus entirely. Up to reader.MAX_POINT_IDS
        misses are read driver-side by the parquet reader
        (index/reader.py: the corpus_df overlay, zero Spark jobs)
        while their column chunks fit the index's postings_cache_bytes;
        above either bound they are fetched by a Spark projection.
        Fetched rows are cached."""
        import json as _json

        texts: Dict[str, str] = {}
        metas: Dict[str, Dict] = {}
        missing: List[str] = []
        for u in uids:
            hit = self._doc_cache.get(u)
            if hit is not None:
                self._doc_cache.move_to_end(u)
                texts[u] = hit[0]
                if hit[1]:
                    metas[u] = _json.loads(hit[1])
            else:
                missing.append(u)
        if missing:
            got = None
            if len(missing) <= reader.MAX_POINT_IDS:
                got = reader.corpus_rows(
                    self.state / "corpus", missing, self._reader_budget()
                )
            if got is None:
                fetched = _rows_with_ids(
                    self.corpus_df(), "doc_uid", missing, "string"
                )
                got = {
                    r["doc_uid"]: (r["text"], r["meta_json"])
                    for r in fetched.collect()
                }
            for u, (text, meta_json) in got.items():
                texts[u] = text
                if meta_json:
                    metas[u] = _json.loads(meta_json)
                self._doc_cache[u] = (text, meta_json)
            while len(self._doc_cache) > self.doc_cache_max_entries:
                self._doc_cache.popitem(last=False)
        return texts, metas

    def _bm25_lists(
        self, query_texts: List[str], top_k: int,
        score_round: Optional[int] = None,
    ) -> List[List[Tuple[str, float]]]:
        """BM25 leg for ALL queries in one search_sharded_rows call:
        the driver-local path hands back its rows as a Python list
        (zero Spark jobs while the postings fit the reader's bounds)
        and uids resolve through the warm LRU and the vector cache, so
        an interactive query never touches the corpus-sized uid
        map. ``score_round``: search_sharded's round-before-rank."""
        out: List[List[Tuple[str, float]]] = [[] for _ in query_texts]
        if self._index is None:
            return out
        rows = search_sharded_rows(
            self._index, list(enumerate(query_texts)), top_k=top_k,
            strategy=self.bm25_strategy, score_round=score_round,
        )
        uid_of = self._uids_for_doc_ids([d for _, d, _, _ in rows])
        for qid, d, score, _ in sorted(rows, key=lambda r: (r[0], r[3])):
            if d in uid_of:
                out[qid].append((uid_of[d], score))
        return out

    def _ann_centroids(self, src: DataFrame) -> list:
        """Trained IVF coarse quantizer, cached per corpus state: the
        (generation, n_docs, vector-gen-count) key moves on every
        mutation, so DML invalidates the cache and queries between
        mutations reuse one training run. n_cells ~ sqrt(N) (the
        classic IVF sizing: probe cost ~ nprobe * N / n_cells)."""
        import math as _math

        from bm25_chroma_spark.operators.knn import ivf_train_centroids

        n_live = self._index.n_docs if self._index is not None else 0
        key = (
            self._index.generation if self._index else -1,
            n_live,
            len(sorted((self.state / "vectors").glob("gen_*.parquet"))),
        )
        if self._ann_state is None or self._ann_state[0] != key:
            n_cells = max(8, int(_math.isqrt(max(n_live, 1))))
            centroids = ivf_train_centroids(
                src, n_cells, n_iters=3,
                id_col="vec_id", vec_col="embedding",
            )
            self._ann_state = (key, centroids)
        return self._ann_state[1]

    def _ivf_route(self) -> bool:
        """Whether the vector leg takes IVF ANN: the live doc count has
        reached ``ann_threshold``."""
        n_live = self._index.n_docs if self._index is not None else 0
        return self.ann_threshold is not None and n_live >= self.ann_threshold

    def _spark_knn(
        self, qvecs, top_k: int, score_round: Optional[int]
    ) -> Optional[DataFrame]:
        """The vector leg on Spark, -> (query_id, vec_id, dist, sim,
        rank), or None when there are no live vectors: IVF ANN from
        ``ann_threshold`` live docs on (the at-scale path: probe ~
        nprobe/n_cells of the corpus instead of a full scan), exact
        knn_bruteforce below it. ``qvecs``: the query vectors in either
        form operators.knn takes (a list numbered by position, or a
        (query_id, qvec) DataFrame)."""
        vecs = self.vectors_df()
        if vecs.isEmpty():
            return None
        from bm25_chroma_spark.operators.knn import knn_bruteforce, knn_ivf

        self.last_vector_engine = "spark"
        src = vecs.withColumn("vec_id", self._id_expr(F.col("doc_uid")))
        if self._ivf_route():
            self.last_vector_route = "ivf"
            centroids = self._ann_centroids(src)
            return knn_ivf(
                src, qvecs, k=top_k, id_col="vec_id", vec_col="embedding",
                n_cells=len(centroids),
                nprobe=self.ann_nprobe or max(2, len(centroids) // 4),
                centroids=centroids, score_round=score_round,
            )
        self.last_vector_route = "exact"
        return knn_bruteforce(
            src, qvecs, k=top_k, id_col="vec_id", vec_col="embedding",
            score_round=score_round,
        )

    def _vector_lists(
        self, query_texts: List[str], top_k: int,
        score_round: Optional[int] = None,
    ) -> List[List[Tuple[str, float]]]:
        """Vector leg for ALL queries in ONE knn call — exact
        brute-force below ``ann_threshold`` (reference-deterministic),
        IVF ANN above it (the at-scale path: probe ~ nprobe/n_cells of
        the corpus instead of a full scan). The exact route serves
        from the driver-resident vector cache when the live matrix
        fits its bound — a warm interactive query launches zero Spark
        jobs and returns bit-identical results (_VecCache.topk is a
        sequential-fold twin of knn_bruteforce). ``score_round``
        rounds dist before the order and then sim, in every engine."""
        out: List[List[Tuple[str, float]]] = [[] for _ in query_texts]
        if not list((self.state / "vectors").glob("gen_*.parquet")):
            return out
        if not self._ivf_route():
            cache = self._vector_cache()
            if cache is not None:
                if not len(cache.uids):  # all vectors deleted
                    return out
                self.last_vector_route = "exact"
                self.last_vector_engine = "driver-cache"
                return [
                    cache.topk(q, top_k, score_round)
                    for q in self.embed(query_texts)
                ]
        res = self._spark_knn(self.embed(query_texts), top_k, score_round)
        if res is None:
            return out
        uid = self._uid_map().withColumnRenamed("doc_id", "vec_id")
        rows = F.broadcast(res).join(uid, "vec_id").select(
            "query_id", "doc_uid", "sim", "rank"
        ).collect()
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((r["doc_uid"], r["sim"]))
        return out

    @staticmethod
    def _fuse(
        bm25_lists: List[List[Tuple[str, float]]],
        vector_lists: List[List[Tuple[str, float]]],
        n_results: int,
    ) -> List[List[Tuple[str, float]]]:
        """Per query: RRF(ratio 0.5, k 60) of the two legs where both
        answered, else the answering leg's raw scores cut to
        ``n_results`` (reference hybrid_retriever.py:379-428)."""
        fused_all = []
        for bm25_results, vector_results in zip(bm25_lists, vector_lists):
            if bm25_results and vector_results:
                fused = rrf_fuse_py(
                    [bm25_results, vector_results],
                    bm25_ratio=0.5,
                    k=60,
                    top_k=n_results,
                )
            else:
                fused = (bm25_results or vector_results)[:n_results]
            fused_all.append(fused)
        return fused_all

    def query(self, query_texts, n_results: int, include=None, **kwargs
              ) -> Dict:
        """ChromaDB-compatible facade (reference
        hybrid_retriever.py:379-428). Ratio pinned to 0.5 regardless
        of kwargs — the reference accepts-and-ignores them.

        Batched: all queries ride one BM25 search and one KNN pass;
        per-query RRF runs driver-side on the tiny top-2k lists. An
        interactive call launches no Spark job, fresh terms, a fresh
        handle and the first call after a write included: the vector
        matrix loads with pyarrow (_load_vec_matrix, within its
        bounds), postings, dfs and texts come through the driver-side
        parquet reader, uids from the vector cache. Embeddings are
        fetched ONLY when requested via ``include``, and only for the
        fused top-k uids — never a full-table collect."""
        if not isinstance(query_texts, list):
            query_texts = [query_texts]
        include = include or ["documents", "metadatas", "distances"]

        # one warm-key validation per call, then both legs in this
        # thread: the vector leg first, so the BM25 leg's doc_id ->
        # uid lookup reads a freshly validated vector cache. Both legs
        # launch no Spark job on a loaded state, so a thread pool
        # would only add GIL hand-offs.
        self._warm_caches()
        vector_lists = self._vector_lists(query_texts, n_results * 2)
        bm25_lists = self._bm25_lists(query_texts, n_results * 2)

        fused_all = self._fuse(bm25_lists, vector_lists, n_results)
        all_uids = sorted({u for fused in fused_all for u, _ in fused})
        texts, metas = self._texts_for_uids(all_uids)
        vec_map: Dict[str, list] = {}
        if "embeddings" in include and all_uids:
            vcache = self._vec_cache
            if isinstance(vcache, _VecCache):
                vec_map = {
                    u: [float(x) for x in vcache.mat[vcache.by_uid[u]]]
                    for u in all_uids
                    if u in vcache.by_uid
                }
            else:
                vec_map = {
                    r["doc_uid"]: r["embedding"]
                    for r in _rows_with_ids(
                        self.vectors_df(), "doc_uid", all_uids, "string"
                    ).collect()
                }

        all_ids, all_docs, all_metas, all_dists, all_embeds = (
            [], [], [], [], [],
        )
        for fused in fused_all:
            uids = [u for u, _ in fused]
            all_ids.append(uids)
            all_docs.append([texts.get(u, "") for u in uids])
            # stored user metadata when present; else the reference's
            # minimal BM25-fallback metadata (hybrid_retriever.py:501)
            all_metas.append(
                [metas.get(u, {"document_id": u}) for u in uids]
            )
            all_dists.append([1.0 - s for _, s in fused])
            all_embeds.append([vec_map.get(u) for u in uids])

        result = {"ids": all_ids}
        if "documents" in include:
            result["documents"] = all_docs
        if "metadatas" in include:
            result["metadatas"] = all_metas
        if "distances" in include:
            result["distances"] = all_dists
        if "embeddings" in include:
            result["embeddings"] = all_embeds
        return result

    # leg results up to this many rows broadcast into the uid-map
    # join (each row is ~50 bytes: two longs, a double, an int —
    # 500k rows ≈ 25 MB serialized, comfortably under the default
    # spark.sql.autoBroadcastJoinThreshold ballpark and a small
    # fraction of spark.driver.maxResultSize's 1g default; the r7
    # 4M bound could materialize hundreds of MB on the driver and
    # fail batches the shuffle join would have completed — ADVICE
    # r7); larger offline batches keep the shuffle join
    _QDF_BROADCAST_ROWS: int = 500_000

    def query_df(
        self,
        queries,
        n_results: int = 10,
        score_round: Optional[int] = None,
    ) -> DataFrame:
        """DataFrame-in/DataFrame-out batch query surface for offline
        evaluation over query sets (VERDICT r5 #5): the same hybrid
        semantics as ``query()`` — each leg at n_results*2,
        RRF(ratio=0.5, k=60) where BOTH legs answered a query, the
        single leg's raw scores truncated to n_results where only one
        did, distance = 1 - score. Query TEXTS are collected
        driver-side (tokenizer + embedder contract, same as every query
        path).

        Two regimes return the same rows:

        * a batch with unique query ids whose 2 * |Q| * 2 * n_results
          leg rows fit _QDF_BROADCAST_ROWS is answered on the driver by
          query()'s own leg helpers and fusion (_query_df_driver): each
          leg picks its engine as in query() — no Spark job on a loaded
          state — and the rows come back as a local relation. The
          leg-row bound is the only size bound: over 1k docs the driver
          regime answered 1k-12.5k queries 3-7x faster than the
          distributed plan (CHANGES.md);
        * any other batch runs the distributed plan: legs stay
          DataFrames end-to-end (their |Q|*k rows broadcast into the
          uid-map join while within _QDF_BROADCAST_ROWS; beyond it the
          shuffle join) and fusion is a distributed RRF (sums of
          exactly two parts, so scores are bit-identical to the
          driver-side rrf_fuse_py); results are never collected into
          Python.

        queries: DataFrame (query_id long, query_text string) or a
        plain list of texts (query_id = position).
        -> DataFrame (query_id, doc_uid, score, distance, rank).

        score_round: round each leg's score/distance to this many
        decimals BEFORE leg ranking (the cross-engine float contract:
        sums of >2 terms are order-sensitive at ulp scale, so an
        external mirror — e.g. the SQL oracle — can only reproduce
        leg ranks on rounded scores). Default None keeps raw floats.
        """
        if isinstance(queries, DataFrame):
            qrows = [
                (int(r[0]), r[1] if r[1] is not None else "")
                for r in queries.select(
                    F.col(queries.columns[0]).cast("long"),
                    F.col(queries.columns[1]),
                ).collect()
            ]
        else:
            qrows = [
                (i, t if t is not None else "") for i, t in enumerate(queries)
            ]
        if (
            len({q for q, _ in qrows}) == len(qrows)
            and 2 * len(qrows) * 2 * n_results <= self._QDF_BROADCAST_ROWS
        ):
            return self._query_df_driver(qrows, n_results, score_round)
        return self._query_df_distributed(qrows, n_results, score_round)

    def _query_df_distributed(
        self, qrows: List[Tuple[int, str]], n_results: int,
        score_round: Optional[int],
    ) -> DataFrame:
        """query_df's distributed regime over the collected
        (query_id, text) rows: both legs stay DataFrames and fusion is
        a distributed RRF; the result rows never reach the driver."""
        top_k = n_results * 2
        legs = []

        if self._index is not None and qrows:
            res = search_sharded(
                self._index, qrows, top_k=top_k,
                strategy=self.bm25_strategy,
                score_round=score_round,
            )
            legs.append(
                res.select(
                    "query_id", "doc_id",
                    F.col("score").alias("leg_score"), "rank",
                    F.lit(0).alias("leg"),
                )
            )

        resv = None
        if qrows:
            embs = self.embed([t for _, t in qrows])
            qvecs = self.spark.createDataFrame(
                [
                    (qid, [float(x) for x in v])
                    for (qid, _), v in zip(qrows, embs)
                ],
                "query_id long, qvec array<double>",
            )
            resv = self._spark_knn(qvecs, top_k, score_round)
        if resv is not None:
            legs.append(
                resv.select(
                    "query_id",
                    F.col("vec_id").alias("doc_id"),
                    F.col("sim").alias("leg_score"), "rank",
                    F.lit(1).alias("leg"),
                )
            )

        # per-query leg presence drives the reference's fallback:
        # both legs -> RRF; one leg -> that leg's RAW scores.
        # ONE-PASS fusion (r9, guide §2.4): the pre-r9 shape derived
        # per-query leg presence from two distinct() sets joined back
        # into the legs plus two anti-joins — each leg SUBTREE (search
        # + uid-map join) appeared three times in the plan. Here the
        # legs union once ON INTERNAL IDS with a leg tag, the
        # corpus-sized uid map joins exactly ONCE against the bounded
        # union (the pre-r9 shape scanned and joined it once per leg),
        # leg presence is a window min/max over the per-(query, doc)
        # agg, and the RRF-vs-raw branch is a column expression — so
        # each leg and the uid map execute exactly once. Values are
        # unchanged: rrf parts are w/(k+rank) summed per (query, doc)
        # — sums of exactly two doubles are order-insensitive —
        # single-leg rows keep their RAW leg score and ORIGINAL leg
        # rank, and the fused rank orders on (rrf_score desc,
        # doc_uid asc) exactly like rrf_fuse.
        if not legs:
            return self.spark.createDataFrame([], QUERY_DF_DDL)
        u = legs[0]
        for p in legs[1:]:
            u = u.unionByName(p)
        # broadcast the RESULT side when bounded: it is at most
        # |legs|*|Q|*top_k rows by contract but Catalyst has no size
        # estimate for a windowed result and would sort-merge join
        # the corpus-sized uid map (same reasoning as search_bm25).
        # For huge offline batches beyond the broadcast-safe bound
        # keep the shuffle join — a 1M-query evaluation must not
        # collect 200M leg rows to the driver.
        if len(legs) * len(qrows) * top_k <= self._QDF_BROADCAST_ROWS:
            u = F.broadcast(u)
        u = u.join(self._uid_map(), "doc_id").select(
            "query_id", "doc_uid", "leg_score", "rank", "leg"
        )
        g = u.groupBy("query_id", "doc_uid").agg(
            F.sum(
                F.lit(0.5)
                / (F.lit(60.0) + F.col("rank").cast("double"))
            ).alias("rrf_score"),
            F.max("leg_score").alias("raw_score"),
            F.min("rank").alias("min_rank"),
            F.min("leg").alias("min_leg"),
            F.max("leg").alias("max_leg"),
        )
        wq = Window.partitionBy("query_id")
        wr = Window.partitionBy("query_id").orderBy(
            F.desc("rrf_score"), F.asc("doc_uid")
        )
        g = g.withColumn(
            "both",
            (F.min("min_leg").over(wq) == 0)
            & (F.max("max_leg").over(wq) == 1),
        ).withColumn("rrf_rank", F.row_number().over(wr))
        return (
            g.filter(
                F.when(
                    F.col("both"), F.col("rrf_rank") <= n_results
                ).otherwise(F.col("min_rank") <= n_results)
            )
            .select(
                "query_id",
                "doc_uid",
                F.when(F.col("both"), F.col("rrf_score"))
                .otherwise(F.col("raw_score"))
                .alias("score"),
                F.when(F.col("both"), F.col("rrf_rank"))
                .otherwise(F.col("min_rank"))
                .alias("rank"),
            )
            .withColumn("distance", F.lit(1.0) - F.col("score"))
            .select("query_id", "doc_uid", "score", "distance", "rank")
        )

    def _query_df_driver(
        self, qrows: List[Tuple[int, str]], n_results: int,
        score_round: Optional[int],
    ) -> DataFrame:
        """query_df's driver regime: query()'s legs and fusion over the
        collected (query_id, text) rows, returned as a local relation
        built from Arrow (a pyarrow table keeps NaN scores NaN; a
        pandas frame would send them as nulls). An empty result is an
        empty LocalTableScan (the limit(0) trick of
        wand._empty_results_df), so collecting it launches no job."""
        import pyarrow as pa

        self._warm_caches()
        texts = [t for _, t in qrows]
        vector_lists = self._vector_lists(texts, n_results * 2, score_round)
        bm25_lists = self._bm25_lists(texts, n_results * 2, score_round)
        rows = [
            (qid, uid, score, 1.0 - score, rank)
            for (qid, _), fused in zip(
                qrows, self._fuse(bm25_lists, vector_lists, n_results)
            )
            for rank, (uid, score) in enumerate(fused, start=1)
        ]
        schema = _arrow_schema(QUERY_DF_DDL)
        cols = list(zip(*rows)) if rows else [[0], [""], [0.0], [0.0], [0]]
        df = self.spark.createDataFrame(pa.Table.from_pydict(
            dict(zip(schema.names, cols)), schema=schema
        ), QUERY_DF_DDL)
        return df if rows else df.limit(0)

    def prewarm(self) -> int:
        """Opt-in warm-up for a reloaded handle: validate the warm
        caches and load the live vector matrix (_load_vec_matrix: no
        Spark job while the vectors' footers bound it within
        ``vector_cache_max_floats``). The postings, df, doc and uid
        caches fill on demand through the driver-side reader, as on
        any fresh handle. Returns the number of live vectors loaded:
        0 when there are none or the matrix is past the bound."""
        self._warm_caches()
        cache = self._vector_cache()
        return len(cache.uids) if cache is not None else 0

    # ------------------------------------------------------------ #
    # stats                                                         #
    # ------------------------------------------------------------ #

    def get_system_stats(self) -> Dict:
        corpus_n = self.corpus_df().count()
        if self._index is None:
            return {
                "chunks": 0,
                "vocabulary_size": 0,
                "total_postings": 0,
                "avg_postings_per_term": 0,
                "avg_chunk_length": 0.0,
                "vector_chunks": corpus_n,
                "cached_chunks": corpus_n,
                "sync_status": "synced" if corpus_n == 0 else "needs_sync",
            }
        self._index.refresh()
        # vocabulary/postings over live shards (all terms)
        shard_stats = self._all_live_shards().agg(
            F.countDistinct("term").alias("vocab"),
            F.sum("df").alias("postings"),
        ).collect()[0]
        vocab = int(shard_stats["vocab"] or 0)
        postings = int(shard_stats["postings"] or 0)
        return {
            "chunks": self._index.n_docs,
            "vocabulary_size": vocab,
            "total_postings": postings,
            "avg_postings_per_term": postings / vocab if vocab else 0,
            "avg_chunk_length": self._index.avgdl,
            "vector_chunks": self.vectors_df().count(),
            "cached_chunks": corpus_n,
            "sync_status": (
                "synced" if self._index.n_docs == corpus_n else "needs_sync"
            ),
        }

    def _all_live_shards(self) -> DataFrame:
        """All live (term, segment) shard rows across generations."""
        from bm25_chroma_spark.index.shards import SHARD_SCAN_DDL

        base = self._index.path
        parts = [
            self.spark.read.option(
                "basePath", str(base / "shards")
            )
            .schema(SHARD_SCAN_DDL)
            .parquet(str(base / "shards"))
            .select("term", "segment", "df", F.lit(0).alias("gen"))
        ]
        gen_root = base / "gen"
        if gen_root.exists():
            for d in sorted(gen_root.glob("gen_*")):
                if (d / "shards").exists():
                    parts.append(
                        self.spark.read.parquet(str(d / "shards")).select(
                            "term", "segment", "df",
                            F.lit(int(d.name.split("_")[1])).alias("gen"),
                        )
                    )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        w = Window.partitionBy("term", "segment").orderBy(F.desc("gen"))
        return (
            u.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("df") > 0))
        )

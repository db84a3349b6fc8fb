"""Driver-side point reads of the index and corpus parquet files.

An interactive query asks tiny questions — the shard rows of a few
terms, the texts of ten uids — that a Spark scan answers only after a
job's scheduling floor (100-180 ms each on a 1k-doc state). This
module answers them on the driver with pyarrow, from the same files
with the same pruning as the Spark scans:

* shards (ShardedIndex._pruned_overlay): the base tree's
  ``group=G/bucket=B`` dirs of the query's buckets plus every DML
  generation, rows filtered on ``term``; newest generation wins per
  (term, segment) and df=0 tombstones drop out;
* corpus (SparkHybridRetriever.corpus_df): every ``gen_*.parquet``,
  rows filtered on ``doc_uid``; newest generation wins per doc_uid and
  ``deleted`` rows drop out;
* doc_stats (dml._live_doc_stats): the base ``doc_stats.parquet`` plus
  every generation's ``doc_stats``, rows filtered on ``doc_id``; newest
  generation wins per doc_id (dl=0 rows kept, the caller reads them as
  not live).

Row-group min/max statistics stand in for Spark's parquet pushdown.
Each read is bounded: it first sums, from the footers, the
uncompressed column-chunk bytes it would decode, and returns None when
that exceeds the byte budget (the index's ``postings_cache_bytes``) —
the caller then keeps its Spark path. The
reader launches no Spark job and writes nothing. ``pyarrow.parquet``
is imported lazily through ``pq.ParquetFile`` (not ``pq.read_table``,
whose filters load ``pyarrow.dataset`` and ~3.6 MB more driver RSS).
"""

from __future__ import annotations

from bisect import bisect_left
from pathlib import Path
from typing import Dict, List, Optional, Sequence, Tuple

# Largest id list a caller sends through a point read; above it the
# callers keep their Spark joins (a broadcast ids DataFrame), and
# apply_dml keeps its distributed path.
MAX_POINT_IDS = 1024

SHARD_COLUMNS = (
    "term", "segment", "df", "doc_bytes", "tf_bytes", "dl_bytes", "blocks",
)


def _data_files(d: Path) -> List[Path]:
    """Parquet data files of one directory, by Spark's listing rule:
    names starting with '_' or '.' (_SUCCESS, .crc) are not data."""
    if not d.is_dir():
        return []
    return sorted(
        p for p in d.iterdir()
        if p.is_file() and not p.name.startswith(("_", "."))
    )


def _stat_key(v):
    if isinstance(v, str):
        return v.encode()
    return v if isinstance(v, int) else bytes(v)


class _Plan:
    """The row groups a read will decode, file by file, and the bytes
    their selected column chunks hold uncompressed."""

    def __init__(self):
        self.parts: List[Tuple[int, Path, object, List[int], List[str]]] = []
        self.nbytes = 0

    def add(self, layer: int, path: Path, key: str, keys: List,
            columns: Sequence[str]) -> None:
        """``keys``: sorted probe keys in the statistics' domain —
        UTF-8 bytes for a string key column, ints for a long one."""
        import pyarrow.parquet as pq

        with pq.ParquetFile(str(path)) as pf:
            md = pf.metadata
        leaves: Dict[str, List[int]] = {}  # top-level column -> leaves
        for j in range(md.num_columns):
            top = md.schema.column(j).path.split(".", 1)[0]
            leaves.setdefault(top, []).append(j)
        cols = [c for c in columns if c in leaves]
        if key not in cols or md.num_rows == 0:
            return
        kj = leaves[key][0]
        rgs = []
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            st = rg.column(kj).statistics
            if st is not None and st.has_min_max:
                lo, hi = _stat_key(st.min), _stat_key(st.max)
                at = bisect_left(keys, lo)
                if at == len(keys) or keys[at] > hi:
                    continue  # no key inside [min, max]
            rgs.append(i)
            self.nbytes += sum(
                rg.column(j).total_uncompressed_size
                for c in cols for j in leaves[c]
            )
        if rgs:
            self.parts.append((layer, path, md, rgs, cols))

    def newest(self, key: str, keys: List, ident) -> Dict:
        """ident(row) -> row of the newest layer holding it, over the
        rows (as dicts) whose ``key`` is in ``keys``."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        value_set = pa.array(keys)
        out: Dict = {}
        for layer, path, md, rgs, cols in self.parts:
            with pq.ParquetFile(str(path), metadata=md) as pf:
                t = pf.read_row_groups(rgs, columns=cols, use_threads=False)
            t = t.filter(pc.is_in(t[key], value_set=value_set))
            for r in t.to_pylist():
                k = ident(r)
                if k not in out or out[k][0] <= layer:
                    out[k] = (layer, r)
        return {k: r for k, (_, r) in out.items()}


def shard_rows(
    index, terms: Sequence[str], columns: Sequence[str] = SHARD_COLUMNS
) -> Optional[List[dict]]:
    """The live shard rows of ``terms`` in a ShardedIndex (one per
    (term, segment)), as dicts of ``columns`` (which must include
    term, segment and df) — exactly the rows of
    ``index.shards_for_terms(terms)``. None when the column chunks to
    decode exceed ``index.postings_cache_bytes``."""
    from bm25_chroma_spark.index.shards import _groups, bucket_of

    terms = sorted(set(terms))
    if not terms:
        return []
    keys = sorted(t.encode("utf-8") for t in terms)
    buckets = sorted(
        {bucket_of(t, index.config.num_term_buckets) for t in terms}
    )
    n_groups = _groups(index.path)
    groups = sorted({b % n_groups for b in buckets})
    plan = _Plan()
    shards = index.path / "shards"
    for g in groups:
        for b in buckets:
            for f in _data_files(shards / f"group={g}" / f"bucket={b}"):
                plan.add(0, f, "term", keys, columns)
    gen_root = index.path / "gen"
    if gen_root.exists():
        for d in sorted(gen_root.glob("gen_*")):
            layer = int(d.name.split("_")[1])
            for f in _data_files(d / "shards"):
                plan.add(layer, f, "term", keys, columns)
    if plan.nbytes > index.postings_cache_bytes:
        return None
    newest = plan.newest("term", terms, lambda r: (r["term"], r["segment"]))
    return [r for r in newest.values() if r["df"] > 0]


def doc_stats_rows(
    base: Path, doc_ids: Sequence[int], max_bytes: int
) -> Optional[Dict[int, int]]:
    """doc_id -> dl of the newest doc_stats layer holding each of
    ``doc_ids`` (base doc_stats.parquet, then every DML generation),
    dl=0 overlay rows included: a doc absent from the result, or at
    dl 0, is not live. None when the column chunks to decode exceed
    ``max_bytes``."""
    ids = sorted({int(d) for d in doc_ids})
    if not ids:
        return {}
    plan = _Plan()
    layers = [(0, base / "doc_stats.parquet")]
    gen_root = base / "gen"
    if gen_root.exists():
        layers += [
            (int(d.name.split("_")[1]), d / "doc_stats")
            for d in sorted(gen_root.glob("gen_*"))
        ]
    for layer, d in layers:
        for f in _data_files(d):
            plan.add(layer, f, "doc_id", ids, ("doc_id", "dl"))
    if plan.nbytes > max_bytes:
        return None
    newest = plan.newest("doc_id", ids, lambda r: r["doc_id"])
    return {d: int(r["dl"]) for d, r in newest.items()}


def corpus_rows(
    corpus_dir: Path, uids: Sequence[str], max_bytes: int
) -> Optional[Dict[str, Tuple[str, Optional[str]]]]:
    """doc_uid -> (text, meta_json) for the live uids among ``uids`` —
    exactly the rows of corpus_df() filtered on doc_uid. A generation
    written without meta_json reads it as None. None when the column
    chunks to decode exceed ``max_bytes``."""
    uids = sorted(set(uids))
    if not uids:
        return {}
    keys = sorted(u.encode("utf-8") for u in uids)
    plan = _Plan()
    for g in sorted(corpus_dir.glob("gen_*.parquet")):
        layer = int(g.stem.split("_")[1])
        for f in _data_files(g):
            plan.add(layer, f, "doc_uid", keys,
                     ("doc_uid", "text", "meta_json", "deleted"))
    if plan.nbytes > max_bytes:
        return None
    newest = plan.newest("doc_uid", uids, lambda r: r["doc_uid"])
    return {
        u: (r["text"], r.get("meta_json"))
        for u, r in newest.items()
        if r["deleted"] is False
    }

"""Document-management DML over the sharded index: add / upsert /
remove / reset, matching the reference lifecycle semantics
(/root/reference/bm25_chroma/bm25.py:145-258):

* re-added id -> remove-then-add (fresh postings)        [bm25.py:151-152]
* remove re-tokenizes the stored text to find affected
  terms and hard-deletes the postings                     [bm25.py:238-249]
* terms whose lists empty out vanish from the vocabulary  [bm25.py:248-250]
* doc length zeroed, N decremented, avgdl recomputed      [bm25.py:253-258]
* removing an unknown id is a no-op                       [bm25.py:229-230]

Physical design: the base build is generation 0; every DML batch
writes generation k containing ONLY re-encoded shard rows for the
affected (term, segment) pairs (terms appearing in removed or added
texts — all other shards are untouched, so DML cost scales with the
batch's vocabulary, not the corpus) plus a doc_stats delta. A (term,
segment) whose postings empty out gets a df=0 tombstone row. Readers
overlay generations and keep the newest row per (term, segment).

Two paths write the same generation (pinned byte for byte by
tests/test_dml_paths.py):

* driver: a small batch runs without the Spark job floor. Its inputs
  are collected (at most reader.MAX_POINT_IDS rows), tokenized with
  tokenize_py, the ids' prior doc lengths and then, one term bucket at
  a time, the affected shard rows are point-read by index/reader.py,
  decoded as one slice, merged and re-encoded with the build's codec;
  the generation is written with pyarrow in the Spark schemas. Three bounds keep it small: the id bound, the
  affected terms' summed df (wand.CACHE_MAX_QUERY_POSTINGS) and the
  reader's byte budget (ShardedIndex.postings_cache_bytes).
* distributed: everything above a bound (and an index whose
  stats.json predates ``sum_dl``) runs as Spark joins; victim ids and
  affected terms stay DataFrames end to end.

Corpus stats: stats.json keeps ``n_docs`` and the integer ``sum_dl``.
The driver path updates them arithmetically from the ids' prior and
new doc lengths; the distributed path re-aggregates the live
doc_stats. ``avgdl = sum_dl / n_docs`` either way, bit-identical to
Spark's avg(dl): an integer sum below 2^53 is exact in double.

This is hard-delete semantics (IDF reflects removals immediately,
matching the reference's _compute_idf over the post-delete list), not
query-time tombstone filtering.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import NamedTuple, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bm25_chroma_spark.config import BM25Config
from bm25_chroma_spark.index.shards import (
    SHARD_DDL,
    _encode_bucket_segment,
    decode_shards_to_postings,
)
from bm25_chroma_spark.operators.index_build import tokenize_docs


def _read_stats(base: Path) -> dict:
    return json.loads((base / "stats.json").read_text())


def _atomic_write_text(path: Path, text: str) -> None:
    """Crash-safe small-file write: stage to .tmp, fsync, os.replace.
    A torn stats.json (or compaction marker) would otherwise brick the
    index — _read_stats raises JSONDecodeError on every open and
    recover_index reads stats before it can heal anything."""
    import os

    tmp = path.with_name(path.name + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _write_stats(base: Path, stats: dict) -> None:
    _atomic_write_text(base / "stats.json", json.dumps(stats, indent=2))


def apply_dml(
    spark: SparkSession,
    index_dir: str,
    upserts: Optional[DataFrame] = None,
    delete_docs: Optional[DataFrame] = None,
) -> dict:
    """One DML batch against a built index.

    upserts:     (doc_id long, text string) — added; an existing
                 doc_id is replaced (remove-then-add). NOTE: complete
                 replacement requires the OLD text of every existing
                 id to also arrive via ``delete_docs`` (the caller
                 owns the corpus and passes prior versions back, as
                 SparkHybridRetriever and stream_index_ingest do) —
                 otherwise terms that only existed in the previous
                 version keep stale postings. This mirrors the
                 reference, which re-tokenizes its stored chunk_texts
                 on removal (bm25.py:238-249).
    delete_docs: (doc_id long, text string) — removed; text is the
                 stored content. Unknown ids no-op.

    A batch of at most reader.MAX_POINT_IDS input rows whose affected
    terms sum to at most wand.CACHE_MAX_QUERY_POSTINGS postings, and
    whose point reads fit ShardedIndex.postings_cache_bytes, runs on
    the driver (_driver_batch): no Spark job when both inputs are
    local relations, one limited collect otherwise. Stats then move
    arithmetically: n_docs and sum_dl change by the ids' new minus
    prior live counts and lengths, and avgdl = sum_dl / n_docs. Any
    other batch, or an index whose stats.json lacks sum_dl, takes the
    distributed path (_distributed_batch), which re-aggregates the
    live doc_stats and so also writes sum_dl.

    Both paths stage the generation in a dot-prefixed dir, publish it
    with one rename and then write stats.json (see recover_index).

    Returns {generation, affected_terms, live_docs, avgdl}.
    """
    import shutil

    from bm25_chroma_spark.index.shards import ShardedIndex

    base = Path(index_dir)
    # ShardedIndex.refresh() runs crash recovery (finish a committed
    # compaction, reconcile stats with rename-committed generations)
    # before we read stats
    index = ShardedIndex(spark, index_dir)
    stats = _read_stats(base)
    gen_root = base / "gen"
    gen_root.mkdir(parents=True, exist_ok=True)
    # next generation = 1 + max(stats, dirs on disk): recover_index
    # already reconciled these, but stay defensive — colliding with an
    # existing dir would fail the commit rename
    disk_gens = [
        int(d.name.split("_")[1]) for d in gen_root.glob("gen_*")
    ]
    gen = max([int(stats.get("generation", 0))] + disk_gens) + 1
    # leftover staging dirs from a crashed DML are invisible to
    # readers (dot-prefixed, outside the gen_* glob) — clear them
    for d in gen_root.glob(".tmp_gen_*"):
        shutil.rmtree(d, ignore_errors=True)
    tmp_dir = gen_root / f".tmp_gen_{gen:05d}"
    gen_dir = gen_root / f"gen_{gen:05d}"

    inputs = [
        None if df is None
        else df.select(F.col("doc_id").cast("long"), "text")
        for df in (upserts, delete_docs)
    ]
    batch = (
        _driver_batch(index, *inputs) if "sum_dl" in stats else None
    )
    if batch is not None:
        batch.write(tmp_dir)
        n_affected = batch.n_affected
    else:
        n_affected = _distributed_batch(spark, index, *inputs, tmp_dir)

    # COMMIT POINT: one atomic rename publishes the complete
    # generation (shards + doc_stats together) to readers. A crash
    # before this leaves only the invisible .tmp_ staging dir (readers
    # glob gen_*); a crash after — before the stats write below — is
    # healed by recover_index() on next open, which reconciles
    # stats.json with the generations that landed on disk. This closes
    # the torn-generation window where gen_K/shards was visible to the
    # overlay before gen_K/doc_stats and stats.json existed.
    tmp_dir.rename(gen_dir)

    if batch is not None:
        n_docs = stats["n_docs"] + batch.d_docs
        sum_dl = stats["sum_dl"] + batch.d_sum_dl
    else:
        n_docs, sum_dl = _live_totals(spark, base, upto_gen=gen)
    _set_totals(stats, n_docs, sum_dl)
    stats["generation"] = gen
    _write_stats(base, stats)
    return {
        "generation": gen,
        "affected_terms": n_affected,
        "live_docs": stats["n_docs"],
        "avgdl": stats["avgdl"],
    }


def _set_totals(stats: dict, n_docs: int, sum_dl: int) -> None:
    stats["n_docs"] = int(n_docs)
    stats["sum_dl"] = int(sum_dl)
    stats["avgdl"] = sum_dl / n_docs if n_docs else 0.0


def _live_totals(spark, base: Path, upto_gen: Optional[int] = None):
    """(n_docs, sum_dl) over the live doc_stats overlay: one agg."""
    row = _live_doc_stats(spark, base, upto_gen).agg(
        F.count("*").alias("n"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    return int(row["n"] or 0), int(row["sum_dl"] or 0)


def _is_local(df: DataFrame) -> bool:
    """True when the optimized plan is a driver-side LocalRelation
    (e.g. a pandas-built frame and projections of it), whose collect
    launches no Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _collect_local(df: DataFrame, bound: int):
    """The (doc_id, text) rows of ``df`` as (int64 ids, texts) when it
    is a local relation of at most ``bound`` rows, collected with no
    Spark job; else None."""
    import numpy as np

    sel = df.limit(bound + 1)
    if not _is_local(sel):
        return None
    got = sel.collect()
    if len(got) > bound:
        return None
    return (np.asarray([r[0] for r in got], dtype=np.int64),
            [r[1] for r in got])


def _collect_small(frames, bound: int):
    """The (doc_id, text) rows of each frame in ``frames`` (None =
    no rows) as (int64 ids, texts), or None when they hold more than
    ``bound`` rows together. Local relations collect with no job; any
    other input set is one limited union collected in one job."""
    import numpy as np

    live = [(i, f) for i, f in enumerate(frames) if f is not None]
    rows = [([], []) for _ in frames]
    if all(_is_local(f.limit(bound + 1)) for _, f in live):
        for i, f in live:
            rows[i] = _collect_local(f, bound)
            if rows[i] is None:
                return None
    elif live:
        # one limit over the union: under AQE every limit's exchange
        # is a job of its own
        u = None
        for i, f in live:
            f = f.withColumn("_src", F.lit(i))
            u = f if u is None else u.unionByName(f)
        pdf = u.limit(bound + 1).toPandas()
        for i, _ in live:
            part = pdf[pdf["_src"] == i]
            rows[i] = (part["doc_id"].tolist(), part["text"].tolist())
    if sum(len(ids) for ids, _ in rows) > bound:
        return None
    return [(np.asarray(ids, dtype=np.int64), texts) for ids, texts in rows]


class _DriverBatch(NamedTuple):
    """A DML batch merged on the driver, ready to write: the
    generation's shard rows (None when no term is affected) and
    doc_stats delta as Arrow tables, plus the stats deltas."""

    shards: object
    doc_stats: object
    n_affected: int
    d_docs: int
    d_sum_dl: int

    def write(self, tmp_dir: Path) -> None:
        for name, table in (("shards", self.shards),
                            ("doc_stats", self.doc_stats)):
            if table is not None:
                write_arrow_dir(tmp_dir / name, table)


def _arrow_schema(ddl: str):
    """The Arrow schema Spark itself maps ``ddl`` to, so pyarrow-written
    generation files read back as the Spark-written ones do."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


# Rows per row group of a pyarrow-written data file. A large list-API
# generation (one file) stays splittable for Spark scans and prunable
# for point reads; at 1-2 KB a row this is about Spark's own 128 MB
# parquet.block.size (pyarrow's default is 1Mi rows: one group).
ARROW_ROW_GROUP_ROWS = 1 << 16


def write_arrow_dir(d: Path, table, success: bool = True) -> None:
    """Write ``table`` as the one data file of the parquet dir ``d``,
    as a Spark write leaves it: the file lands under a dot-prefixed
    name and is renamed into place (readers skip '.' and '_' names, so
    a crash mid-write leaves no torn data file), then the _SUCCESS
    marker."""
    import pyarrow.parquet as pq

    d.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, d / ".part-00000.parquet",
                   row_group_size=ARROW_ROW_GROUP_ROWS)
    (d / ".part-00000.parquet").replace(d / "part-00000.parquet")
    if success:
        (d / "_SUCCESS").touch()


def _driver_batch(index, upserts, delete_docs) -> Optional[_DriverBatch]:
    """The driver path of apply_dml, or None when a bound sends the
    batch to the distributed path. Reads only; writes nothing."""
    import numpy as np
    import pyarrow as pa

    from bm25_chroma_spark.index import reader, wand
    from bm25_chroma_spark.index.shards import (
        _driver_tokens,
        _term_buckets,
        _term_counts,
    )

    got = _collect_small([upserts, delete_docs], reader.MAX_POINT_IDS)
    if got is None:
        return None
    (up_ids, up_texts), (del_ids, del_texts) = got

    # the build's tokenize core; tokenize_docs semantics: zero-token
    # docs add no postings and leave the index as a deleted doc would
    new = _term_counts(_driver_tokens(up_texts))
    del_terms = _term_counts(_driver_tokens(del_texts)).terms
    terms = sorted(set(new.terms) | set(del_terms))

    # the affected terms' summed df must fit the query bound
    if terms:
        dfs = reader.shard_rows(index, terms, ("term", "segment", "df"))
        if dfs is None:
            return None
        if sum(int(r["df"]) for r in dfs) > wand.CACHE_MAX_QUERY_POSTINGS:
            return None
    victims = np.unique(np.concatenate((up_ids, del_ids)))
    prior = reader.doc_stats_rows(
        index.path, victims.tolist(), index.postings_cache_bytes
    )
    if prior is None:
        return None

    # merged one term bucket at a time: a bucket's rows, decoded
    # postings and encoder objects are freed before the next bucket's
    # are read, which keeps the driver's peak memory to one bucket
    n_buckets = index.config.num_term_buckets
    post_bucket = _term_buckets(new.terms, n_buckets)[new.code]
    by_bucket: dict = {}
    for t, b in zip(terms, _term_buckets(terms, n_buckets).tolist()):
        by_bucket.setdefault(b, []).append(t)
    tables = []
    for b, b_terms in by_bucket.items():
        rows = reader.shard_rows(index, b_terms)
        if rows is None:
            return None
        k = post_bucket == b
        tables.append(_merged_shards(
            index, b_terms, rows, victims,
            (new.terms[new.code[k]], up_ids[new.doc[k]], new.tf[k],
             new.dl[new.doc[k]]),
        ))
        del rows
    shards = pa.concat_tables(tables) if tables else None

    # doc_stats delta: every victim not re-added with >= 1 token goes
    # to dl=0 (plain deletes, unknown ids and upserts-to-empty-text —
    # the reference removes first, then bails on empty tokens,
    # bm25.py:151-156); re-added docs get their fresh dl
    dl_of = dict(zip(up_ids.tolist(), new.dl.tolist()))
    ds_ids = victims.tolist()
    ds_dl = [dl_of.get(d, 0) for d in ds_ids]
    doc_stats = pa.Table.from_pydict(
        {"doc_id": ds_ids, "dl": ds_dl},
        schema=_arrow_schema("doc_id long, dl int"),
    )
    d_docs = d_sum = 0
    for d, now in zip(ds_ids, ds_dl):
        was = prior.get(d, 0)
        d_docs += (now > 0) - (was > 0)
        d_sum += now - was
    return _DriverBatch(shards, doc_stats, len(terms), d_docs, d_sum)


def _merged_shards(index, terms, old_rows, victims, new):
    """Shard rows of ``terms`` as an Arrow table: their surviving
    stored postings (``old_rows`` decoded as one slice, ``victims``
    dropped) plus the batch's ``new`` postings of these terms (flat
    term, doc id, tf and doc length arrays), re-capped, re-encoded per
    (bucket, segment) with the build's codec, and a df=0 tombstone for
    every (term, segment) that emptied out. Each (bucket, segment)
    becomes Arrow as soon as it is encoded, so its per-row Python
    objects never pile up on the driver."""
    import numpy as np
    import pyarrow as pa

    from bm25_chroma_spark.index.encode import decode_flat_slice
    from bm25_chroma_spark.index.shards import (
        _cap_keep,
        _encode_flat_slice,
        bucket_of,
        hash_segment_np,
    )

    cfg = index.config
    n_term, n_doc, n_tf, n_dl = new
    # surviving stored postings of the affected terms ...
    per_row, o_doc, o_tf, o_dl = decode_flat_slice(
        [r["doc_bytes"] for r in old_rows],
        [r["tf_bytes"] for r in old_rows],
        [r["dl_bytes"] for r in old_rows],
        [r["blocks"] for r in old_rows],
    )
    keep = ~np.isin(o_doc, victims)
    # ... plus the batch's new postings
    term = np.concatenate((
        np.repeat(np.array([r["term"] for r in old_rows], dtype=object),
                  per_row)[keep],
        n_term,
    ))
    doc = np.concatenate((o_doc[keep], n_doc))
    tf = np.concatenate((o_tf[keep], n_tf))
    dl = np.concatenate((o_dl[keep], n_dl))
    seg = np.concatenate((
        np.repeat(np.array([r["segment"] for r in old_rows],
                           dtype=np.int64), per_row)[keep],
        hash_segment_np(n_doc, cfg.salt_factor),
    ))
    codes, uniq = pd.factorize(term)
    codes = codes.astype(np.int64)
    if cfg.max_postings_per_term and index.build_cap_physical:
        # reference flush semantics (bm25.py:176-195): re-truncate each
        # affected term to the cap in (tf desc, doc_id asc) order
        k = _cap_keep(codes, doc, tf, cfg.max_postings_per_term)
        codes, doc, tf, dl, seg = codes[k], doc[k], tf[k], dl[k], seg[k]
    bucket_map = {t: bucket_of(t, cfg.num_term_buckets) for t in terms}
    bucket = np.array([bucket_map[t] for t in uniq], dtype=np.int64)[codes]

    schema = _arrow_schema(SHARD_DDL)
    tables = []
    order = np.lexsort((seg, bucket))
    cut = np.flatnonzero(
        np.diff(bucket[order]) | np.diff(seg[order])
    ) + 1
    live_keys = set()
    for g in np.split(order, cut) if len(order) else []:
        part = _encode_flat_slice(
            codes[g], uniq, doc[g], tf[g], dl[g], int(bucket[g[0]]),
            int(seg[g[0]]), cfg.block_size,
        )
        live_keys.update((t, int(seg[g[0]])) for t in part["term"])
        tables.append(pa.Table.from_pandas(
            part, schema=schema, preserve_index=False
        ).replace_schema_metadata(None))

    # tombstones: (term, segment) that existed but emptied out
    gone = sorted(
        {(r["term"], int(r["segment"])) for r in old_rows} - live_keys
    )
    if gone:
        tables.append(pa.Table.from_pydict({
            "bucket": [bucket_map[t] for t, _ in gone],
            "term": [t for t, _ in gone],
            "segment": [s for _, s in gone],
            "df": [0] * len(gone),
            "doc_bytes": [b""] * len(gone),
            "tf_bytes": [b""] * len(gone),
            "dl_bytes": [b""] * len(gone),
            "blocks": [[] for _ in gone],
        }, schema=schema))
    return pa.concat_tables(tables) if tables else schema.empty_table()


def _distributed_batch(spark, index, upserts, delete_docs, tmp_dir) -> int:
    """The distributed path of apply_dml: writes the staged generation
    under ``tmp_dir`` with Spark. Victim ids and affected terms stay
    DataFrames end-to-end (broadcast semi/anti joins); only the
    bounded bucket list reaches the driver, so bulk deletes of
    millions of docs never build a driver-side id list. Returns the
    affected term count."""
    from pyspark.sql.types import IntegerType

    from bm25_chroma_spark.index.shards import hash_segment_np

    cfg = index.config
    empty = spark.createDataFrame([], "doc_id long, text string")
    upserts = empty if upserts is None else upserts
    delete_docs = empty if delete_docs is None else delete_docs

    # victims = explicit deletes + upserts of existing ids
    victims = delete_docs.unionByName(upserts).select("doc_id", "text")
    victim_ids = victims.select("doc_id").distinct()

    # affected terms: everything in victim or new texts — a DataFrame
    # (vocabulary of a bulk batch can be large)
    vic_tok = tokenize_docs(victims, "doc_id", "text")
    new_tok = tokenize_docs(upserts, "doc_id", "text").persist()
    affected_terms_df = (
        vic_tok.select(F.explode("terms.term").alias("term"))
        .unionByName(new_tok.select(F.explode("terms.term").alias("term")))
        .distinct()
        .persist()
    )
    n_affected = affected_terms_df.count()

    # segment assignment MUST match the base build's hash_segment —
    # one segment function across the index's life, or per-segment
    # scoring sees the same doc in two segments with split scores
    salt = cfg.salt_factor

    @F.pandas_udf(IntegerType())
    def seg_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series(hash_segment_np(doc_id.to_numpy(), salt))

    if n_affected:
        aff_shards = index.shards_for_terms_df(affected_terms_df).persist()
        old = decode_shards_to_postings(aff_shards).join(
            F.broadcast(victim_ids), "doc_id", "left_anti"
        )

        new_flat = new_tok.select(
            "doc_id", "dl", F.explode("terms").alias("t")
        ).select(
            F.col("t.term").alias("term"),
            "doc_id",
            F.col("t.tf").cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
        )
        merged = old.select("term", "doc_id", "tf", "dl").unionByName(
            new_flat
        )
        if cfg.max_postings_per_term and index.build_cap_physical:
            # (legacy indexes without the build_cap_enforced marker
            # store postings uncapped — re-capping only the affected
            # terms would mix semantics; their query guard refuses a
            # binding build cap instead.)
            # reference flush semantics (bm25.py:176-195): merge the
            # surviving stored postings (already capped — evicted ones
            # never come back) with the batch's new postings, then
            # re-truncate to the cap in (tf desc, doc_id asc) order.
            # Affected-term postings are bounded (<= cap + batch), so
            # a per-term rank window is safe here.
            from pyspark.sql import Window

            w_cap = Window.partitionBy("term").orderBy(
                F.desc("tf"), F.asc("doc_id")
            )
            merged = (
                merged.withColumn("rn", F.row_number().over(w_cap))
                .filter(F.col("rn") <= cfg.max_postings_per_term)
                .drop("rn")
            )
        keyed = merged.select(
            "term",
            "doc_id",
            F.col("tf").cast("int").alias("tf"),
            F.col("dl").cast("int").alias("dl"),
            F.pmod(
                F.crc32(F.encode(F.col("term"), "utf-8")),
                F.lit(cfg.num_term_buckets),
            ).cast("int").alias("bucket"),
            seg_udf(F.col("doc_id")).alias("segment"),
        )
        block_size = cfg.block_size
        # persisted: both the generation write and the tombstone
        # anti-join consume it — without the pin the encode UDF would
        # run twice
        encoded = keyed.groupBy("bucket", "segment").applyInPandas(
            lambda pdf: _encode_bucket_segment(pdf, block_size),
            schema=SHARD_DDL,
        ).persist()

        # tombstones: (term, segment) that existed but emptied out
        old_keys = aff_shards.select("bucket", "term", "segment").distinct()
        gone = old_keys.join(
            encoded.select("term", "segment").distinct(),
            ["term", "segment"],
            "left_anti",
        ).select(
            "bucket",
            "term",
            "segment",
            F.lit(0).cast("long").alias("df"),
            F.lit(b"").alias("doc_bytes"),
            F.lit(b"").alias("tf_bytes"),
            F.lit(b"").alias("dl_bytes"),
            F.array().cast(
                "array<struct<first_doc: long, n: int, max_tf: int, "
                "min_dl: int, doc_off: int, tf_off: int, dl_off: int>>"
            ).alias("blocks"),
        )
        encoded.unionByName(gone).write.mode("overwrite").parquet(
            str(tmp_dir / "shards")
        )
        encoded.unpersist()
        aff_shards.unpersist()

    # doc_stats delta: every victim not re-added with >=1 token goes
    # to dl=0 (covers plain deletes AND upserts-to-empty-text — the
    # reference removes first, then bails on empty tokens,
    # bm25.py:151-156); re-added docs get their fresh dl
    ds_delta = victims.select("doc_id").distinct().join(
        new_tok.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.lit(0).alias("dl")).unionByName(
        new_tok.select("doc_id", "dl")
    )
    ds_delta.write.mode("overwrite").parquet(str(tmp_dir / "doc_stats"))
    new_tok.unpersist()
    affected_terms_df.unpersist()
    return n_affected


_COMPACT_MARKER = "compaction_commit.json"


def _finish_compaction(base: Path) -> bool:
    """Idempotently replay the destructive promote steps of a
    committed compaction. Called by compact_index itself and by
    recover_index() on every index open, so a crash anywhere after
    the commit marker lands loses nothing: the compacted data in
    ``*_compacting`` is authoritative the moment the marker exists,
    and every step below is guarded by existence checks so replay
    from any intermediate crash point converges to the same state.
    Concurrency: the promote sequence is destructive (rmtree + rename
    + unlink), and refresh() runs it on EVERY open — two concurrent
    opens racing through the existence checks could each pass
    ``tmp.exists()`` and then destroy the other's freshly promoted
    dirs. An exclusive flock on a sidecar lock file serializes the
    whole sequence, and the marker is re-checked under the lock, so
    the loser of the race observes the finished state and no-ops.

    Returns True when a marker was found and finished."""
    import fcntl
    import shutil

    marker = base / _COMPACT_MARKER
    if not marker.exists():
        return False
    lock_path = base / ".recovery.lock"
    with open(lock_path, "w") as lock:
        fcntl.flock(lock.fileno(), fcntl.LOCK_EX)
        try:
            if not marker.exists():
                # another process finished the promote while we waited
                return False
            tmp = base / "shards_compacting"
            if tmp.exists():
                shutil.rmtree(base / "shards", ignore_errors=True)
                tmp.rename(base / "shards")
            ds_tmp = base / "doc_stats_compacting"
            if ds_tmp.exists():
                shutil.rmtree(base / "doc_stats.parquet", ignore_errors=True)
                ds_tmp.rename(base / "doc_stats.parquet")
            shutil.rmtree(base / "gen", ignore_errors=True)
            stats = _read_stats(base)
            if int(stats.get("generation", 0)) != 0:
                stats["generation"] = 0
                _write_stats(base, stats)
            marker.unlink()
            return True
        finally:
            fcntl.flock(lock.fileno(), fcntl.LOCK_UN)


def recover_index(spark: SparkSession, base: Path) -> dict:
    """Crash recovery on index open (ShardedIndex.refresh calls this):

    1. finish a committed-but-unpromoted compaction (marker protocol,
       see _finish_compaction);
    2. reconcile stats.json with DML generations that rename-committed
       but whose stats write was lost (apply_dml publishes the gen dir
       atomically BEFORE updating stats.json) — recompute N, sum_dl
       and avgdl over the live overlay and bump the recorded
       generation.

    Idempotent; on a clean index this is a marker check + a glob.
    Returns the (possibly updated) stats dict."""
    _finish_compaction(base)
    stats = _read_stats(base)
    gen_root = base / "gen"
    disk = (
        [int(d.name.split("_")[1]) for d in gen_root.glob("gen_*")]
        if gen_root.exists()
        else []
    )
    disk_gen = max(disk) if disk else 0
    if disk_gen > int(stats.get("generation", 0)):
        _set_totals(stats, *_live_totals(spark, base))
        stats["generation"] = disk_gen
        _write_stats(base, stats)
    return stats


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Fold all DML generations back into a clean base: newest live
    (term, segment) rows become generation-0 shards, doc_stats
    collapses to live rows, gen dirs are dropped. Readers see
    identical content before and after; read amplification returns
    to one layer. (The LSM maintenance step — run when the
    generation count grows.)

    Crash-atomic: the compacted shards and doc_stats are fully
    written to ``*_compacting`` staging dirs first, then a commit
    marker lands, and only then are the old dirs destroyed/replaced
    (rename promote). A crash before the marker leaves the live index
    untouched (stale staging dirs are overwritten next run); a crash
    after the marker is finished idempotently by _finish_compaction
    on the next open."""
    import shutil

    from pyspark.sql import Window

    base = Path(index_dir)
    _finish_compaction(base)  # heal a previously crashed compaction
    stats = _read_stats(base)
    cfg = BM25Config(**stats["config"])
    gen_root = base / "gen"
    if not gen_root.exists() or not list(gen_root.glob("gen_*")):
        return {"compacted": False, "generation": stats.get("generation", 0)}

    groups = len(list((base / "manifests").glob("group_*.json")))

    from bm25_chroma_spark.index.shards import SHARD_SCAN_DDL

    parts = [
        spark.read.option("basePath", str(base / "shards"))
        .schema(SHARD_SCAN_DDL)
        .parquet(str(base / "shards"))
        .select(
            "bucket", "term", "segment", "df", "doc_bytes", "tf_bytes",
            "dl_bytes", "blocks", F.lit(0).alias("gen"),
        )
    ]
    for g, p in _gen_dirs(base, "shards"):
        parts.append(
            spark.read.parquet(p).select(
                "bucket", "term", "segment", "df", "doc_bytes",
                "tf_bytes", "dl_bytes", "blocks", F.lit(g).alias("gen"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy("term", "segment").orderBy(F.desc("gen"))
    live = (
        u.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("df") > 0))
        .drop("rn", "gen")
        .withColumn(
            "group", F.pmod(F.col("bucket"), F.lit(groups)).cast("int")
        )
    )
    tmp = base / "shards_compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    # ONE job writes every group: partitionBy(group, bucket) produces
    # the exact reader layout (shards/group=G/bucket=B/) without
    # re-executing the overlay plan once per group — the old per-group
    # filter loop re-read and re-windowed the whole index G times.
    live.write.mode("overwrite").partitionBy("group", "bucket").parquet(
        str(tmp)
    )
    # partitionBy creates no dir for a group with zero live rows, but
    # readers address shards/group=G explicitly (shards.py
    # _pruned_overlay) — every group the manifests promise must exist
    # after the promote. Backfill missing groups with a schema'd empty
    # parquet file (not a bare mkdir: a data file keeps the partition
    # depth uniform and the dir non-degenerate), BEFORE the commit
    # marker lands so a crash mid-backfill stays on the old base.
    from bm25_chroma_spark.index.shards import SHARD_FILE_DDL

    written = {d.name for d in tmp.glob("group=*")}
    for g in range(groups):
        if f"group={g}" not in written:
            spark.createDataFrame([], SHARD_FILE_DDL).coalesce(
                1
            ).write.mode("overwrite").parquet(
                str(tmp / f"group={g}" / "bucket=0")
            )

    ds = _live_doc_stats(spark, base)
    ds_tmp = base / "doc_stats_compacting"
    shutil.rmtree(ds_tmp, ignore_errors=True)
    ds.write.mode("overwrite").parquet(str(ds_tmp))

    prev_gen = stats.get("generation", 0)
    # COMMIT POINT: both staging dirs are complete; after the marker
    # lands the promote is replayable from any crash. Atomic write: a
    # torn marker must never be mistaken for a commit.
    _atomic_write_text(
        base / _COMPACT_MARKER,
        json.dumps({"folded_generations": prev_gen}),
    )
    _finish_compaction(base)
    return {"compacted": True, "folded_generations": prev_gen}


def _gen_dirs(base: Path, kind: str, upto_gen: Optional[int] = None):
    root = base / "gen"
    if not root.exists():
        return []
    out = []
    for d in sorted(root.glob("gen_*")):
        g = int(d.name.split("_")[1])
        if upto_gen is not None and g > upto_gen:
            continue
        if (d / kind).exists():
            out.append((g, str(d / kind)))
    return out


def _live_doc_stats(
    spark: SparkSession, base: Path, upto_gen: Optional[int] = None
) -> DataFrame:
    """Latest (doc_id, dl) per doc across generations, dl>0 only."""
    from pyspark.sql import Window

    parts = [
        spark.read.parquet(str(base / "doc_stats.parquet")).select(
            "doc_id", "dl", F.lit(0).alias("gen")
        )
    ]
    for g, p in _gen_dirs(base, "doc_stats", upto_gen):
        parts.append(
            spark.read.parquet(p).select(
                "doc_id", "dl", F.lit(g).alias("gen")
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy("doc_id").orderBy(F.desc("gen"))
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("dl") > 0))
        .select("doc_id", "dl")
    )

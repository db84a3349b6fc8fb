"""Deduplication operators for large-scale training-data pipelines.

All exact/near-dup detection is expressed as DataFrame transformations
whose heavy lifting stays JVM-side (hash/array built-ins); only SimHash
uses an Arrow-vectorized pandas UDF (bit-twiddling is awkward in SQL).

Scale notes (the 100 TB story):
* exact dedup      — one groupBy on a 256-bit hash; pure shuffle-bound.
* MinHash LSH      — per-doc signatures are a narrow map-side pass
  (md5 is used for cross-engine oracle parity; swap HASH_FN to
  xxhash64 for ~4x cheaper signatures at scale); candidate generation
  shuffles (band_hash) keys, so bands with identical signatures
  co-locate — no pairwise cross join ever materializes.
* n-gram Jaccard   — exact pair scoring, but ONLY on LSH candidates
  (or any blocking column), never all-pairs.
* embedding dedup  — cosine threshold over LSH-bucketed candidates.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


# ------------------------------------------------------------------ #
# exact                                                               #
# ------------------------------------------------------------------ #

def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """-> (content_hash, dup_count, keep_id): groups of byte-identical
    texts; keep_id = smallest id (the canonical survivor)."""
    return (
        df.select(
            F.sha2(F.col(text_col), 256).alias("content_hash"),
            F.col(id_col).alias("id"),
        )
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("id").alias("keep_id"),
        )
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per identical text (smallest id wins)."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(
        F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ------------------------------------------------------------------ #
# shingles + MinHash + LSH                                            #
# ------------------------------------------------------------------ #

def word_shingles(text_col, k: int = 3):
    """Distinct k-word shingles as array<string> (JVM expression).

    Built by zipping k shifted views of the token array instead of
    transform(sequence, i -> slice(toks, ...)): higher-order lambdas
    are interpreted and re-evaluate captured subtrees per element, so
    the slice form re-tokenized the document once PER SHINGLE —
    O(words**2): measured 9.7s -> 1.2s per 20k docs (125 words avg,
    local[8]), output bit-identical.
    Semantics preserved exactly: documents with fewer than k words
    emit ONE truncated shingle (zip_with pads the short shifted views
    with nulls; the when() keeps the left side, which is the
    truncated join the slice form produced)."""
    # strip ALL edge whitespace (F.trim is space-only; leading tabs/
    # newlines would otherwise inject empty tokens into shingles)
    toks = F.split(
        F.regexp_replace(F.lower(text_col), r"^\s+|\s+$", ""), r"\s+"
    )
    m = F.greatest(F.size(toks) - k, F.lit(0)) + 1  # shingle count
    shingles = F.slice(toks, 1, m)
    for j in range(1, k):
        shingles = F.zip_with(
            shingles,
            F.slice(toks, j + 1, m),
            lambda a, b: F.when(b.isNull(), a).otherwise(
                F.concat(a, F.lit(" "), b)
            ),
        )
    return F.array_distinct(shingles)


_MERSENNE31 = (1 << 31) - 1


def _affine_params(num_hashes: int) -> list:
    """Fixed-seed (a, b) pairs for the universal-hash family
    h_i(x) = (a_i*x + b_i) mod (2^31 - 1). The seed is part of the
    signature contract: signatures are only comparable when built
    with the same params (the DuckDB oracle inlines the same list)."""
    import random as _random

    rnd = _random.Random(0x135D)
    return [
        (rnd.randrange(1, _MERSENNE31), rnd.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def shingle_base_hashes(shingles_col):
    """array<long>: per-shingle base hash = first 13 md5 hex chars
    (52 bits — exactly mirrorable in DuckDB with shift-add integer
    arithmetic) reduced mod 2^31-1. ONE digest per shingle; the
    num_hashes family is derived arithmetically from this base."""
    return F.transform(
        shingles_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 13), 16, 10)
        .cast("long")
        % _MERSENNE31,
    )


def minhash_signature(shingles_col, num_hashes: int = 32):
    """array<long>: sig[i] = min over shingles of
    (a_i*base(shingle) + b_i) mod (2^31-1) — the textbook
    universal-hash MinHash construction (Broder 1997).

    Cost shape: ONE md5 per shingle plus num_hashes multiply-add-mods,
    all inside a single F.aggregate pass whose zip_with lambdas touch
    only bound variables (the base-hash array is the aggregate input,
    evaluated once per row — num_hashes separate transforms would
    re-evaluate the md5 pass per hash function). Replaces the
    md5-per-(i, shingle) form: measured 14.4s -> 3.0s per 20k docs at
    16 hashes (local[8]), and cost is now nearly flat in num_hashes
    (32 hashes: 3.1s vs ~29s). a*h+b < 2^62 so the arithmetic is
    ANSI-overflow-safe."""
    params = _affine_params(num_hashes)
    # foldable literal: constant-folded once, not rebuilt per shingle
    params_arr = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in params
        ]
    )
    init = F.array_repeat(
        F.lit(_MERSENNE31).cast("long"), num_hashes
    )
    return F.aggregate(
        shingle_base_hashes(shingles_col),
        init,
        lambda acc, h: F.zip_with(
            acc,
            params_arr,
            lambda m, p: F.least(
                m, (p["a"] * h + p["b"]) % F.lit(_MERSENNE31)
            ),
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """-> (id_a, id_b) candidate near-dup pairs (id_a < id_b).

    rows -> signatures -> band hashes -> groupBy(band, band_hash) ->
    pairs within small buckets. The only shuffle is on band hash; a
    pair appears once even if it collides in several bands.
    """
    rows_per_band = num_hashes // bands
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(
            word_shingles(F.col(text_col), k=shingle_k), num_hashes
        ).alias("sig"),
    )
    bands_df = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.sha2(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(
                                    F.col("sig"), b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda x: x.cast("string"),
                            ),
                        ),
                        256,
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    left = bands_df.alias("l")
    right = bands_df.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
        )
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs.

    -> (id_a, id_b, jaccard). ``pairs`` defaults to MinHash-LSH
    candidates; passing all-pairs explicitly is the small-data oracle
    path only.
    """
    if pairs is None:
        pairs = minhash_lsh_candidates(
            df, text_col, id_col, shingle_k=shingle_k
        )
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), k=shingle_k).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = joined.select(
        "id_a", "id_b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        .alias("jaccard"),
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


# ------------------------------------------------------------------ #
# SimHash                                                             #
# ------------------------------------------------------------------ #

def _hash_bit_rows(h: np.ndarray) -> np.ndarray:
    """(64, n) int32 matrix whose row j holds bit j of each uint64
    hash. The byte view goes through an explicit little-endian dtype:
    a native view on a big-endian host would put bit 56 where bit 0
    belongs and silently change every signature."""
    le = h.astype("<u8", copy=False).view(np.uint8).reshape(len(h), 8)
    return np.unpackbits(
        np.ascontiguousarray(le.T), axis=0, bitorder="little"
    ).astype(np.int32)


def make_simhash64_udf(token_hash: str = "blake2b"):
    """64-bit SimHash pandas UDF over whitespace tokens.

    Charikar's scheme: per token a 64-bit hash votes +-1 per bit;
    the signature's bit i is 1 iff the summed vote is positive. Near-
    identical texts differ in a few bits (compare via Hamming
    distance).

    token_hash selects the per-token 64-bit hash:
    * 'blake2b' — blake2b(tok, 8 bytes) big-endian (prod default).
    * 'md5'     — first 8 md5 bytes LITTLE-endian, which is exactly
      DuckDB's md5_number_upper(tok), so an SQL oracle can reproduce
      signatures bit-for-bit.
    """
    import hashlib as _h

    if token_hash == "blake2b":
        def tok_hash(tok: str) -> int:
            return int.from_bytes(
                _h.blake2b(tok.encode(), digest_size=8).digest(), "big"
            )
    elif token_hash == "md5":
        def tok_hash(tok: str) -> int:
            return int.from_bytes(_h.md5(tok.encode()).digest()[:8], "little")
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")

    @pandas_udf(LongType())
    def simhash64(texts: pd.Series) -> pd.Series:
        # Batch-vectorized (r5; bit-identical to the original
        # per-token loop, pinned by test_simhash_udf_vectorized_parity
        # and the simhash_dups oracle): Python touches each UNIQUE
        # token of the Arrow batch once for hashing — Zipfian corpora
        # repeat tokens heavily, so this alone removes most hash
        # calls — and everything else is three numpy ops: one
        # (n_tokens x 64) bit-unpack, one reduceat over per-doc
        # segments for the votes, one packed comparison for the
        # signature bits.
        tok_lists = [
            str(t).lower().split() if t else [] for t in texts
        ]
        counts = np.array([len(ts) for ts in tok_lists], dtype=np.int64)
        flat = [tok for ts in tok_lists for tok in ts]
        if not flat:
            return pd.Series(np.zeros(len(texts), dtype=np.int64))
        uniq, inv = np.unique(
            np.asarray(flat, dtype=object), return_inverse=True
        )
        uh = np.fromiter(
            (tok_hash(t) for t in uniq), dtype=np.uint64, count=len(uniq)
        )
        h = uh[inv]
        # bit matrix via np.unpackbits in TRANSPOSED (bit-major)
        # orientation (r9): the old (tokens x 64) uint64 broadcast
        # shift allocated ~640 MB of temporaries per million tokens
        # and the axis-0 reduceat iterated each vote segment with a
        # 256-byte stride — min-of-5 on this host: 1.69 s vs 0.25 s
        # for the bit-major axis-1 reduceat, and unpackbits replaces
        # the shift entirely (0.04 s). Votes are integer sums either
        # way — signatures are bit-identical (parity test + the
        # simhash_dups oracle pin it).
        bits_t = _hash_bit_rows(h)
        offsets = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        # reduceat only over NON-EMPTY docs' offsets, scattered back:
        # those offsets are strictly increasing and < len(flat), so no
        # clipping is needed. (Clipping a trailing empty doc's offset
        # to len(flat)-1 would silently truncate the PRECEDING doc's
        # vote segment, dropping its last token.)
        valid = np.flatnonzero(counts > 0)
        bitsum = np.zeros((64, len(texts)), dtype=np.int32)
        bitsum[:, valid] = np.add.reduceat(
            bits_t, offsets[valid], axis=1
        )
        # votes = (+1 per set bit) + (-1 per clear bit) = 2*ones - n
        votes = 2 * bitsum - counts[None, :].astype(np.int32)
        shifts = np.arange(64, dtype=np.uint64)
        sig = (
            ((votes > 0).astype(np.uint64) * (np.uint64(1) << shifts)[:, None])
            .sum(axis=0, dtype=np.uint64)
            .view(np.int64)
        )
        return pd.Series(sig)

    return simhash64


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_tables: int = 4,
    token_hash: str = "blake2b",
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """-> (id_a, id_b, hamming): pairs within ``max_hamming`` bits.

    Blocking: split the 64-bit signature into ``n_tables`` 16-bit
    chunks; by pigeonhole any pair within max_hamming <= n_tables - 1
    shares at least one exact chunk, so a chunk-equality join finds
    all of them without an all-pairs scan. (For max_hamming above
    n_tables - 1 the blocking is a deterministic recall filter — the
    SQL oracle mirrors it exactly.)

    ``max_bucket`` guards the one quadratic failure mode: a DEGENERATE
    chunk bucket (classically sig=0 from millions of empty/near-empty
    docs) turns the chunk-equality self-join into an all-pairs blow-up
    inside that bucket. With a cap, (tbl, chunk) buckets larger than
    ``max_bucket`` rows are excluded from the approximate join and
    their members are instead paired by EXACT signature equality as a
    linear star (every doc to its group's min id, hamming 0) — the
    same connected components for clustering at O(bucket) instead of
    O(bucket^2) pairs. Near-but-not-identical pairs hiding ONLY in an
    oversized bucket are a documented recall loss (they are exactly
    the pairs whose enumeration is the blow-up). The bucket-size
    count reuses the chunked pass; the oversize list is tiny
    (<= n_tables * 2^16 rows) and broadcast. Default None keeps the
    exact oracle-mirrored semantics.
    """
    sigs = df.select(
        F.col(id_col).alias("id"),
        make_simhash64_udf(token_hash)(F.col(text_col)).alias("sig"),
    )
    width = 64 // n_tables
    chunked = sigs.select(
        "id", "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    for i in range(n_tables)
                ]
            )
        ).alias("tbl", "chunk"),
    )
    star = None
    if max_bucket is not None:
        over = (
            chunked.groupBy("tbl", "chunk")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("tbl", "chunk")
        )
        overflow = (
            chunked.join(F.broadcast(over), ["tbl", "chunk"], "left_semi")
            .select("id", "sig")
            .distinct()
        )
        rep = overflow.withColumn(
            "rep", F.min("id").over(Window.partitionBy("sig"))
        )
        star = rep.filter(F.col("id") != F.col("rep")).select(
            F.col("rep").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
        chunked = chunked.join(
            F.broadcast(over), ["tbl", "chunk"], "left_anti"
        )
    l, r = chunked.alias("l"), chunked.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    )
    out = (
        cand.select(
            "id_a", "id_b", hamming.cast("int").alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if star is not None:
        out = out.unionByName(star).distinct()
    return out


# ------------------------------------------------------------------ #
# near-dup clusters (connected components) + canonical survivors      #
# ------------------------------------------------------------------ #

def dup_clusters(
    pairs: DataFrame,
    ids: Optional[DataFrame] = None,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs -> (id, cluster_id),
    cluster_id = smallest id in the component.

    Min-label propagation WITH pointer jumping: each round every node
    takes the min of its own and its neighbors' labels, then
    shortcuts to its label's label (labels are always ids of
    connected nodes, so the lookup hits every row). Plain propagation
    converges in O(component diameter) rounds — a silent correctness
    hazard for long near-dup chains (templated/boilerplate corpora
    produce v1~=v2~=...~=v40 chains); the jump step compresses label
    paths so convergence is O(log diameter). Each round is a couple
    of shuffle joins — no driver-side graph ever materializes, which
    is what makes this shape survive 100 TB.

    The loop runs UNTIL a full round changes nothing; ``max_iter`` is
    a safety cap, and hitting it RAISES rather than returning
    silently-unconverged (wrong) cluster ids. At the fixpoint every
    node's label <= all neighbors' labels, which forces labels to be
    constant per component and equal to the component minimum.
    ``ids`` (optional, one ``id_col`` column) adds isolated docs as
    singleton clusters so the output covers the whole corpus.
    """
    edges = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # Iteration discipline: every round ends in localCheckpoint() —
    # the jump self-join references prop on BOTH sides, so without
    # lineage truncation the logical plan QUADRUPLES per round
    # (labels_k contains labels_{k-1} four times) and the driver OOMs
    # on plan bookkeeping long before data is a problem. prop is
    # additionally pinned for the one round it is alive so the
    # propagation join + neighbor-min agg execute once, not twice.
    # (At cluster scale prefer reliable checkpoint() with a
    # checkpoint dir — localCheckpoint blocks die with an executor.)
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            sym.join(
                labels.select(
                    F.col("id").alias("b"), F.col("lbl").alias("nlbl")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlbl").alias("min_neigh"))
            .withColumnRenamed("a", "id")
        )
        prop = (
            labels.withColumnRenamed("lbl", "old")
            .join(neigh, "id", "left")
            .select(
                "id",
                "old",
                F.least(
                    F.col("old"), F.coalesce("min_neigh", "old")
                ).alias("lbl"),
            )
            .persist()
        )
        # pointer jump: lbl <- min(lbl, lbl[lbl]) — halves every
        # label-chain's depth, turning O(diameter) into O(log)
        lut = prop.select(
            F.col("id").alias("lbl"), F.col("lbl").alias("jump")
        )
        jumped = (
            prop.join(lut, "lbl", "left")
            .select(
                "id",
                "old",
                F.least(
                    F.col("lbl"), F.coalesce("jump", "lbl")
                ).alias("new_lbl"),
            )
            .localCheckpoint()  # materializes; truncates lineage
        )
        prop.unpersist()
        changed = jumped.filter(
            F.col("new_lbl") != F.col("old")
        ).count()
        labels = jumped.select("id", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dup_clusters failed to converge within max_iter={max_iter} "
            "rounds — with pointer jumping this needs a component of "
            f"diameter ~2^{max_iter}; something is wrong with the input"
        )
    out = labels.select("id", F.col("lbl").alias("cluster_id"))
    if ids is not None:
        singletons = ids.select(F.col(id_col).alias("id")).join(
            out.select("id"), "id", "left_anti"
        ).withColumn("cluster_id", F.col("id"))
        out = out.unionByName(singletons)
    return out


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop all but the canonical (smallest-id) doc of each near-dup
    cluster: the purge step of a training-data dedup pipeline."""
    keep = clusters.filter(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ------------------------------------------------------------------ #
# embedding cosine near-dup                                           #
# ------------------------------------------------------------------ #

def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = True,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """-> (id_a, id_b, cosine) pairs with cosine >= threshold.

    use_lsh=True blocks by random-hyperplane bucket (the scale path);
    False scores all pairs (oracle path for small data).

    Shuffle discipline (the 100 TB story): candidate generation is
    ID-ONLY — per-table signatures come out of ONE pass over the
    vectors (posexplode of the n_tables signature longs), the bucket
    self-join and the cross-table dedup shuffle bare (id, id) pairs,
    and the full vectors are joined back exactly once for the final
    cosine. Shipping vec_a/vec_b through every per-table join (and
    again through dropDuplicates) would make 1k-dim vectors the
    dominant shuffle cost at scale.
    """
    from bm25_chroma_spark.operators.knn import (
        _dot,
        _norm,
        _signature,
        hyperplanes,
    )

    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if use_lsh:
        dim = len(e.select("vec").first()["vec"])
        sig_cols = [
            _signature(
                F.col("vec"), hyperplanes(dim, n_planes, seed=seed + 1000 * t)
            )
            for t in range(n_tables)
        ]
        sigged = e.select(
            "id", F.posexplode(F.array(*sig_cols)).alias("tbl", "sig")
        )
        l, r = sigged.alias("l"), sigged.alias("r")
        pairs = (
            l.join(
                r,
                (F.col("l.tbl") == F.col("r.tbl"))
                & (F.col("l.sig") == F.col("r.sig"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(
                F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
            )
            .distinct()
        )
        cand = pairs.join(
            e.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")),
            "id_a",
        ).join(
            e.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")),
            "id_b",
        )
    else:
        l = e.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
        r = e.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
        cand = l.join(r, F.col("id_a") < F.col("id_b"))
    # ANSI-safe zero-norm guard: a pair with an all-zero vector gets
    # NULL cosine (undefined similarity) and drops out of the >=
    # filter, instead of killing the job with DIVIDE_BY_ZERO. NULL,
    # not knn's NaN: Spark orders NaN GREATER than every double, so a
    # NaN cosine would wrongly PASS the threshold filter.
    denom = _norm(F.col("vec_a")) * _norm(F.col("vec_b"))
    cos = F.when(
        denom != F.lit(0.0),
        _dot(F.col("vec_a"), F.col("vec_b")) / denom,
    )
    return cand.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )

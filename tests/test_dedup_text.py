"""Dedup family + text-analysis functions."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bm25_chroma_spark.functions.text_analysis import (
    fingerprint_hex,
    lang_id,
    punct_ratio,
    quality_score,
    token_count_bpe_ish,
    token_count_ws,
)
from bm25_chroma_spark.operators.dedup import (
    dedup_exact,
    embedding_near_dups,
    exact_dup_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
    word_shingles,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),   # near dup
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy cat"),   # near dup
        (6, "spark engines process completely different text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, corpus):
    groups = exact_dup_groups(corpus).collect()
    dups = [g for g in groups if g["dup_count"] > 1]
    assert len(dups) == 1 and dups[0]["keep_id"] == 1
    kept = dedup_exact(corpus).select("doc_id").collect()
    ids = {r["doc_id"] for r in kept}
    assert 1 in ids and 2 not in ids and len(ids) == 5


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    got = df.select(word_shingles(F.col("text"), 2).alias("s")).collect()
    assert set(got[0]["s"]) == {"a b", "b c", "c d"}


def test_minhash_lsh_finds_near_dups(spark, corpus):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            corpus, num_hashes=32, bands=16, shingle_k=2
        ).collect()
    }
    assert (1, 2) in pairs  # exact dups always collide
    assert (1, 3) in pairs or (1, 5) in pairs  # near dups likely
    assert (1, 4) not in pairs  # unrelated docs don't


def test_minhash_signature_matches_python(spark):
    """Pin the universal-hash MinHash construction value-for-value:
    base = first 13 md5 hex chars of the shingle mod 2^31-1,
    sig[i] = min over shingles of (a_i*base + b_i) mod 2^31-1."""
    import hashlib

    from bm25_chroma_spark.operators.dedup import (
        _MERSENNE31,
        _affine_params,
        minhash_signature,
        word_shingles,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "a b",          # fewer words than k -> one truncated shingle
        "solo",
        "",             # blank -> the single "" shingle
        "dup dup dup dup",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id",
            minhash_signature(
                word_shingles(F.col("text"), k=3), 8
            ).alias("s"),
        ).collect()
    }
    params = _affine_params(8)
    for doc_id, text in enumerate(texts):
        toks = text.strip().lower().split() or [""]
        shingles = {
            " ".join(toks[i:i + 3])
            for i in range(max(len(toks) - 3, 0) + 1)
        }
        bases = [
            int(hashlib.md5(s.encode()).hexdigest()[:13], 16)
            % _MERSENNE31
            for s in shingles
        ]
        exp = [
            min((a * h + b) % _MERSENNE31 for h in bases)
            for a, b in params
        ]
        assert got[doc_id] == exp, (doc_id, text)


def test_ngram_jaccard_exact_values(spark, corpus):
    all_pairs = spark.createDataFrame(
        [(1, 2), (1, 4)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            corpus, pairs=all_pairs, shingle_k=2
        ).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 4)] == 0.0


def test_simhash_near_dups(spark, corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(corpus, max_hamming=16).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text -> identical sig
    assert (1, 3) in pairs  # one-word edit -> few bits
    assert (1, 4) not in pairs or pairs[(1, 4)] > 12


def test_embedding_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            emb, threshold=0.95, use_lsh=False
        ).collect()
    }
    assert exact == {(1, 2)}
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(
            emb, threshold=0.95, use_lsh=True, n_planes=4, n_tables=6
        ).collect()
    }
    assert (1, 2) in lsh


def test_lang_id(spark):
    rows = [
        (1, "the cat is on the mat and it is happy"),
        (2, "der Hund ist nicht mit der Katze"),
        (3, "le chat est sur la table et il est content"),
        (4, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["lang"]
        for r in df.select("id", lang_id(F.col("text")).alias("lang")).collect()
    }
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr"
    assert got[4] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "don't stop—now 42")],
        "id long, text string",
    )
    got = {
        r["id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "id",
            token_count_ws(F.col("text")).alias("ws"),
            token_count_bpe_ish(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert got[1] == (2, 2)
    assert got[2][0] == 0
    # don ' t stop — now 42 -> 7 BPE-ish pieces
    assert got[3] == (3, 7)


def test_quality_and_punct(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is a fine day for all of us"),
            (2, "!!! ??? ### $$$ %%%"),
        ],
        "id long, text string",
    )
    rows = {
        r["id"]: (r["q"], r["p"])
        for r in df.select(
            "id",
            quality_score(F.col("text")).alias("q"),
            punct_ratio(F.col("text")).alias("p"),
        ).collect()
    }
    assert rows[1][0] > rows[2][0]
    assert rows[2][1] == 1.0
    assert 0.0 <= rows[1][0] <= 1.0


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta beta"),
         (3, "alpha beta delta")],
        "id long, text string",
    )
    got = {
        r["id"]: r["fp"]
        for r in df.select(
            "id", fingerprint_hex(F.col("text")).alias("fp")
        ).collect()
    }
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_dup_clusters_connected_components(spark):
    """Min-label propagation finds exact components: a 4-chain, a
    pair, and singletons; cluster_id = min id of the component."""
    from bm25_chroma_spark.operators.dedup import dup_clusters, keep_canonical

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in dup_clusters(pairs, ids=ids).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20,
        99: 99,
    }

    docs = ids.withColumn("text", F.concat(F.lit("t"), F.col("doc_id")))
    kept = {
        r["doc_id"]
        for r in keep_canonical(
            docs, dup_clusters(pairs, ids=ids)
        ).collect()
    }
    assert kept == {1, 10, 20, 99}


def test_pack_sequences_budget_property(spark, corpus):
    """Every pack bin stays under max_tokens + its last doc's size
    (the greedy-cut bound), bins are contiguous per group, and token
    accounting matches token_count_ws."""
    from bm25_chroma_spark.functions.text_analysis import pack_sequences

    MAX = 128
    packed = pack_sequences(corpus, max_tokens=MAX, n_groups=4).collect()
    assert len(packed) == corpus.count()
    by_bin = {}
    for r in packed:
        by_bin.setdefault((r["pack_group"], r["pack_bin"]), []).append(r)
    for rows in by_bin.values():
        total = sum(r["n_tokens"] for r in rows)
        biggest = max(r["n_tokens"] for r in rows)
        assert total < MAX + biggest
    # bins contiguous & monotone within each group's doc_id order
    for g in {r["pack_group"] for r in packed}:
        seq = sorted(
            (r["doc_id"], r["pack_bin"])
            for r in packed
            if r["pack_group"] == g
        )
        bins = [b for _, b in seq]
        assert bins == sorted(bins)
        assert bins[0] == 0


def test_dup_clusters_long_chain_converges(spark):
    """A 41-node near-dup chain (diameter 40 — templated/boilerplate
    corpora really produce these): plain min-label propagation needs
    40 rounds and used to exit silently-wrong at max_iter=20; pointer
    jumping must converge it in O(log) rounds to a single cluster."""
    from bm25_chroma_spark.operators.dedup import dup_clusters

    n = 41
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_dup_clusters_raises_instead_of_silent_nonconvergence(spark):
    """max_iter is a safety cap that RAISES, never returns wrong
    labels (ADVICE r2: silent non-convergence splits true clusters)."""
    import pytest as _pytest

    from bm25_chroma_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        dup_clusters(pairs, max_iter=1).collect()


def test_pack_sequences_negative_ids_match_duckdb_oracle(spark):
    """Spark F.pmod is non-negative, DuckDB % is sign-preserving: the
    seq_packing oracle double-mods so both engines agree on pack_group
    for negative (xxhash64-style) doc ids."""
    import duckdb

    from bm25_chroma_spark.functions.text_analysis import pack_sequences
    from bm25_chroma_spark.plans.entry_queries import _ORACLES

    rows = [
        (-17, "alpha beta gamma"),
        (-3, "one two three four five"),
        (-1, "x"),
        (0, "y z"),
        (5, "a b c d e f g"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["pack_group"], r["pack_bin"])
        for r in pack_sequences(df, max_tokens=4, n_groups=8).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    # the module-level oracle is baked with PACK_MAX_TOKENS=256 and
    # PACK_GROUPS=8; groups already match, rebind max_tokens to 4
    sql = _ORACLES["seq_packing"].replace("256", "4")
    want = {
        r[0]: (r[2], r[3]) for r in con.execute(sql).fetchall()
    }
    assert got == want


def test_dup_clusters_fuzz_vs_union_find(spark):
    """Randomized graphs: min-label propagation must equal a plain
    union-find's min-id components, including long chains that need
    several propagation rounds."""
    import random

    from bm25_chroma_spark.operators.dedup import dup_clusters

    def union_find(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for x in range(n):
            comp.setdefault(find(x), []).append(x)
        return {x: min(m) for m in comp.values() for x in m}

    for trial in range(4):
        rng = random.Random(trial * 7 + 1)
        n = rng.randint(6, 30)
        edges = sorted({
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(0, 2 * n))
        })
        # always include one long chain (worst case for propagation)
        chain = list(range(0, min(n, 8)))
        edges = sorted(set(edges) | {
            (chain[i], chain[i + 1]) for i in range(len(chain) - 1)
        })
        want = union_find(n, edges)
        pairs = spark.createDataFrame(
            edges or [(0, 0)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = {
            r["id"]: r["cluster_id"]
            for r in dup_clusters(pairs, ids=ids).collect()
        }
        assert got == want, (trial, n, edges)


def test_simhash_degenerate_bucket_cap(spark):
    """Thousands of empty docs all hash to sig=0: without a cap the
    chunk-equality self-join enumerates a quadratic bucket (~12.5M
    pairs at 5k docs). With max_bucket set, oversized buckets route to
    linear exact-signature star pairs (same connected components),
    while normal near-dup detection keeps working outside them."""
    from bm25_chroma_spark.operators.dedup import (
        dup_clusters,
        simhash_near_dups,
    )

    n_empty = 5000
    rows = [(i, "") for i in range(n_empty)] + [
        (10001, "spark shuffle join broadcast window"),
        (10002, "spark shuffle join broadcast window"),  # exact dup
        (10003, "completely different gardening words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = simhash_near_dups(df, max_bucket=100).collect()

    star = [(r["id_a"], r["id_b"]) for r in res if r["id_b"] < n_empty]
    other = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in res
        if r["id_b"] >= n_empty
    ]
    # LINEAR star over the degenerate sig-0 group, anchored at min id
    assert len(star) == n_empty - 1
    assert all(a == 0 for a, _ in star)
    # the ordinary near-dup pair outside the bucket is still found
    assert (10001, 10002, 0) in other
    assert all(b != 10003 for _, b, _ in other)

    # clustering on the capped pairs: one component for the empties
    pairs = simhash_near_dups(df, max_bucket=100)
    clusters = {
        r["id"]: r["cluster_id"]
        for r in dup_clusters(
            pairs.select("id_a", "id_b"), ids=df.select("doc_id")
        ).collect()
    }
    assert len({clusters[i] for i in range(n_empty)}) == 1
    assert clusters[10001] == clusters[10002] != clusters[10003]


def test_simhash_cap_lossless_for_identical_mass(spark):
    """Property: when every oversized bucket is made of IDENTICAL
    texts (the real-world degenerate case — empty docs, boilerplate),
    the capped run clusters exactly like the uncapped run: star pairs
    preserve the connected components. Randomized corpora mixing a
    heavy identical mass with distinct docs."""
    import random

    from bm25_chroma_spark.operators.dedup import (
        dup_clusters,
        simhash_near_dups,
    )

    rng = random.Random(13)
    vocab = ["alpha", "beta", "gamma", "delta", "spark", "join",
             "index", "shuffle", "posting", "varint"]
    for trial in range(3):
        rows = [(i, "") for i in range(150)]  # identical mass, sig=0
        boiler = " ".join(rng.choices(vocab, k=8))
        rows += [(200 + i, boiler) for i in range(40)]  # second mass
        rows += [
            (400 + i, " ".join(rng.choices(vocab, k=12)))
            for i in range(20)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        ids = df.select("doc_id")

        def comps(pairs):
            return {
                r["id"]: r["cluster_id"]
                for r in dup_clusters(
                    pairs.select("id_a", "id_b"), ids=ids
                ).collect()
            }

        capped = comps(simhash_near_dups(df, max_bucket=30))
        uncapped = comps(simhash_near_dups(df))
        assert capped == uncapped, trial


def test_simhash_udf_vectorized_parity(spark):
    """The batch-vectorized simhash64 UDF must be bit-identical to a
    naive per-token reference for both hash variants, including
    empty/None/whitespace-only/duplicate-token/unicode rows and docs
    straddling Arrow batch boundaries."""
    import hashlib

    import numpy as np

    from bm25_chroma_spark.operators.dedup import make_simhash64_udf

    rng = np.random.RandomState(3)
    vocab = [f"tok{i}" for i in range(50)] + ["naïve", "ünïcode"]
    texts = [
        " ".join(rng.choice(vocab, size=rng.randint(0, 30)))
        for _ in range(300)
    ]
    texts += ["", None, "   ", "dup dup dup dup", "Tok1 TOK1 tok1"]

    def naive(text, tok_hash):
        if not text:
            return 0
        votes = [0] * 64
        for tok in str(text).lower().split():
            h = tok_hash(tok)
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if votes[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    hashes = {
        "blake2b": lambda t: int.from_bytes(
            hashlib.blake2b(t.encode(), digest_size=8).digest(), "big"
        ),
        "md5": lambda t: int.from_bytes(
            hashlib.md5(t.encode()).digest()[:8], "little"
        ),
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    ).repartition(4)
    for variant, th in hashes.items():
        got = {
            r["i"]: r["sig"]
            for r in df.select(
                "i", make_simhash64_udf(variant)(F.col("text")).alias("sig")
            ).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == naive(t, th), (variant, i, t)


def test_simhash_udf_trailing_empty_docs_single_partition(spark):
    """A non-empty doc whose Arrow batch ENDS with empty/None rows
    must keep its full vote segment — the r5 vectorization clipped
    the trailing offsets to len(flat)-1, silently dropping the
    preceding doc's LAST token (repro: ['a b c d e', '', None]).
    repartition(1) pins all three rows into one Arrow batch."""
    import hashlib

    from bm25_chroma_spark.operators.dedup import make_simhash64_udf

    def naive_blake2b(text):
        if not text:
            return 0
        votes = [0] * 64
        for tok in str(text).lower().split():
            h = int.from_bytes(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(),
                "big",
            )
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if votes[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    texts = ["w x y z", "", None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    ).repartition(1)
    got = {
        r["i"]: r["sig"]
        for r in df.select(
            "i",
            make_simhash64_udf("blake2b")(F.col("text")).alias("sig"),
        ).collect()
    }
    assert got[0] == naive_blake2b("w x y z")
    assert got[1] == 0 and got[2] == 0


def test_stopword_sets_disjoint():
    """The lang_id vote is discriminative only if no word appears in
    two languages' lists — shared Romance/Germanic function words
    (de, que, como, ser, den, ...) must stay out of ALL lists."""
    from bm25_chroma_spark.functions.text_analysis import STOPWORDS

    seen = {}
    for lang, words in STOPWORDS.items():
        assert len(set(words)) == len(words), f"dups inside {lang}"
        for w in words:
            assert w == w.lower()
            assert w not in seen, (
                f"'{w}' in both {seen.get(w)} and {lang}"
            )
            seen[w] = lang


def test_lang_id_labeled_sample(spark):
    """Precision contract from lang_id's docstring: 100% on this
    labeled sample of natural sentences (one per covered language,
    plus an unscorable one). lang_hint is the same expression."""
    from bm25_chroma_spark.functions.text_analysis import lang_hint

    labeled = [
        ("en", "this is the story of a cat that was happy with you"),
        ("de", "der hund ist mit einem ball auf dem rasen und er "
               "wird schnell laufen"),
        ("fr", "le chat est dans la maison avec nous et il est "
               "content ce soir"),
        ("es", "el perro es muy grande pero también hay gatos "
               "cuando llueve"),
        ("pt", "você não sabe que isso já foi muito bom e ele "
               "também vai"),
        ("it", "il cane è molto grande e non sono sicuro che questo "
               "vale anche per gli altri"),
        ("nl", "het huis is niet groot maar deze tuin wordt ook "
               "mooi bij nacht"),
        ("sv", "det är inte ett stort hus men det har också en fin "
               "trädgård på landet"),
        ("und", "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(labeled)],
        "id long, text string",
    )
    got = {
        r["id"]: r["lang"]
        for r in df.select(
            "id", lang_hint(F.col("text")).alias("lang")
        ).collect()
    }
    for i, (want, _) in enumerate(labeled):
        assert got[i] == want, (i, want, got[i])


def test_packing_groups_scale_rule(spark):
    """n_groups scale rule (VERDICT r6 #3): <= ~10M rows per window
    stream, floored at 64; n_groups=None derives it (one count job)
    and matches the explicit value at small scale; explicit n_groups
    output is stable across calls."""
    from bm25_chroma_spark.functions.text_analysis import (
        pack_sequences,
        packing_groups_for,
    )

    assert packing_groups_for(0) == 64
    assert packing_groups_for(640_000_000) == 64
    assert packing_groups_for(640_000_001) == 65
    assert packing_groups_for(10**12) == 100_000
    assert packing_groups_for(1000, rows_per_group=100) == 64

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 7 + 1)) for i in range(50)],
        "doc_id long, text string",
    )
    explicit = sorted(
        map(tuple, pack_sequences(docs, max_tokens=8).collect())
    )
    auto = sorted(
        map(tuple, pack_sequences(docs, max_tokens=8,
                                  n_groups=None).collect())
    )
    again = sorted(
        map(tuple, pack_sequences(docs, max_tokens=8).collect())
    )
    assert auto == explicit == again


def test_simhash_signature_pinned_and_byte_order_explicit(spark):
    """Fixed inputs keep fixed signatures, and the hash bit matrix reads
    bit j of each hash whatever the array's byte order: a native
    uint8 view of a big-endian array (what a big-endian host holds)
    would move bit 0 to bit 56 and silently change signatures."""
    import numpy as np

    from bm25_chroma_spark.operators.dedup import (
        _hash_bit_rows,
        make_simhash64_udf,
    )

    h = np.array([1, 0x8000000000000001, 0xFF00], dtype=np.uint64)
    bits = _hash_bit_rows(h.astype(">u8"))
    assert (bits == _hash_bit_rows(h)).all()
    assert list(np.flatnonzero(bits[:, 1])) == [0, 63]
    assert list(np.flatnonzero(bits[:, 2])) == list(range(8, 16))

    texts = ["the quick brown fox jumps over the lazy dog",
             "spark shuffle join"]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    want = {
        "blake2b": [1932188759623088695, -1072279642220142255],
        "md5": [-3574015537522617329, -7765753696078964368],
    }
    for variant, sigs in want.items():
        got = [
            r["sig"]
            for r in df.orderBy("i").select(
                make_simhash64_udf(variant)(F.col("text")).alias("sig")
            ).collect()
        ]
        assert got == sigs, variant

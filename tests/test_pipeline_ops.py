"""Repetition signals, decontamination, and deterministic splits —
the Gopher-rule / GPT-3-appendix-C family of training-data pipeline
operators (public recipes; no reference-repo counterpart)."""

from __future__ import annotations

import hashlib
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bm25_chroma_spark.functions.splits import (
    hash_sample,
    hash_split,
    split_thresholds,
    stratified_sample,
    stratified_sample_df,
)
from bm25_chroma_spark.functions.text_analysis import (
    chunk_documents,
    duplicate_line_fraction,
    duplicate_ngram_count,
    duplicate_ngram_fraction,
    line_count,
    pii_counts,
    redact_pii,
    top_ngram_count,
    top_ngram_fraction,
    word_ngrams,
)
from bm25_chroma_spark.operators.decontam import (
    contaminated_docs,
    doc_ngrams_df,
    purge_contaminated,
)


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(expr.alias("v")).collect()[0]["v"]


# ----------------------------------------------------------------- #
# word_ngrams / repetition signals                                   #
# ----------------------------------------------------------------- #


def test_word_ngrams_basic(spark):
    assert _one(spark, "a b c d", word_ngrams(F.col("text"), 2)) == [
        "a b", "b c", "c d",
    ]
    assert _one(spark, "a b c d", word_ngrams(F.col("text"), 4)) == [
        "a b c d",
    ]
    # fewer words than n -> empty, NOT a descending-sequence blowup
    assert _one(spark, "a b c", word_ngrams(F.col("text"), 4)) == []
    assert _one(spark, "", word_ngrams(F.col("text"), 2)) == []
    assert _one(spark, "   ", word_ngrams(F.col("text"), 2)) == []
    # tab/newline-only docs are blank too (F.trim alone misses them)
    assert _one(spark, "\t\n", word_ngrams(F.col("text"), 2)) == []
    assert _one(spark, "\ta b", word_ngrams(F.col("text"), 2)) == [
        "a b",
    ]
    # normalization: lowercase + whitespace collapse
    assert _one(spark, "  A\t b\nC ", word_ngrams(F.col("text"), 2)) == [
        "a b", "b c",
    ]


def test_word_ngrams_rejects_bad_n():
    with pytest.raises(ValueError):
        word_ngrams(F.col("text"), 0)
    with pytest.raises(ValueError):
        top_ngram_count(F.col("text"), 1)


def test_duplicate_line_fraction(spark):
    text = "alpha line\nbeta line\nalpha line\n\n   \nalpha line"
    # 4 non-blank lines, 2 distinct -> 2/4 duplicates
    assert _one(spark, text, line_count(F.col("text"))) == 4
    assert _one(
        spark, text, duplicate_line_fraction(F.col("text"))
    ) == pytest.approx(0.5)
    assert _one(spark, "", duplicate_line_fraction(F.col("text"))) == 0.0
    assert _one(spark, "one line", line_count(F.col("text"))) == 1


def _py_ngrams(text: str, n: int) -> list[str]:
    toks = text.strip().lower().split()
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def test_repetition_signals_match_python_counter(spark):
    rng = random.Random(7)
    vocab = ["ab", "cd", "ef", "gh", "ij"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(60)
    ]
    rows += [(100, ""), (101, "   "), (102, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3):
        got = {
            r["doc_id"]: (r["top"], r["dupc"], r["topf"], r["dupf"])
            for r in df.select(
                "doc_id",
                top_ngram_count(F.col("text"), n).alias("top"),
                duplicate_ngram_count(F.col("text"), n).alias("dupc"),
                top_ngram_fraction(F.col("text"), n).alias("topf"),
                duplicate_ngram_fraction(F.col("text"), n).alias("dupf"),
            ).collect()
        }
        for doc_id, text in rows:
            grams = _py_ngrams(text, n)
            c = Counter(grams)
            top = max(c.values()) if c else 0
            dupc = len(grams) - len(c)
            topf = top / len(grams) if grams else 0.0
            dupf = dupc / len(grams) if grams else 0.0
            assert got[doc_id][0] == top, (doc_id, n)
            assert got[doc_id][1] == dupc, (doc_id, n)
            assert got[doc_id][2] == pytest.approx(topf), (doc_id, n)
            assert got[doc_id][3] == pytest.approx(dupf), (doc_id, n)


# ----------------------------------------------------------------- #
# decontamination                                                    #
# ----------------------------------------------------------------- #


@pytest.fixture(scope="module")
def decon_corpus(spark):
    bench_rows = [
        (0, "what is the capital city of france paris obviously"),
        (1, "two plus two equals four in every standard arithmetic"),
    ]
    train_rows = [
        # contains benchmark 0's 5-gram span verbatim
        (10, "intro text what is the capital city of france outro"),
        # contains benchmark 1's span TWICE (distinct-gram counting)
        (11, "two plus two equals four padding two plus two equals four"),
        (12, "completely unrelated document about spark physical plans"),
        (13, ""),
    ]
    return (
        spark.createDataFrame(bench_rows, "doc_id long, text string"),
        spark.createDataFrame(train_rows, "doc_id long, text string"),
    )


def test_contaminated_docs_finds_spans(spark, decon_corpus):
    bench, train = decon_corpus
    out = {
        r["doc_id"]: r["n_hit_grams"]
        for r in contaminated_docs(train, bench, n=5).collect()
    }
    # doc 10 shares 3 distinct 5-grams with bench 0 ("what is the
    # capital city" / "is the capital city of" / "the capital city of
    # france"); doc 11 shares bench 1's leading 5-gram "two plus two
    # equals four" only once DISTINCT even though it occurs twice.
    assert set(out) == {10, 11}
    assert out[10] == 3
    assert out[11] == 1
    # clean docs untouched, contaminated purged
    purged = purge_contaminated(
        train, contaminated_docs(train, bench, n=5)
    )
    assert sorted(r["doc_id"] for r in purged.collect()) == [12, 13]


def test_contaminated_docs_hash_vs_string_parity(spark, decon_corpus):
    bench, train = decon_corpus
    a = sorted(
        tuple(r)
        for r in contaminated_docs(train, bench, n=5, hash_grams=True)
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in contaminated_docs(train, bench, n=5, hash_grams=False)
        .collect()
    )
    assert a == b


def test_contaminated_docs_broadcasts_benchmark(spark, decon_corpus):
    bench, train = decon_corpus
    plan = (
        contaminated_docs(train, bench, n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_doc_ngrams_df_narrow(spark, decon_corpus):
    _, train = decon_corpus
    df = doc_ngrams_df(train, 5)
    assert df.columns == ["doc_id", "gram"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow map, no shuffle


# ----------------------------------------------------------------- #
# deterministic splits / sampling                                    #
# ----------------------------------------------------------------- #


def _py_split(doc_id: int, weights: dict, salt: str) -> str:
    h = hashlib.md5(f"{doc_id}{salt}".encode()).hexdigest()
    for name, bound in split_thresholds(weights)[:-1]:
        if h < bound:
            return name
    return list(weights)[-1]


def test_hash_split_matches_python_md5(spark):
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["split"]
        for r in hash_split(df, weights, salt="s1").collect()
    }
    for i in range(500):
        assert got[i] == _py_split(i, weights, "s1"), i


def test_hash_split_proportions_and_determinism(spark):
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, weights, salt="z").groupBy("split").count()
    counts = {r["split"]: r["count"] for r in out.collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] == pytest.approx(3200, rel=0.05)
    assert counts["val"] == pytest.approx(400, rel=0.25)
    # same salt -> identical assignment; different salt -> different
    a = hash_split(df, weights, salt="z").collect()
    b = hash_split(df, weights, salt="z").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    c = {
        r["doc_id"]: r["split"]
        for r in hash_split(df, weights, salt="other").collect()
    }
    a_map = {r["doc_id"]: r["split"] for r in a}
    assert any(a_map[i] != c[i] for i in range(4000))


def test_hash_split_weight_normalization(spark):
    # weights need not sum to 1 — {8, 1, 1} == {0.8, 0.1, 0.1}
    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = hash_split(df, {"a": 8.0, "b": 1.0, "c": 1.0}, salt="n").collect()
    b = hash_split(
        df, {"a": 0.8, "b": 0.1, "c": 0.1}, salt="n"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError):
        split_thresholds({})
    with pytest.raises(ValueError):
        split_thresholds({"a": 0.0})


def test_hash_sample_nested_subsets(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10 = {r["doc_id"] for r in hash_sample(df, 0.1, salt="q").collect()}
    s50 = {r["doc_id"] for r in hash_sample(df, 0.5, salt="q").collect()}
    assert s10 <= s50  # same salt -> nested (scaling-law chains)
    assert len(s10) == pytest.approx(200, rel=0.3)
    assert len(s50) == pytest.approx(1000, rel=0.1)
    assert hash_sample(df, 1.0).count() == 2000
    with pytest.raises(ValueError):
        hash_sample(df, 1.5)


# ----------------------------------------------------------------- #
# stratified source mixing                                           #
# ----------------------------------------------------------------- #


def _mix_df(spark, n=1200):
    groups = ["cc", "wiki", "books", "forums"]
    rows = [(i, groups[i % 4]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, src string")


_MIX_RATES = {"cc": 0.25, "wiki": 1.0, "books": 0.6}


def _py_keep(doc_id: int, grp: str, rates: dict, default: float,
             salt: str) -> bool:
    from bm25_chroma_spark.functions.splits import fraction_bound

    h = hashlib.md5(f"{doc_id}{salt}".encode()).hexdigest()
    return h < fraction_bound(rates.get(grp, default))


def test_stratified_sample_matches_python_md5(spark):
    df = _mix_df(spark, 600)
    kept = {
        r["doc_id"]
        for r in stratified_sample(
            df, _MIX_RATES, "src", salt="m1", default_rate=0.5
        ).collect()
    }
    for i in range(600):
        grp = ["cc", "wiki", "books", "forums"][i % 4]
        assert (i in kept) == _py_keep(i, grp, _MIX_RATES, 0.5, "m1"), i


def test_stratified_sample_rates_and_nesting(spark):
    df = _mix_df(spark)
    out = stratified_sample(df, _MIX_RATES, "src", salt="m2",
                            default_rate=0.0)
    counts = {r["src"]: r["count"]
              for r in out.groupBy("src").count().collect()}
    assert counts["wiki"] == 300          # rate 1.0 keeps everything
    assert "forums" not in counts         # default 0.0 drops the rest
    assert counts["cc"] == pytest.approx(75, rel=0.35)
    assert counts["books"] == pytest.approx(180, rel=0.25)
    # raising a rate only ADDS rows (same salt -> nested samples)
    low = {r["doc_id"] for r in stratified_sample(
        df, {"cc": 0.2}, "src", salt="m2", default_rate=0.0).collect()}
    high = {r["doc_id"] for r in stratified_sample(
        df, {"cc": 0.7}, "src", salt="m2", default_rate=0.0).collect()}
    assert low <= high
    with pytest.raises(ValueError):
        stratified_sample(df, {"cc": 1.5}, "src")


def test_stratified_sample_flag_mode_and_plan(spark):
    df = _mix_df(spark, 400)
    flagged = stratified_sample(
        df, _MIX_RATES, "src", salt="m3", keep_col="keep"
    )
    assert flagged.count() == 400  # flag-not-drop keeps every row
    kept_flag = {r["doc_id"] for r in flagged.filter("keep").collect()}
    kept_filter = {
        r["doc_id"]
        for r in stratified_sample(df, _MIX_RATES, "src",
                                   salt="m3").collect()
    }
    assert kept_flag == kept_filter
    # dict variant is a pure map-side expression: zero Exchange
    plan = (stratified_sample(df, _MIX_RATES, "src", salt="m3")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_stratified_sample_df_matches_dict_variant(spark):
    df = _mix_df(spark, 800)
    rates_df = spark.createDataFrame(
        [(g, r) for g, r in _MIX_RATES.items()], "src string, rate double"
    )
    via_df = stratified_sample_df(
        df, rates_df, "src", salt="m4", default_rate=0.3
    )
    via_dict = stratified_sample(
        df, _MIX_RATES, "src", salt="m4", default_rate=0.3
    )
    assert sorted(r["doc_id"] for r in via_df.collect()) == \
        sorted(r["doc_id"] for r in via_dict.collect())
    assert via_df.columns == df.columns  # helper cols dropped
    # rate table rides a broadcast join; the corpus side must not
    # shuffle. The r9 rate-table dedup (duplicate group rows would
    # silently fan out corpus rows, ADVICE r8) adds one exchange on
    # the CONFIG-SIZED rate side, keyed by its helper column — any
    # hash-partitioning on a corpus column stays forbidden.
    import re

    plan = via_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__ss_grp" in keys, f"corpus-side shuffle: {keys}"



def test_stratified_sample_df_conflicting_duplicate_rates_raise(spark):
    """Duplicate group rows with CONFLICTING rates fail the query
    instead of keeping an arbitrary one; agreeing duplicates collapse
    (no fan-out of corpus rows)."""
    df = _mix_df(spark, 200)
    agree = spark.createDataFrame(
        [(g, r) for g, r in _MIX_RATES.items()]
        + [(g, r) for g, r in _MIX_RATES.items()],
        "src string, rate double",
    )
    got = stratified_sample_df(df, agree, "src", salt="m5").collect()
    want = stratified_sample(df, _MIX_RATES, "src", salt="m5").collect()
    assert sorted(r["doc_id"] for r in got) == \
        sorted(r["doc_id"] for r in want)

    g0, r0 = next(iter(_MIX_RATES.items()))
    clash = spark.createDataFrame(
        [(g, r) for g, r in _MIX_RATES.items()]
        + [(g0, 1.0 if r0 < 1.0 else 0.0)],
        "src string, rate double",
    )
    with pytest.raises(Exception, match="conflicting rates"):
        stratified_sample_df(df, clash, "src", salt="m5").collect()

def _spark_words_model(text: str) -> list[str]:
    """Exact Python mirror of the engine's `_words` expression: strip
    ALL leading/trailing ASCII whitespace (the regexp_replace the
    engine applies — F.trim alone would leave tabs/newlines and
    inject empty edge tokens), lowercase, split on \\s+."""
    import re

    return re.split(r"\s+", re.sub(r"^\s+|\s+$", "", text.lower()))


def test_ngram_shingle_minhash_adversarial_fuzz(spark):
    """One-job seeded fuzz over adversarial ASCII (leading tabs,
    trailing newlines, punctuation runs, empties) pinning word_ngrams,
    word_shingles, and minhash_signature against exact Python models
    of the Spark string semantics."""
    import hashlib

    from bm25_chroma_spark.operators.dedup import (
        _MERSENNE31,
        _affine_params,
        minhash_signature,
        word_shingles,
    )

    rng = random.Random(23)
    alphabet = list("abz019 .,-!") + ["\t", "\n", "\r", "  "]
    texts = ["", " ", "\t", "a\t", "\tleading tab", "trail\n", "x"]
    texts += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 80)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            word_ngrams(F.col("text"), 2).alias("g2"),
            word_ngrams(F.col("text"), 3).alias("g3"),
            word_shingles(F.col("text"), k=3).alias("sh"),
            minhash_signature(
                word_shingles(F.col("text"), k=3), 4
            ).alias("sig"),
        ).collect()
    }
    params = _affine_params(4)
    import re as _re

    for doc_id, text in enumerate(texts):
        toks = _spark_words_model(text)
        blank = _re.fullmatch(r"\s*", text) is not None
        for n, col in ((2, "g2"), (3, "g3")):
            exp = (
                []
                if blank or len(toks) < n
                else [
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)
                ]
            )
            assert got[doc_id][col] == exp, (doc_id, repr(text), n)
        # shingles: truncated trailing shingle below k words, distinct
        m = max(len(toks) - 3, 0) + 1
        exp_sh = list(
            dict.fromkeys(" ".join(toks[i:i + 3]) for i in range(m))
        )
        assert got[doc_id]["sh"] == exp_sh, (doc_id, repr(text))
        bases = [
            int(hashlib.md5(s.encode()).hexdigest()[:13], 16)
            % _MERSENNE31
            for s in set(exp_sh)
        ]
        exp_sig = [
            min((a * h + b) % _MERSENNE31 for h in bases)
            for a, b in params
        ]
        assert got[doc_id]["sig"] == exp_sig, (doc_id, repr(text))


# ----------------------------------------------------------------- #
# chunking / PII redaction                                           #
# ----------------------------------------------------------------- #


def test_chunk_documents_matches_python(spark):
    rng = random.Random(11)
    rows = [
        (i, " ".join(f"w{rng.randint(0, 9)}" for _ in range(n)))
        for i, n in enumerate([0, 1, 4, 5, 6, 13, 40])
    ]
    rows.append((98, "\t\n"))   # whitespace-only -> zero chunks
    rows.append((99, "   "))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, max_tokens=5).collect()
    )
    exp = []
    for doc_id, text in rows:
        toks = text.strip().lower().split()
        for ci in range((len(toks) + 4) // 5):
            piece = toks[ci * 5:(ci + 1) * 5]
            exp.append((doc_id, ci, len(piece), " ".join(piece)))
    assert got == sorted(exp)
    # every chunk respects the budget; reassembly loses nothing
    assert all(t <= 5 for _, _, t, _ in got)


def test_chunk_documents_reassembles(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    chunks = chunk_documents(docs, max_tokens=7)
    rejoined = {
        r["doc_id"]: r["whole"]
        for r in chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ).getField("chunk_text"),
                " ",
            ).alias("whole")
        )
        .collect()
    }
    for r in docs.collect():
        norm = " ".join(r["text"].strip().lower().split())
        if norm:
            assert rejoined[r["doc_id"]] == norm


def test_chunk_documents_rejects_bad_budget(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=0)


def test_redact_pii(spark):
    text = (
        "mail alice.smith+x@sub.example.org or bob@ex.co, "
        "server 192.168.0.1, call +1 (555) 010-1234 now"
    )
    red = _one(spark, text, redact_pii(F.col("text")))
    assert "<EMAIL>" in red and "<IP>" in red and "<PHONE>" in red
    assert "alice" not in red and "192.168" not in red
    assert "555" not in red
    c = _one(spark, text, pii_counts(F.col("text")))
    assert (c["email"], c["ip"], c["phone"]) == (2, 1, 1)
    # the IP is NOT double-counted as a phone (redaction order)
    clean = "no pii here just words"
    assert _one(spark, clean, redact_pii(F.col("text"))) == clean
    # phone pattern requires a phone SHAPE: decimals, dates, version
    # strings, and digit runs across lines survive redaction intact
    for keep in (
        "pi is 3.141592653",
        "values 3.14159 2.71828",
        "date 2023-01-15 12:30:45",
        "v1.2.3 release on port 8080",
        "line1\n555",
        "1,234,567 rows and 12 + 34 = 46",
    ):
        assert _one(spark, keep, redact_pii(F.col("text"))) == keep, keep
    for hit in (
        "555 010 1234",
        "555-010-1234",
        "(555) 010-1234",
        "+49 170 1234567",
        "+44 20 7946 0958",
    ):
        red = _one(spark, hit, redact_pii(F.col("text")))
        assert red == "<PHONE>", (hit, red)


def test_hash_split_agrees_with_sample_boundary(spark):
    # hash_sample(f) == the first split of hash_split({a: f, b: 1-f})
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    f = 0.3
    sample_ids = {
        r["doc_id"] for r in hash_sample(df, f, salt="e").collect()
    }
    split_ids = {
        r["doc_id"]
        for r in hash_split(df, {"a": f, "b": 1 - f}, salt="e")
        .filter(F.col("split") == "a")
        .collect()
    }
    assert sample_ids == split_ids


def test_ngram_stats_null_and_edge_parity(spark):
    """r9: the n-gram counters moved to a vectorized pandas UDF —
    pin the edge semantics of the old JVM folds: NULL text -> NULL
    metrics, blank/short docs -> 0 counts and 0.0 fractions, n=1
    legal for duplicate_ngram_count, unicode lowering matches."""
    rows = [
        (0, None),
        (1, ""),
        (2, " \t\n "),
        (3, "solo"),
        (4, "a b a b a"),
        (5, "ÅÄ åä ÅÄ"),           # unicode lowercase folding
        (6, "x"),                   # fewer words than n
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["top"], r["dupc"], r["topf"], r["dupf"], r["dup1"]
        )
        for r in df.select(
            "doc_id",
            top_ngram_count(F.col("text"), 2).alias("top"),
            duplicate_ngram_count(F.col("text"), 2).alias("dupc"),
            top_ngram_fraction(F.col("text"), 2).alias("topf"),
            duplicate_ngram_fraction(F.col("text"), 2).alias("dupf"),
            duplicate_ngram_count(F.col("text"), 1).alias("dup1"),
        ).collect()
    }
    assert got[0] == (None, None, None, None, None)
    for d in (1, 2, 3, 6):
        assert got[d][:4] == (0, 0, 0.0, 0.0), d
    # "a b a b a": grams [a b, b a, a b, b a] -> top 2, dup 2
    assert got[4] == (2, 2, 0.5, 0.5, 3)
    # unicode: lowered grams ["åä åä", "åä åä"] -> top 2, dup 1
    assert got[5] == (2, 1, 1.0, 0.5, 2)
    # blank docs: n=1 dup count is 0, not null
    assert got[1][4] == 0 and got[3][4] == 0


def test_gram_stats_totals_match_jvm_word_ngrams_unicode(spark):
    """The vectorized n-gram stats re-implement _words in Python, so
    their gram totals must equal F.size(word_ngrams(...)) exactly, on
    random text mixing U+0130, sharp s, combining marks, final sigma and
    ligatures with ASCII whitespace, NBSP, and the line terminators
    Java's ``$`` honors (NEL, U+2028, U+2029, CR LF)."""
    import pandas as pd

    from bm25_chroma_spark.functions.text_analysis import _gram_stats_batch

    rng = random.Random(11)
    letters = ["a", "Z", "\u0130", "\u00df", "\u1e9e", "e\u0301",
               "i\u0307", "\u03a3", "\u03c2", "\u01c5", "\u212a",
               "\u00c5", "\ufb01", "7"]
    spaces = [" ", "  ", "\t", "\n", "\r", "\r\n", "\x0b", "\x0c",
              "\u00a0", "\u0085", "\u2028", "\u2029", "\u3000"]
    texts = ["", "\u2028", "a b \u2028", "\u2028 \u2028", " \u0085",
             "a \r\n", "\u2029\n", "x y z\u2028"]
    for _ in range(500):
        parts = [rng.choice(spaces)] if rng.random() < 0.3 else []
        for _ in range(rng.randint(0, 7)):
            parts.append(
                "".join(rng.choice(letters) for _ in range(rng.randint(1, 3)))
            )
            if rng.random() < 0.7:
                parts.append(rng.choice(spaces))
        texts.append("".join(parts))
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(texts)), "text": texts}),
        "i long, text string",
    )
    for n in (1, 2, 3):
        want = [
            r[0] for r in df.orderBy("i").select(
                F.size(word_ngrams(F.col("text"), n))
            ).collect()
        ]
        total = _gram_stats_batch(pd.Series(texts, dtype=object), n)[0]
        bad = [
            (texts[j], want[j], int(total[j]))
            for j in range(len(texts)) if want[j] != total[j]
        ]
        assert not bad, (n, bad[:5])

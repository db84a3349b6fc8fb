"""Distributed word n-gram language model for perplexity-style
quality filtering — the CCNet pipeline stage (Wenzek et al. 2019,
arXiv:1911.00359) that buckets web documents by LM score, using the
shuffle-free Stupid Backoff smoothing of Brants et al. 2007 (EMNLP,
"Large Language Models in Machine Translation") instead of a
KenLM binary this environment cannot install.

No reference-repo counterpart (/root/reference is a BM25/Chroma
engine); this is part of the beyond-reference training-data pipeline
family, built Spark-first:

- **train**: two exploded counts (unigrams, bigrams) — each is one
  partial-aggregable groupBy, the only shuffles. ``min_count`` /
  ``max_vocab`` prune the model so it stays BROADCASTABLE: at 100 TB
  a min_count in the hundreds keeps the model tens of MB while
  covering ~all probability mass (Zipf), which is what makes the
  scoring stage shuffle-light.
- **score**: explode (context, token) pairs, three broadcast joins
  against the model, one groupBy(doc) average — the corpus never
  shuffles except the final per-doc agg, which partial-aggregates
  map-side.

Scoring semantics (deterministic, engine-independent):

- tokens = lowercased whitespace words (the house ``_words`` rule);
  blank docs score NULL with n_tokens = 0.
- ``S1(w) = count(w)/N`` if w in vocab else ``alpha/N`` (OOV floor).
- first token: ``S = S1(w_1)``.
- later tokens: ``S = count(w_{i-1} w_i) / count(w_{i-1})`` when the
  bigram is in the model, else ``alpha * S1(w_i)`` (Stupid Backoff —
  scores, not probabilities; they need not sum to 1).
- doc score = ``avg(ln S)`` over its tokens, rounded to ``round_to``
  decimals if given (round-before-rank, the house cross-engine float
  contract: per-token ln agrees to ulp across engines, and rounding
  the average kills summation-order drift).

Pruning keeps the model self-consistent: a bigram is retained only
if both its words remain in the vocabulary, so "bigram present =>
context count present" holds and the backoff branch is the only
OOV path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bm25_chroma_spark.functions.text_analysis import _is_blank, _words

DEFAULT_ALPHA = 0.4  # the published Stupid Backoff constant


@dataclass(frozen=True)
class WordLM:
    """A trained bigram Stupid-Backoff model.

    ``unigrams`` = (term, count), ``bigrams`` = (w1, w2, count),
    ``n_tokens`` = total training tokens BEFORE pruning (the S1
    denominator — pruned mass still lowers kept-word scores, which
    is the honest OOV-floor arithmetic).
    """

    unigrams: DataFrame
    bigrams: DataFrame
    n_tokens: int


def _token_pairs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n, w1, w2) rows: one per token, w1 = previous token or
    NULL for the document's first token. arrays_zip over the token
    array and its 1-shifted view — plain array functions, NOT
    interpreted higher-order lambdas, so this stays in codegen."""
    toks = _words(F.col(text_col))
    base = (
        docs.filter(
            F.col(text_col).isNotNull() & ~_is_blank(F.col(text_col))
        )
        .select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    )
    n = F.size("__toks")
    ctx = F.concat(
        F.array(F.lit(None).cast("string")), F.slice("__toks", 1, n - 1)
    )
    return (
        base.select(
            "__id",
            n.alias("n"),
            F.explode(F.arrays_zip(ctx.alias("w1"), F.col("__toks").alias("w2"))).alias("p"),
        )
        .select("__id", "n", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )


def train_word_lm(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
) -> WordLM:
    """Count unigrams and bigrams over ``docs`` and prune to a
    broadcastable model. ``min_count`` drops rare rows from BOTH
    tables (a bigram's count is <= either word's count, so one
    threshold keeps the tables consistent); ``max_vocab`` keeps the
    top-``max_vocab`` terms by (count desc, term asc — deterministic
    tie-break) and drops bigrams touching an evicted word."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    # training never groups by document — a constant id keeps
    # _token_pairs agnostic to the input's id column (or lack of one)
    pairs = _token_pairs(
        docs.select(F.lit(0).alias("__lmid"), text_col), "__lmid", text_col
    )
    # ONE corpus pass (r9, guide §2.3 "aggregate before you
    # shuffle"): the pre-r9 trainer counted unigrams and bigrams as
    # two independent explode+groupBy subtrees and left them LAZY, so
    # one train+score run re-tokenized the corpus ~4x (the n_tokens
    # action, then each model subtree again under the scoring job).
    # Unigram counts are exactly the column-sums of the (context,
    # token) count table — count(w) = sum over w1 of count(w1, w) +
    # first-token occurrences (w1 NULL rows) — so ONE groupBy(w1, w2)
    # shuffle feeds everything. The distinct-pair table (bounded by
    # distinct bigrams, far smaller than tokens) is persisted for the
    # two derivation jobs inside this call and released before
    # returning; the PRUNED model is collected and rebuilt as
    # Arrow-local frames, so scoring joins never re-run training
    # lineage. Measured at the 100k bench shape: train+score
    # 5.9 s -> ~3 s. Counts are exact integers either way — scores
    # are unchanged (lm_score oracle hash-green).
    full = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("count"))
    full = full.persist()
    try:
        n_tokens = full.agg(F.sum("count")).collect()[0][0] or 0
        uni = full.groupBy(F.col("w2").alias("term")).agg(
            F.sum("count").alias("count")
        )
        if min_count > 1:
            uni = uni.filter(F.col("count") >= min_count)
        if max_vocab is not None:
            # rank deterministically; at 100 TB prefer a raised
            # min_count (no global sort) — max_vocab exists for exact
            # budget caps and small models
            from pyspark.sql import Window

            w = Window.orderBy(F.col("count").desc(), F.col("term").asc())
            uni = (
                uni.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= max_vocab)
                .drop("__r")
            )
        big = full.filter(F.col("w1").isNotNull()).filter(
            F.col("count") >= min_count
        )
        if max_vocab is not None:
            vocab = uni.select(F.col("term"))
            big = (
                big.join(
                    F.broadcast(vocab.withColumnRenamed("term", "w1")),
                    "w1", "left_semi",
                )
                .join(
                    F.broadcast(vocab.withColumnRenamed("term", "w2")),
                    "w2", "left_semi",
                )
            )
        # the pruned model is broadcastable by contract — pin it as
        # Arrow-local relations (exact schemas; collect() rows, not
        # toPandas, so nullable longs can never round through float64)
        spark = docs.sparkSession
        uni_rows = [(r["term"], int(r["count"])) for r in uni.collect()]
        big_rows = [
            (r["w1"], r["w2"], int(r["count"])) for r in big.collect()
        ]
    finally:
        full.unpersist()
    import pandas as pd

    uni_local = spark.createDataFrame(
        pd.DataFrame(uni_rows, columns=["term", "count"])
        if uni_rows
        else pd.DataFrame({"term": pd.Series([], dtype=object),
                           "count": pd.Series([], dtype="int64")}),
        schema="term string, count long",
    )
    big_local = spark.createDataFrame(
        pd.DataFrame(big_rows, columns=["w1", "w2", "count"])
        if big_rows
        else pd.DataFrame({"w1": pd.Series([], dtype=object),
                           "w2": pd.Series([], dtype=object),
                           "count": pd.Series([], dtype="int64")}),
        schema="w1 string, w2 string, count long",
    )
    return WordLM(
        unigrams=uni_local, bigrams=big_local, n_tokens=int(n_tokens)
    )


def score_lm(
    docs: DataFrame,
    lm: WordLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = DEFAULT_ALPHA,
    score_col: str = "avg_logprob",
    round_to: int | None = None,
    broadcast_model: bool = True,
) -> DataFrame:
    """Score every document: (id_col, n_tokens, ``score_col``) with
    score = avg natural-log Stupid-Backoff score per token (higher =
    more like the training corpus; CCNet keeps the head/middle of
    this distribution). Blank docs get n_tokens 0 and NULL score.

    ``broadcast_model=True`` (default) collects the pruned model once
    and scores through TWO broadcast joins (bigram ratios precomputed
    driver-side, bit-identically) — correct whenever the model was
    pruned to fit (the normal case); pass False for an unpruned
    corpus-sized model to keep all three joins lazy and let AQE pick
    sort-merge joins instead."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if lm.n_tokens <= 0:
        raise ValueError("model has no training tokens")
    n = float(lm.n_tokens)
    pairs = _token_pairs(docs, id_col, text_col)
    if broadcast_model:
        # Pruned-model fast path (r9, guide §3.1): the model fits by
        # contract, so collect it once and precompute the bigram's
        # Stupid-Backoff ratio count(w1,w2)/count(w1) DRIVER-side —
        # float(b)/float(c) on exact ints is the bit-identical IEEE
        # division the old per-row JVM expression performed — turning
        # the scoring stream's THREE broadcast joins into TWO (the
        # context-count join disappears). A bigram whose context
        # word is absent from the unigram table (impossible for
        # train_word_lm models, possible for hand-built ones) emits
        # no ratio row, which reproduces the old NULL-context
        # backoff branch exactly.
        import pandas as _pd

        spark = docs.sparkSession
        cnt = {
            r["term"]: int(r["count"]) for r in lm.unigrams.collect()
        }
        big_rows = [
            (r["w1"], r["w2"], float(int(r["count"])) / float(cnt[r["w1"]]))
            for r in lm.bigrams.collect()
            if r["w1"] in cnt
        ]
        big = F.broadcast(
            spark.createDataFrame(
                _pd.DataFrame(
                    big_rows, columns=["__b_w1", "__b_w2", "__b_ratio"]
                )
                if big_rows
                else _pd.DataFrame(
                    {
                        "__b_w1": _pd.Series([], dtype=object),
                        "__b_w2": _pd.Series([], dtype=object),
                        "__b_ratio": _pd.Series([], dtype="float64"),
                    }
                ),
                schema="__b_w1 string, __b_w2 string, __b_ratio double",
            )
        )
        uni_word = F.broadcast(
            spark.createDataFrame(
                _pd.DataFrame(
                    [(t, c) for t, c in sorted(cnt.items())],
                    columns=["__w_term", "__w_cnt"],
                )
                if cnt
                else _pd.DataFrame(
                    {
                        "__w_term": _pd.Series([], dtype=object),
                        "__w_cnt": _pd.Series([], dtype="int64"),
                    }
                ),
                schema="__w_term string, __w_cnt long",
            )
        )
        joined = (
            pairs
            .join(
                big,
                (pairs["w1"] == big["__b_w1"])
                & (pairs["w2"] == big["__b_w2"]),
                "left",
            )
            .join(uni_word, pairs["w2"] == uni_word["__w_term"], "left")
        )
        s1 = F.coalesce(
            F.col("__w_cnt").cast("double") / F.lit(n), F.lit(alpha / n)
        )
        s = (
            F.when(F.col("w1").isNull(), s1)  # first token: no context
            .when(F.col("__b_ratio").isNotNull(), F.col("__b_ratio"))
            .otherwise(F.lit(alpha) * s1)
        )
    else:
        uni_ctx = lm.unigrams.select(
            F.col("term").alias("__c_term"), F.col("count").alias("__c_cnt"))
        uni_word = lm.unigrams.select(
            F.col("term").alias("__w_term"), F.col("count").alias("__w_cnt"))
        big = lm.bigrams.select(
            F.col("w1").alias("__b_w1"), F.col("w2").alias("__b_w2"),
            F.col("count").alias("__b_cnt"))

        joined = (
            pairs
            .join(big, (pairs["w1"] == big["__b_w1"]) & (pairs["w2"] == big["__b_w2"]), "left")
            .join(uni_ctx, pairs["w1"] == uni_ctx["__c_term"], "left")
            .join(uni_word, pairs["w2"] == uni_word["__w_term"], "left")
        )
        s1 = F.coalesce(
            F.col("__w_cnt").cast("double") / F.lit(n), F.lit(alpha / n)
        )
        s = (
            F.when(F.col("w1").isNull(), s1)  # first token: no context
            .when(
                F.col("__b_cnt").isNotNull() & F.col("__c_cnt").isNotNull(),
                F.col("__b_cnt").cast("double") / F.col("__c_cnt").cast("double"),
            )
            .otherwise(F.lit(alpha) * s1)
        )
    score = F.avg(F.log(s))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = joined.groupBy(F.col("__id").alias(id_col)).agg(
        F.first("n").cast("int").alias("n_tokens"),
        score.alias(score_col),
    )
    # blank docs never reach _token_pairs — reattach with NULL score
    blanks = (
        docs.filter(
            F.col(text_col).isNull() | _is_blank(F.col(text_col))
        )
        .select(
            F.col(id_col),
            F.lit(0).alias("n_tokens"),
            F.lit(None).cast("double").alias(score_col),
        )
    )
    return scored.unionByName(blanks)


def lm_buckets(
    scored: DataFrame,
    n_buckets: int = 3,
    score_col: str = "avg_logprob",
    bucket_col: str = "lm_bucket",
    relative_error: float = 0.001,
) -> DataFrame:
    """CCNet head/middle/tail bucketing WITHOUT a global sort: the
    bucket boundaries come from one approxQuantile pass (a tiny
    driver-side list), then bucketing is a map-side when-chain —
    ntile() would funnel 100 TB through a single-partition window.
    NULL scores (blank docs) get bucket NULL. Buckets are 0 = head
    (highest scores) .. n_buckets-1 = tail."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.filter(F.col(score_col).isNotNull()).approxQuantile(
        score_col, qs, relative_error
    )
    if not cuts:
        # approxQuantile over zero non-null scores returns [] (e.g.
        # an all-blank corpus) — the when-chain below would be None
        # and crash with an opaque AttributeError (ADVICE r8). Every
        # doc either has a NULL score (bucket NULL, like always) or
        # there are no rows at all, so a NULL bucket column is the
        # consistent answer.
        return scored.withColumn(
            bucket_col, F.lit(None).cast("int")
        )
    expr = None
    # cuts ascend; bucket 0 is the TOP tercile -> compare descending
    for i, cut in enumerate(reversed(cuts)):
        cond = F.col(score_col) >= F.lit(cut)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    expr = expr.otherwise(len(cuts))
    return scored.withColumn(
        bucket_col,
        F.when(F.col(score_col).isNotNull(), expr).cast("int"),
    )

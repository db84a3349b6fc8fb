"""Text-analysis scalar functions for training-data pipelines:
language ID, quality scoring, token counting, fingerprinting.

Everything is a pure JVM column expression (whole-stage codegen, no
Python), so these run at scan speed over 100 TB — each is a narrow
map-side pass with no shuffle.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-language stopword sets for the heuristic language HINT. The
# sets are pairwise DISJOINT by construction (pinned by
# tests/test_dedup_text.py::test_stopword_sets_disjoint) so every hit
# is discriminative: shared Romance/Germanic function words that
# would vote for two languages (de/que/como/este/mais, …) are
# deliberately ABSENT from all lists — including words that are a
# top-frequency function word in a covered language NOT listing them
# (fr 'mais' was in the pt list until r8; it 'come' collides with the
# common English verb; es 'dos' with the common Spanish number —
# audited out, ADVICE r7). This keeps precision high at the cost of
# recall — see lang_id's docstring for the accuracy contract.
STOPWORDS = {
    "en": ["the", "and", "is", "of", "to", "in", "that", "it", "for",
           "with", "was", "this", "from", "not", "are", "they",
           "have", "you"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit",
           "auch", "eine", "sich", "auf", "dem", "wird", "von", "zu",
           "sind", "werden"],
    "fr": ["le", "la", "les", "et", "est", "une", "pas", "pour",
           "dans", "qui", "sur", "avec", "sont", "nous", "vous",
           "cette", "aux", "ces"],
    "es": ["el", "los", "las", "es", "una", "para", "con", "por",
           "del", "pero", "más", "muy", "cuando", "sus", "hay",
           "también", "donde", "tiene"],
    "pt": ["não", "uma", "são", "também", "você", "isso", "pelo",
           "já", "em", "estão", "sua", "foi", "ele", "muito", "seu",
           "até"],
    "it": ["il", "di", "che", "non", "per", "sono", "della", "anche",
           "gli", "più", "nel", "alla", "questo", "nella", "molto",
           "essere"],
    "nl": ["het", "een", "niet", "zijn", "voor", "maar", "ook",
           "naar", "wordt", "heeft", "deze", "geen", "bij", "uit",
           "aan"],
    "sv": ["och", "att", "är", "som", "inte", "ett", "på", "med",
           "för", "har", "detta", "vid", "också"],
}


def _is_blank(col: Column) -> Column:
    """True for empty or all-whitespace text. F.trim strips ASCII
    SPACE only, so a length(trim(col)) check misses tab/newline-only
    docs (real in scraped corpora) — the regex check does not."""
    return col.rlike(r"^\s*$")


def _words(col: Column) -> Column:
    # strip ALL leading/trailing whitespace before splitting: F.trim
    # removes only 0x20, and Spark's split keeps leading/trailing
    # empty strings, so '\tfoo bar\n' would otherwise tokenize as
    # ['', 'foo', 'bar', ''] and poison counts, n-grams, and chunks
    return F.split(
        F.regexp_replace(F.lower(col), r"^\s+|\s+$", ""), r"\s+"
    )


def lang_hits(col: Column, lang: str) -> Column:
    """Count of words from ``lang``'s stopword list."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(
        F.filter(_words(col), lambda w: F.array_contains(sw, w))
    )


def lang_id(col: Column) -> Column:
    """Best-scoring language code over the STOPWORDS families
    (currently en/de/fr/es/pt/it/nl/sv), 'und' when nothing hits.

    ACCURACY CONTRACT — this is a stopword-hit HINT, not a language
    model: it is precise when it answers (the lists are pairwise
    disjoint, so a vote is discriminative; 100% on the labeled
    sentence sample in tests/test_dedup_text.py::
    test_lang_id_labeled_sample) but has limited recall — text
    without any listed function word returns 'und', short or
    code-mixed text can mislabel, and unlisted languages are
    unscored. For production language ID use a trained classifier
    (fastText-class); this exists so 100 TB pipelines get a
    zero-dependency scan-speed JVM expression. ``lang_hint`` is the
    honestly-named alias. Ties break toward the lexicographically
    larger code (array_max over (hits, lang) structs)."""
    langs = sorted(STOPWORDS)
    pairs = F.array(
        *[
            F.struct(
                lang_hits(col, lg).alias("hits"), F.lit(lg).alias("lang")
            )
            for lg in langs
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


# honestly-named alias: what lang_id computes is a hint (see its
# accuracy contract), and pipelines should read it as one
lang_hint = lang_id


def token_count_ws(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    return F.when(_is_blank(col), F.lit(0)).otherwise(
        F.size(_words(col))
    )


def token_count_bpe_ish(col: Column) -> Column:
    """BPE-ish subword count: runs of letters, digits, or single
    punctuation — a cheap proxy for tokenizer cost accounting."""
    return F.size(
        F.regexp_extract_all(
            F.lower(col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    )


def punct_ratio(col: Column) -> Column:
    nonspace = F.length(F.regexp_replace(col, r"\s+", ""))
    punct = F.length(
        F.regexp_replace(col, r"[A-Za-z0-9\s]+", "")
    )
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    n = token_count_ws(col)
    return F.when(n > 0, lang_hits(col, lang) / n).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0, 1]: length band + low punctuation +
    healthy stopword presence. A composable example, not a model."""
    n = token_count_ws(col).cast("double")
    len_component = F.least(n / F.lit(20.0), F.lit(1.0)) * F.when(
        n > 2000, F.lit(0.5)
    ).otherwise(F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(
        punct_ratio(col) * 2.0, F.lit(1.0)
    )
    sw_component = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return (
        len_component * 0.4 + punct_component * 0.3 + sw_component * 0.3
    )


def _lines(col: Column) -> Column:
    """Non-blank trimmed lines (newline-split)."""
    return F.filter(
        F.transform(F.split(col, r"\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0,
    )


def line_count(col: Column) -> Column:
    """Number of non-blank lines."""
    return F.size(_lines(col))


def duplicate_line_fraction(col: Column) -> Column:
    """Fraction of non-blank lines that are repeats of an earlier
    line (Gopher-style repetition signal, Rae et al. 2021 §A1.1):
    ``(n_lines - n_distinct_lines) / n_lines``, 0.0 for line-less
    text. Pure JVM expression — scan-speed, no shuffle."""
    lines = _lines(col)
    n = F.size(lines)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(lines))) / n
    ).otherwise(F.lit(0.0))


def word_ngrams(col: Column, n: int) -> Column:
    """Array of word ``n``-grams (space-joined, lowercased,
    whitespace-tokenized); empty array when the text has fewer than
    ``n`` words. ``n`` must be >= 1. Pure JVM expression."""
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = _words(col)
    # F.slice(toks, 1, 0) is a typed empty array<string>.
    empty = F.slice(toks, 1, 0)
    # Build grams by zipping n shifted views of the token array.
    # The obvious transform(sequence(1, G), i -> array_join(slice(
    # toks, i, n))) is QUADRATIC: higher-order functions are
    # interpreted (CodegenFallback), so the lambda body — which
    # closes over the full split(trim(lower(text))) subtree — would
    # re-tokenize the document once PER GRAM (measured 10s/20k docs
    # at 125 words avg vs 0.5s for this form). zip_with lambdas only
    # touch their bound element variables, so the token array is
    # evaluated O(n) times per document, never per gram.
    m = F.size(toks) - (n - 1)  # gram count (>=1 inside the guard)
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return (
        F.when(_is_blank(col), empty)
        .when(F.size(toks) >= n, grams)
        .otherwise(empty)
    )


# Cost model for the n-gram metrics (interpreted higher-order
# expressions: no subexpression reuse, per-element lambda cost grows
# with accumulator width — all variants measured at 20k docs):
# native size/array_distinct are the cheapest way to COUNT; a fold is
# only worth it when a single expression needs several quantities
# (fractions), and then the final scalar must be built inside the
# aggregate's finish lambda where accumulator references are BOUND
# variables — getField on the fold's struct from outside would
# re-evaluate the whole gram chain per reference.
#
# r9: the COUNTING metrics (total/distinct/top and the fractions
# built from them) moved off the interpreted JVM folds entirely, onto
# one Arrow-vectorized pandas UDF per n (guide §4.2 — batch-native
# beats interpreted expression chains): per Arrow batch, tokens
# factorize once and every per-doc quantity falls out of one lexsort
# over (doc, gram-code...) rows — no per-gram string allocation, no
# per-element interpreted lambda. Measured at 100k synth docs:
# top_ngram_count(2) 1.91 s -> 0.86 s, duplicate_ngram_count(3)
# 1.74 s -> 0.93 s (noop-sink isolation; the residual is the Arrow
# text transfer + tokenize, which any implementation pays),
# integer-exact vs the Python Counter model (parity tests). word_ngrams
# itself stays a JVM expression — its consumers (decontam) want the
# gram ARRAYS, not counts.


def _gram_stats_batch(texts, n: int):
    """Vectorized (total, distinct, top) n-gram stats for one Arrow
    batch. Tokenization mirrors _words exactly: lowercase, strip
    leading/trailing whitespace (ASCII \\s, like Java), split on
    \\s+. Docs that are null return the null marker; blank docs and
    docs with fewer than n words count 0 everywhere (word_ngrams'
    empty-array branches).

    Java's ``$`` (in _words' strip and _is_blank's ``^\\s*$``) also
    matches before ONE final line terminator: LF, CR, CR LF, NEL,
    U+2028 or U+2029. The last three are not ASCII \\s, so whitespace
    before them is still stripped, and whitespace plus one of them is
    blank; Python's ``$`` knows only a final LF, hence ``eol`` below."""
    import re

    eol = r"(?:\r\n|[\n\r\x85\u2028\u2029])?\Z"
    ws_split = re.compile(r"\s+", re.ASCII)
    strip_re = re.compile(r"^\s+|\s+(?=" + eol + ")", re.ASCII)
    blank_re = re.compile(r"\s*" + eol, re.ASCII)
    n_docs = len(texts)
    total = np.zeros(n_docs, dtype=np.int64)
    distinct = np.zeros(n_docs, dtype=np.int64)
    top = np.zeros(n_docs, dtype=np.int64)
    isnull = np.zeros(n_docs, dtype=bool)
    toks_per_doc: list = []
    for j, t in enumerate(texts):
        if t is None or (isinstance(t, float) and pd.isna(t)):
            isnull[j] = True
            toks_per_doc.append(())
            continue
        t = str(t)
        if blank_re.match(t):
            toks_per_doc.append(())
            continue
        s = strip_re.sub("", t.lower())
        tk = ws_split.split(s)
        toks_per_doc.append(tk if len(tk) >= n else ())
    counts = np.fromiter(
        (len(x) for x in toks_per_doc), dtype=np.int64, count=n_docs
    )
    if not counts.any():
        return total, distinct, top, isnull
    flat = [w for tk in toks_per_doc for w in tk]
    codes = pd.factorize(np.asarray(flat, dtype=object))[0].astype(
        np.int64
    )
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    # valid gram start positions: pos_in_doc <= len(doc) - n
    pos_in_doc = np.arange(len(flat), dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(counts)[:-1])), counts
    )
    gi = np.flatnonzero(pos_in_doc <= np.repeat(counts, counts) - n)
    cols = [doc_idx[gi]] + [codes[gi + k] for k in range(n)]
    order = np.lexsort(tuple(reversed(cols)))
    sorted_cols = [c[order] for c in cols]
    new_grp = np.zeros(len(gi), dtype=bool)
    new_grp[0] = True
    for c in sorted_cols:
        new_grp[1:] |= c[1:] != c[:-1]
    grp_starts = np.flatnonzero(new_grp)
    grp_lens = np.diff(np.concatenate((grp_starts, [len(gi)])))
    grp_doc = sorted_cols[0][grp_starts]
    total = np.bincount(doc_idx[gi], minlength=n_docs)
    distinct = np.bincount(grp_doc, minlength=n_docs)
    doc_bounds = np.concatenate(
        ([0], np.flatnonzero(np.diff(grp_doc) != 0) + 1)
    )
    top[grp_doc[doc_bounds]] = np.maximum.reduceat(grp_lens, doc_bounds)
    return total, distinct, top, isnull


_GRAM_STATS_UDFS: dict = {}


def _gram_stats(col: Column, n: int) -> Column:
    """struct(total int, distinct int, top int) word-n-gram stats as
    ONE Arrow-vectorized UDF column (cached per n so identical call
    sites share the udf object)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType, StructField, StructType

    if n not in _GRAM_STATS_UDFS:
        schema = StructType(
            [
                StructField("total", IntegerType()),
                StructField("distinct", IntegerType()),
                StructField("top", IntegerType()),
            ]
        )

        def stats(texts):
            total, distinct, top, isnull = _gram_stats_batch(texts, n)
            out = pd.DataFrame(
                {
                    "total": pd.array(total, dtype="Int32"),
                    "distinct": pd.array(distinct, dtype="Int32"),
                    "top": pd.array(top, dtype="Int32"),
                }
            )
            if isnull.any():
                out.loc[isnull, :] = pd.NA
            return out

        _GRAM_STATS_UDFS[n] = pandas_udf(stats, schema)
    return _GRAM_STATS_UDFS[n](col)


def ngram_stats(col: Column, n: int) -> Column:
    """struct(total int, distinct int, top int) over the word
    n-grams of ``col`` (one Arrow-vectorized pass, see
    _gram_stats_batch)."""
    if n < 2:
        raise ValueError("n-gram statistics require n >= 2")
    return _gram_stats(col, n)


def duplicate_ngram_count(col: Column, n: int) -> Column:
    """Number of word n-gram occurrences beyond the first occurrence
    of each distinct gram: ``total - distinct``."""
    s = _gram_stats(col, n)
    return s["total"] - s["distinct"]


def duplicate_ngram_fraction(col: Column, n: int) -> Column:
    """Gopher-style duplicated-n-gram fraction:
    ``(total_ngrams - distinct_ngrams) / total_ngrams`` (0.0 when the
    text has no n-grams, NULL for null text — the fold semantics the
    r9 vectorized stats preserve; the division stays a JVM expression
    so float behavior is unchanged)."""
    if n < 2:
        raise ValueError("n-gram statistics require n >= 2")
    s = _gram_stats(col, n)
    return (
        F.when(s["total"] > 0, (s["total"] - s["distinct"]) / s["total"])
        .when(s["total"].isNotNull(), F.lit(0.0))
    )


def top_ngram_count(col: Column, n: int) -> Column:
    """Occurrence count of the single most frequent word n-gram
    (0 when the text has no n-grams)."""
    if n < 2:
        raise ValueError("n-gram statistics require n >= 2")
    return _gram_stats(col, n)["top"]


def top_ngram_fraction(col: Column, n: int) -> Column:
    """Gopher-style top-n-gram fraction: occurrences of the most
    frequent word n-gram over total n-grams (0.0 when none, NULL for
    null text)."""
    if n < 2:
        raise ValueError("n-gram statistics require n >= 2")
    s = _gram_stats(col, n)
    return (
        F.when(s["total"] > 0, s["top"] / s["total"])
        .when(s["total"].isNotNull(), F.lit(0.0))
    )


def fingerprint64(col: Column) -> Column:
    """Order-insensitive document fingerprint: xxhash64 over the
    sorted distinct word set — a rolling-hash-style signature that is
    stable under word reordering and duplication (useful as a cheap
    near-dup blocking key)."""
    return F.xxhash64(
        F.array_join(F.array_sort(F.array_distinct(_words(col))), " ")
    )


def fingerprint_hex(col: Column) -> Column:
    """Cross-engine variant (md5 hex) of the same normalized-word-set
    fingerprint, reproducible in DuckDB for oracle checks."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(_words(col))), " ")
    )


# PII patterns (redaction order matters: the phone pattern would
# otherwise swallow dotted IPs — emails first, then IPs, then phones).
# RE2 (DuckDB oracle) and Java (Spark) agree on these constructs for
# ASCII input: no lookaround, no backreferences, \b is ASCII.
#
# The phone pattern requires a phone SHAPE rather than any long
# digit/separator run (a naive [\d\s().-]{7,} destroys decimals,
# dates, and numeric tables, and spans newlines): either a
# parenthesized area code, or a +country prefix with >=2 separated
# groups, or exactly three 3-4 digit groups. Separators are
# space/dot/dash only — never \s, so a match cannot cross lines.
# Residual false positives (e.g. space-grouped long numerals like
# '141 592 653') are accepted; false negatives include 7-digit local
# forms ('555-0100'), which are not identifying on their own.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone",
     r"(?:(?:\+\d{1,3}[ .-]?)?\(\d{2,4}\)[ .-]?\d{2,4}"
     r"(?:[ .-]\d{2,4}){1,3}"
     r"|\+\d{1,3}(?:[ .-]\d{2,9}){2,4}"
     r"|\b\d{3}(?:[ .-]\d{3,4}){2})\b",
     "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Replace emails, IPv4 addresses, and phone-shaped digit runs
    with typed placeholders — the standard scrub pass before training
    on scraped text. Chained JVM regexp_replace: scan-speed, no
    Python, no shuffle."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> Column:
    """Struct of per-type PII match counts (email, ip, phone) —
    counted in redaction order on the progressively redacted text so
    the counts agree with what redact_pii actually replaces."""
    fields = []
    cur = col
    for name, pat, repl in PII_PATTERNS:
        fields.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("int")
            .alias(name)
        )
        cur = F.regexp_replace(cur, pat, repl)
    return F.struct(*fields)


def chunk_documents(
    df,
    max_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Split each document into consecutive <=max_tokens word chunks
    -> (id_col, chunk_idx int, n_tokens int, chunk_text) — the
    pre-packing stage for LLM training (pack_sequences bins the
    resulting pieces). Empty/blank docs yield zero chunks.

    One narrow pass, no shuffle, no Python. The token array is
    materialized in a projection BELOW the Generate (explode) so each
    chunk row slices an attribute — a transform lambda slicing the
    captured split(text) subtree would re-tokenize the document once
    per chunk (interpreted higher-order functions re-evaluate
    captured subtrees; the Generate boundary blocks CollapseProject
    from re-inlining the split).
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    toks = _words(F.col(text_col))
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        _is_blank(F.col(text_col)).alias("_blank"),
    )
    n_chunks = F.ceil(
        F.size("_toks") / F.lit(max_tokens)
    ).cast("int")
    idx_seq = F.when(
        F.col("_blank"), F.slice(F.array(F.lit(0)), 1, 0)
    ).otherwise(F.sequence(F.lit(0), n_chunks - 1))
    rows = base.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(idx_seq).alias("chunk_idx"),
    )
    piece = F.slice(
        F.col("_toks"), F.col("chunk_idx") * max_tokens + 1, max_tokens
    )
    return rows.select(
        id_col,
        "chunk_idx",
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


PACK_ROWS_PER_GROUP = 10_000_000


def packing_groups_for(
    n_docs: int, rows_per_group: int = PACK_ROWS_PER_GROUP
) -> int:
    """Scale rule for pack_sequences' n_groups: enough independent
    streams that each window partition sorts at most ~rows_per_group
    rows in its one task (10M rows of (id, int, int) ≈ a few hundred
    MB of sort working set — comfortably one executor task), floored
    at 64 so small corpora still parallelize across a cluster.
    64 is fine up to ~640M docs; at 10^12 docs this returns 100k
    streams."""
    import math as _math

    return max(64, _math.ceil(max(0, n_docs) / rows_per_group))


def pack_sequences(
    df,
    max_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_groups: Optional[int] = 64,
    counter: str = "ws",
):
    """Deterministic doc-level sequence packing for LLM-training
    pipelines: assign each document to a (pack_group, pack_bin) cell
    such that consecutive docs of a group fill ~max_tokens budgets.

    Design for scale: a single global greedy packer is inherently
    sequential, so docs are first salted into ``n_groups`` independent
    streams (pmod of the id — deterministic, reproducible), and within
    each stream a window cumulative-sum assigns
    ``bin = floor(tokens_before_me / max_tokens)`` over id order. Each
    stream's window is ONE task sorting ~corpus/n_groups rows, so
    n_groups is the scale knob: the default 64 is a single-task
    bottleneck past ~640M docs. Pass ``n_groups=None`` to derive it
    from a count via ``packing_groups_for`` (≤ ~10M rows per stream) —
    that mode costs one count job, and the chosen value is
    data-dependent, so pin n_groups explicitly when bit-stable output
    across growing corpora matters (the chosen value is always
    recoverable from the output as max(pack_group) + 1). Docs longer
    than max_tokens still get one bin (downstream chunking splits
    them). Token accounting: 'ws' (whitespace) or 'bpe' (subword
    proxy).

    -> (id_col, n_tokens int, pack_group int, pack_bin long,
        plus passthrough of text_col is intentionally dropped).
    """
    from pyspark.sql import Window

    if n_groups is None:
        n_groups = packing_groups_for(df.count())
    count_fn = token_count_ws if counter == "ws" else token_count_bpe_ish
    base = df.select(
        F.col(id_col),
        count_fn(F.col(text_col)).cast("int").alias("n_tokens"),
        F.pmod(F.col(id_col), F.lit(n_groups)).cast("int").alias(
            "pack_group"
        ),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        id_col,
        "n_tokens",
        "pack_group",
        F.floor(cum_before / F.lit(max_tokens)).alias("pack_bin"),
    )
